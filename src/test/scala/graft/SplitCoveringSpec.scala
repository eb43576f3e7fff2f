package graft

import graft.core.{Cells, GeoOps}
import graft.functions.CellExprs._
import graft.operators.SpatialJoins
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory

/** The interior/boundary covering split (`cell_split_covering`) and the
  * point-in-polygon join built on it, against JTS brute force. Needs no
  * outside files: every geometry and point is generated here. */
class SplitCoveringSpec extends SparkSuite {

  /** Seeded convex and star rings over central London, a polygon with a
    * hole, a multipolygon and a LineString. */
  lazy val geoms: Seq[(Long, Geometry)] = {
    val rnd = new java.util.SplittableRandom(7)
    val rings = (0 until 12).map { i =>
      val star = i % 2 == 1
      val k = if (star) 6 + 2 * (i % 3) else 5 + i % 4
      val cLat = 51.48 + rnd.nextDouble() * 0.12
      val cLng = -0.2 + rnd.nextDouble() * 0.14
      val rLat = (0.2 + rnd.nextDouble() * 1.2) / 111.19
      val rLng = rLat / math.cos(math.toRadians(cLat))
      val phase = rnd.nextDouble() * 2 * math.Pi
      val ring = (0 until k).map { j =>
        val a = phase + 2 * math.Pi * j / k
        val r = if (star && j % 2 == 1) 0.45 else 1.0
        new Coordinate(cLng + r * rLng * math.cos(a), cLat + r * rLat * math.sin(a))
      }
      i.toLong -> (GeoOps.factory.createPolygon((ring :+ ring.head).toArray): Geometry)
    }
    rings ++ Seq(
      100L -> GeoOps.fromWkt("POLYGON ((-0.15 51.50, -0.11 51.50, -0.11 51.53, -0.15 51.53, -0.15 51.50), " +
        "(-0.14 51.51, -0.12 51.51, -0.12 51.52, -0.14 51.52, -0.14 51.51))"),
      101L -> GeoOps.fromWkt("MULTIPOLYGON (((-0.09 51.47, -0.07 51.47, -0.07 51.49, -0.09 51.49, -0.09 51.47)), " +
        "((-0.20 51.57, -0.18 51.57, -0.18 51.59, -0.20 51.59, -0.20 51.57)))"),
      102L -> GeoOps.fromWkt("LINESTRING (-0.19 51.49, -0.13 51.55, -0.06 51.52)"))
  }

  val lineId = 102L

  def table(rows: Seq[(Long, Geometry)]): DataFrame = {
    import spark.implicits._
    install(spark)
    rows.map { case (id, g) => (id, GeoOps.toWkb(g)) }.toDF("poly_id", "geom")
      .withColumn("covering", cell_covering(col("geom"), lit(16), lit(5)))
  }

  /** poly_id -> (input covering, split cells), the split evaluated by the
    * Spark expression after a shuffle, so in generated code. */
  lazy val splits: Map[Long, (Seq[Long], Seq[(Long, Boolean)])] =
    table(geoms).repartition(2)
      .select(col("poly_id"), col("covering"), cell_split_covering(col("geom"), col("covering")))
      .collect().map { r =>
        r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Row](2).map(s => (s.getLong(0), s.getBoolean(1))))
      }.toMap

  test("split cells are disjoint, inside the input covering, at level <= 16, <= 64 per geometry") {
    assert(splits.keySet == geoms.map(_._1).toSet)
    geoms.foreach { case (id, g) =>
      val (cover, split) = splits(id)
      assert(split == GeoOps.splitCovering(g, cover.toArray).toSeq, s"$id: expression != GeoOps")
      val cells = split.map(_._1)
      assert(cells.nonEmpty && cells.length <= GeoOps.SplitMaxCells, s"$id: ${cells.length} cells")
      cells.foreach(c => assert(Cells.level(c) <= GeoOps.SplitMaxLevel, s"$id: cell $c too fine"))
      for (a <- cells; b <- cells if a != b)
        assert(!Cells.contains(a, b), s"$id: split cells $a and $b overlap")
      assert(cells.distinct.length == cells.length, s"$id: repeated cell")
      cells.foreach(c => assert(cover.exists(Cells.contains(_, c)), s"$id: $c outside the covering"))
    }
  }

  test("interior cells are covered at corners, edge midpoints and centre; non-areal rows are all boundary") {
    geoms.foreach { case (id, g) =>
      splits(id)._2.collect { case (c, true) => c }.foreach { c =>
        val xs = Seq(Cells.lngLo(c), Cells.centerLng(c), Cells.lngHi(c))
        val ys = Seq(Cells.latLo(c), Cells.centerLat(c), Cells.latHi(c))
        for (x <- xs; y <- ys)
          assert(g.covers(GeoOps.point(y, x)), s"$id: interior cell $c misses ($y, $x)")
      }
    }
    val (lineCover, lineSplit) = splits(lineId)
    assert(lineSplit == lineCover.sorted.map(_ -> false))
    // the split did work: interior cells exist and the 5-cell coverings
    // were refined into more cells
    val all = splits.values.flatMap(_._2).toSeq
    assert(all.count(_._2) > geoms.length, s"${all.count(_._2)} interior cells")
    assert(all.length > splits.values.map(_._1.length).sum)
  }

  test("pointInPolygonJoin matches brute-force JTS covers on split-cell edges, vertices and uniform points") {
    import spark.implicits._
    val onCells = splits.values.flatMap(_._2).flatMap { case (c, _) =>
      for (x <- Seq(Cells.lngLo(c), Cells.centerLng(c), Cells.lngHi(c));
           y <- Seq(Cells.latLo(c), Cells.centerLat(c), Cells.latHi(c))) yield (y, x)
    }
    val onGeoms = geoms.flatMap { case (_, g) =>
      val cs = g.getCoordinates.toSeq
      cs.map(c => (c.y, c.x)) ++ cs.zip(cs.tail).map { case (a, b) => ((a.y + b.y) / 2, (a.x + b.x) / 2) }
    }
    val rnd = new java.util.SplittableRandom(11)
    val uniform = Seq.fill(4000)((51.46 + rnd.nextDouble() * 0.17, -0.21 + rnd.nextDouble() * 0.158))
    val pts = (onCells ++ onGeoms ++ uniform).toSeq.distinct.zipWithIndex
      .map { case ((lat, lng), i) => (i.toLong, lat, lng) }
    val points = pts.toDF("point_id", "lat", "lng")
      .withColumn("cell16", cell_of(col("lat"), col("lng"), lit(16)))

    val got = SpatialJoins.pointInPolygonJoin(points, table(geoms))
      .select("point_id", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.length == got.distinct.length, "duplicate (point, polygon) pairs")
    val prepared = geoms.map { case (id, g) => (id, PreparedGeometryFactory.prepare(g)) }
    val want = (for {
      (pid, lat, lng) <- pts
      (id, pg) <- prepared
      if pg.covers(GeoOps.point(lat, lng))
    } yield (pid, id)).toSet
    val gotSet = got.toSet
    assert(gotSet == want, s"missing=${(want -- gotSet).take(5)} extra=${(gotSet -- want).take(5)}")
    assert(want.exists(_._2 == lineId), "no point on the LineString was tested")
  }

  test("an empty polygon table joins to an empty result with the usual columns") {
    import spark.implicits._
    val points = Seq((1L, 51.5, -0.1)).toDF("point_id", "lat", "lng")
      .withColumn("cell16", cell_of(col("lat"), col("lng"), lit(16)))
    val polys = table(Nil)
    val joined = SpatialJoins.pointInPolygonJoin(points, polys)
    assert(joined.columns.toSeq == points.columns.toSeq ++ polys.columns)
    assert(joined.collect().isEmpty)
  }
}
