package graft

import graft.functions.CellExprs._
import graft.model.Fixtures
import graft.operators.SpatialJoins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Refine-fraction evidence for the interior/boundary split: on the fixture
  * polygons, candidates are counted through the public cell functions for
  * the raw covering (every candidate refined) and for the split covering
  * (only boundary candidates refined). Needs no outside files. */
class InteriorRefineSpec extends SparkSuite {

  test("boundary candidates are fewer than raw candidates, interior candidates are all hits, hits equal") {
    install(spark)
    val polys = Fixtures.polygons(spark, includeConcave = true)
    // seeded points over the fixture bbox, 30 % in the hot cluster of polygon 1
    val points = spark.range(0, 200000, 1, 4)
      .select(col("id").as("point_id"), xxhash64(col("id")).as("h"))
      .withColumn("lat", expr("CASE WHEN pmod(h, 10) < 3 THEN 51.5353 + CAST(pmod(h DIV 16, 97) AS DOUBLE) * 0.0000011 " +
        "ELSE 51.46 + CAST(pmod(h DIV 16, 1000003) AS DOUBLE) / 1000003.0 * 0.17 END"))
      .withColumn("lng", expr("CASE WHEN pmod(h, 10) < 3 THEN -0.1258 + CAST(pmod(h DIV 2048, 89) AS DOUBLE) * 0.0000013 " +
        "ELSE -0.21 + CAST(pmod(h DIV 2048, 999983) AS DOUBLE) / 999983.0 * 0.158 END"))
      .withColumn("cell16", cell_of(col("lat"), col("lng"), lit(16)))
      .drop("h")
    val covers = wkb_covers_point(col("geom"), col("lat"), col("lng"))

    def candidates(cells: DataFrame): DataFrame = {
      val levels = cells.select(cell_level(col("jc"))).distinct().collect().map(_.getInt(0)).sorted.toSeq
      points.select(col("lat"), col("lng"),
          explode(array(levels.map(l => cell_parent_at(col("cell16"), lit(l))): _*)).as("jc"))
        .join(cells, "jc")
    }
    val raw = candidates(polys.select(col("geom"), explode(col("covering")).as("jc")))
      .agg(count(lit(1)), count(when(covers, 1))).head()
    val (rawCandidates, rawHits) = (raw.getLong(0), raw.getLong(1))
    val split = candidates(polys
        .select(col("geom"), explode(cell_split_covering(col("geom"), col("covering"))).as("s"))
        .select(col("geom"), col("s.cell").as("jc"), col("s.interior").as("interior")))
      .agg(count(when(col("interior"), 1)), count(when(!col("interior"), 1)),
        count(when(col("interior") && !covers, 1)), count(when(!col("interior") && covers, 1)))
      .head()
    val (interior, boundary, interiorMisses, boundaryHits) =
      (split.getLong(0), split.getLong(1), split.getLong(2), split.getLong(3))
    val joinHits = SpatialJoins.pointInPolygonJoin(points, polys).count()
    info(s"raw: $rawCandidates candidates refined, $rawHits hits; split: $interior interior " +
      s"candidates, $boundary boundary candidates refined, $boundaryHits boundary hits; join: $joinHits hits")

    assert(interiorMisses == 0)
    assert(boundary < rawCandidates)
    assert(interior + boundaryHits == rawHits)
    assert(joinHits == rawHits && rawHits > 0)
  }
}
