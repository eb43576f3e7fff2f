package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.Fixtures
import graft.operators.SpatialJoins

/**
 * One clean-JVM measurement of the flagship job (spatial join + tile
 * assignment over the image table) at a given parallelism. Spawned as a
 * subprocess per parallelism level so JIT/codegen warmup cannot leak between
 * levels (in-JVM cross-session comparisons are biased toward later sessions).
 *
 * args: cores rows; prints "RESULT cores rows seconds outRows".
 */
object ScaleRunner {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val rows = args(1).toLong
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // polygon side is an index/build-time artifact — computed once, not per
    // measured query. 200 seeded polygons: a realistic feature-table side
    // (the 6-polygon fixture is for oracle tests).
    val polygons = Fixtures.benchPolygons(spark,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_POLYS", "200").toInt).cache()

    val mode = if (args.length > 2) args(2) else "all"
    def flagship(n: Long): Long = {
      val images = Fixtures.imagesMeta(spark, n, cores * 4)
      lazy val pip = SpatialJoins.pointInPolygonJoin(images, polygons)
      lazy val tiles = SpatialJoins.tileAssignment(
        Fixtures.imagesMeta(spark, n, cores * 4), 14)
        .groupBy("tile_xx", "tile_yy").agg(count(lit(1)))
      mode match {
        case "pip" => pip.count()
        case "pipn" => // single-level plan: one join key per probe row
          SpatialJoins.pointInPolygonJoin(images, polygons,
            normalizeLevel = Some(sys.env.getOrElse("SPARK_GRAFT_NORM_LEVEL", "13").toInt)).count()
        case "tiles" => tiles.count()
        case "gen" => images.agg(count(when(col("cell16") % 7 === 0, 1))).collect()(0).getLong(0)
        case "split" => pip.count() + tiles.count()
        case _ =>
          // fused flagship: one scan computes the tile assignment AND probes
          // the polygon join, aggregating (tile, polygon) incidence — the
          // "spatial-join + tile-assignment" pipeline as a single job
          val withTiles = SpatialJoins.tileAssignment(images, 14)
          val joined = SpatialJoins.pointInPolygonJoin(withTiles, polygons)
          joined.groupBy(col("tile_xx"), col("tile_yy"), col("poly_id"))
            .agg(count(lit(1)).as("n"))
            .agg(sum("n"), count(lit(1))).collect()(0).getLong(0)
      }
    }

    // warm JIT + codegen on the same shapes
    flagship(math.max(rows / 20, 100000L))
    flagship(math.max(rows / 20, 100000L))
    var out = 0L
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      out = flagship(rows)
      (System.nanoTime() - t0) / 1e9
    }.min
    println(s"RESULT $cores $rows $secs $out")
    spark.stop()
  }
}
