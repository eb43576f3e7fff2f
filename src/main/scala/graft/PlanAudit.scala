package graft
import org.apache.spark.sql.SparkSession
import graft.model.Fixtures
import graft.operators.SpatialJoins

/** Prints formatted physical plans for the flagship + hot operators so scale
  * posture (pushdown, broadcast, codegen spans, no global funnels) is
  * inspectable — run ad hoc, not part of the driver contract. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]").appName("plans")
      .config("spark.sql.shuffle.partitions","8").config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    println("=== FLAGSHIP pointInPolygonJoin (imagesMeta x benchPolygons) ===")
    val polys = Fixtures.benchPolygons(spark, 200).cache(); polys.count()
    SpatialJoins.pointInPolygonJoin(Fixtures.imagesMeta(spark, 1000000, 32), polys)
      .select("image_id","poly_id").explain("formatted")
    println("=== sj_pip fixture join ===")
    SparkEntry.queries("sj_pip")(spark, d).explain("formatted")
    println("=== ag_percentiles ===")
    SparkEntry.queries("ag_percentiles")(spark, d).explain("formatted")
    println("=== parquet pushdown check: qa_keyrange ===")
    SparkEntry.queries("qa_keyrange")(spark, d).explain("formatted")
    println("=== mm_phash_neardup (banded hamming join: ids-only shuffle) ===")
    SparkEntry.queries("mm_phash_neardup")(spark, d).explain("formatted")
    println("=== td_dedup_clusters tail (one CC round's plan shape) ===")
    SparkEntry.queries("td_dedup_clusters")(spark, d).explain("formatted")
    spark.stop()
  }
}
