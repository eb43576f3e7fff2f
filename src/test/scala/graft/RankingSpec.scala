package graft

import graft.model.Fixtures
import graft.operators.{Aggs, ImageOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two ranking primitives behind percentiles, histograms, packPlan,
  * bucketBatches, the stratified samples and the tile cap: the ordered scan
  * against a sequential oracle at several input partitionings, and every
  * ranking operator on an empty input. Self-contained (generated inputs). */
class RankingSpec extends SparkSuite {
  import spark.implicits._

  // (id, group, order key, weight); every 17th key null, groups 0..4
  private val rows: Seq[(Long, Int, Option[Double], Long)] = (0L until 600L).map { i =>
    val h = Fixtures.splitmix64(i)
    (i, ((h >>> 8) % 5).toInt,
      if (i % 17 == 0) None else Some(((h >>> 20) % 50).toDouble),
      (h >>> 40) % 9)
  }
  private def input(parts: Int): DataFrame =
    rows.toDF("id", "g", "v", "w").repartition(parts)

  /** Sequential oracle: per group, rows sorted by `lt`, 0-based rank, the
    * exclusive weighted running sum, and the group totals. */
  private def oracle(group: ((Long, Int, Option[Double], Long)) => Any,
                     weight: ((Long, Int, Option[Double], Long)) => Long,
                     lt: ((Long, Int, Option[Double], Long),
                          (Long, Int, Option[Double], Long)) => Boolean)
      : Map[Long, (Long, Long, Long, Long)] =
    rows.groupBy(group).values.flatMap { rs =>
      val sorted = rs.sortWith(lt)
      val tw = rs.map(weight).sum
      val cums = sorted.map(weight).scanLeft(0L)(_ + _)
      sorted.zipWithIndex.map { case (r, i) =>
        r._1 -> ((i.toLong, cums(i), rs.size.toLong, tw))
      }
    }.toMap

  private def scanned(df: DataFrame): Map[Long, (Long, Long, Long, Long)] =
    df.select("id", "rank", "cum_before", "group_rows", "group_weight").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

  // ascending with nulls first, then id
  private def nullsFirst(a: (Long, Int, Option[Double], Long),
                         b: (Long, Int, Option[Double], Long)): Boolean =
    (a._3, b._3) match {
      case (None, Some(_)) => true
      case (Some(_), None) => false
      case (Some(x), Some(y)) if x != y => x < y
      case _ => a._1 < b._1
    }

  test("orderedScan: grouped, weight 1, equals the sequential rank at any partitioning") {
    val expected = oracle(_._2, _ => 1L, nullsFirst)
    for (parts <- Seq(1, 7, 64)) {
      val got = scanned(Aggs.orderedScan(input(parts), Seq("g"),
        Seq(col("v"), col("id")), lit(1L)))
      assert(got == expected, s"mismatch at input partitions=$parts")
    }
  }

  test("orderedScan: ungrouped weighted running sum; null order keys rank first") {
    val expected = oracle(_ => (), _._4, nullsFirst)
    for (parts <- Seq(1, 7, 64)) {
      val out = Aggs.orderedScan(input(parts), Nil, Seq(col("v"), col("id")), col("w"))
      assert(out.columns.toSeq == Seq("id", "g", "v", "w",
        "rank", "cum_before", "group_rows", "group_weight"))
      val got = scanned(out)
      assert(got == expected, s"mismatch at input partitions=$parts")
    }
    // the first ranks are exactly the null-keyed rows (percentiles relies on it)
    val nulls = rows.count(_._3.isEmpty).toLong
    val firstRanked = expected.filter(_._2._1 < nulls).keySet
    assert(firstRanked == rows.filter(_._3.isEmpty).map(_._1).toSet)
  }

  test("orderedScan: descending order (nulls last), grouped and weighted") {
    def desc(a: (Long, Int, Option[Double], Long), b: (Long, Int, Option[Double], Long)) =
      (a._3, b._3) match {
        case (None, Some(_)) => false
        case (Some(_), None) => true
        case (Some(x), Some(y)) if x != y => x > y
        case _ => a._1 < b._1
      }
    val expected = oracle(_._2, _._4, desc)
    for (parts <- Seq(1, 7, 64)) {
      val got = scanned(Aggs.orderedScan(input(parts), Seq("g"),
        Seq(col("v").desc, col("id")), col("w")))
      assert(got == expected, s"mismatch at input partitions=$parts")
    }
  }

  test("empty inputs: every ranking operator returns an empty frame") {
    val vals = Seq.empty[(Long, Double, String)].toDF("id", "v", "lang")
    val docs = Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")
    val images = Seq.empty[(Long, Int, Int)].toDF("image_id", "w", "h")
    val outs = Seq(
      "orderedScan" -> Aggs.orderedScan(vals, Seq("lang"), Seq(col("v")), lit(1L)),
      "percentiles" -> Aggs.percentiles(vals, "v"),
      "histogramUniform" -> Aggs.histogramUniform(vals, "v"),
      "histogramCategorical" -> Aggs.histogramCategorical(vals, "lang"),
      "packPlan" -> TextOps.packPlan(docs, "doc_id", "n_tokens", 64),
      "bucketBatches" -> ImageOps.bucketBatches(images, batchSize = 16),
      "stratifiedSample" -> TextOps.stratifiedSample(vals, "lang", "id", 3))
    outs.foreach { case (name, df) =>
      assert(df.collect().isEmpty, s"$name returned rows on an empty input")
    }
  }
}
