package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * Every `SparkEntry.queries` entry, once each, in one session, in an order
 * the seed permutes, taken in that order by one client thread per core.
 * Each query's rows go to a parquet sink under the work directory; `run.py` compares them with the DuckDB oracles' rows after
 * the JVM exits, outside the timed region. The tables are fixed for a
 * checkout, so the oracle rows are computed once ([[writeOracles]] writes
 * the statements, static and data-dependent, for that).
 */
object Inventory {

  def family(query: String): String = query.takeWhile(_ != '_')

  /** Run, untimed and to a noop sink, before every pass: the same queries
    * whatever the seed, so the JVM's warm-up (class loading, JIT, codegen)
    * is not charged to whichever queries the seed puts first. */
  val Warmup: Seq[String] = Seq("qa_tagged", "qa_intersects_cap", "sj_tile", "sj_pip",
    "gr_degree", "pt_points", "st_sessions", "geo_scalar")

  /** Operator families by query-name prefix. */
  val Families: Seq[String] =
    Seq("qa", "sj", "ag", "co", "td", "mm", "ann", "gr", "rd", "sl", "st", "sh", "w", "geo", "el", "pt", "rel")

  def sf(o: Opts): String = if (o.tiny) "0.001" else "0.01"

  val Tables: Seq[String] = Seq("orders", "lineitem", "events", "documents", "embeddings",
    "customer", "nation", "region", "part", "supplier")

  /** Oracle statements for the checkout's tables, to `<work>/oracle_sql.json`. */
  def writeOracles(spark: SparkSession, o: Opts): Outcome = {
    val oracles = SparkEntry.oracleSql ++ SparkEntry.oracleSqlDynamic(spark, o.tablesDir(sf(o)))
    Files.writeString(o.work.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
    Outcome(Nil, oracles.size.toLong, Nil)
  }

  /** Set-up: every input table opened through the engine's session (file
    * listing and parquet footers; the queries read the rows themselves). */
  def load(spark: SparkSession, dir: String): Int = {
    graft.functions.CellExprs.install(spark)
    Tables.map(t => spark.read.parquet(s"$dir/$t.parquet").schema.size).sum
  }

  def run(spark: SparkSession, o: Opts, tracer: Tracer): Outcome = {
    val dir = o.tablesDir(sf(o))
    val setups = (0 until (if (o.trace) 1 else 3)).map(_ => Stats.timed(load(spark, dir))._2)
    val out = o.work.resolve("inventory_out")
    val rng = new scala.util.Random(o.seed)
    val order = rng.shuffle(SparkEntry.queries.keys.toSeq.sorted)
    val counters = if (o.trace) Some(new SparkCounters(spark)) else None

    val times = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val clients = o.cores
    def runQuery(name: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.mode("overwrite").parquet(out.resolve(name).toString)
    def client(): Unit = {
      var i = next.getAndIncrement()
      while (i < order.size) {
        val name = order(i)
        val tag = family(name)
        spark.sparkContext.addJobTag(s"pb:$tag")
        try {
          val (_, s) = Stats.timed(tracer.span(s"query:$name")(runQuery(name)))
          times.add(name -> s)
        } catch {
          case e: Throwable => failures.add(s"$name: ${e.toString.take(200)}")
        } finally spark.sparkContext.removeJobTag(s"pb:$tag")
        i = next.getAndIncrement()
      }
    }
    Warmup.grouped(clients).foreach { batch =>
      val ts = batch.map(q => new Thread(() =>
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    counters.foreach(_.attach())
    val (_, passS) = Stats.timed {
      val ts = (0 until clients).map(_ => new Thread(() => client()))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    val snap = counters.map { c => val s = c.snapshot(); c.detach(); s }
    val storage = spark.sparkContext.getRDDStorageInfo
    val pinnedMb = storage.map(r => r.memSize + r.diskSize).sum / 1e6

    val t = times.asScala.toSeq
    val ms = t.map(_._2 * 1000)
    val (tail, tailPct) = Stats.tail(ms)
    val metrics = counters match {
      case None => Seq(
        Metric("setup_s", Stats.median(setups), "s"),
        Metric("throughput_per_s", t.size / passS, "1/s"),
        Metric("p50_ms", Stats.median(ms), "ms"),
        Metric("tail_ms", tail, "ms"))
      case Some(c) =>
        val all = c.total(snap.get)
        // tracing overhead: the four fastest queries of the pass again, each
        // twice untraced and twice traced, alternating
        val probe = t.sortBy(_._2).take(4).map(_._1)
        val deltas = probe.map { q =>
          def once(traced: Boolean): Double = {
            tracer.enabled = traced
            if (traced) c.attach()
            val (_, s) = Stats.timed(tracer.span(s"probe:$q")(runQuery(q)))
            if (traced) c.detach()
            s * 1000
          }
          val runs = (0 until 2).flatMap(_ => Seq(false -> once(false), true -> once(true)))
          Stats.median(runs.filter(_._1).map(_._2)) - Stats.median(runs.filterNot(_._1).map(_._2))
        }
        tracer.enabled = true
        Seq(
          Metric("inventory.trace_overhead_ms", Stats.median(deltas), "ms"),
          Metric("inventory.p50_ms", Stats.median(ms), "ms"),
          Metric("inventory.pass_s", passS, "s"),
          Metric("inventory.pinned_mb", pinnedMb, "MB"),
          Metric("inventory.pinned_rdds", storage.length.toDouble, "count"),
          Metric("inventory.jobs", all.jobs.toDouble, "count"),
          Metric("inventory.stages", all.stages.toDouble, "count"),
          Metric("inventory.task_s", all.taskMs / 1e3, "s"),
          Metric("inventory.plan_ms", all.planMs, "ms"),
          Metric("inventory.exec_s", all.execMs / 1e3, "s"),
          Metric("inventory.shuffle_write_mb", all.shuffleWriteBytes / 1e6, "MB"),
          Metric("inventory.spill_mb", all.spillBytes / 1e6, "MB")) ++
          Families.flatMap { f =>
            val ft = c.total(snap.get, _ == f)
            Seq(
              Metric(s"inventory.$f.s", t.filter(q => family(q._1) == f).map(_._2).sum, "s"),
              Metric(s"inventory.$f.jobs", ft.jobs.toDouble, "count"),
              Metric(s"inventory.$f.task_s", ft.taskMs / 1e3, "s"),
              Metric(s"inventory.$f.shuffle_mb", ft.shuffleWriteBytes / 1e6, "MB"))
          }
    }
    Outcome(metrics, order.size.toLong, failures.asScala.toSeq,
      Seq("inventory_s" -> f"$passS%.3f", "pinned_mb" -> f"$pinnedMb%.3f",
        "tail_percentile" -> f"$tailPct%.1f", "sf" -> sf(o), "clients" -> clients.toString))
  }
}
