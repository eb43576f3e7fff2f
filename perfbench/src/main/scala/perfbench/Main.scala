package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric as printed: name, measured value, unit. */
case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back to [[Main]]. */
case class Outcome(metrics: Seq[Metric], attempted: Long, failures: Seq[String],
                   notes: Seq[(String, String)] = Nil)

/** Run options, parsed from `--key value` pairs. */
case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                work: Path, tables: Path, cores: Int, tiny: Boolean, sabotage: Boolean) {
  def tablesDir(sf: String): String = tables.resolve(s"sf$sf").toString
}

/**
 * One benchmark run in this JVM: `perfbench.Main --workload W --seed N
 * --seconds S --trace 0|1 --work DIR --cores C [--tiny 1] [--sabotage 1]`.
 * Writes DIR/result.json (metrics with units, attempted and failed counts,
 * environment) and, traced, DIR/spans.jsonl. `run.py` drives it.
 */
object Main {

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("work")), Paths.get(kv("tables")), kv("cores").toInt, kv.get("tiny").contains("1"),
      kv.get("sabotage").contains("1"))
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Files.createTempDirectory("pb-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = session(o.cores)
    val tracer = new Tracer(o.trace)
    val probeBefore = Probe.cpuMs(Runtime.getRuntime.availableProcessors())
    val outcome =
      try o.workload match {
        case "flagship1" => Flagship.runSingleCore(spark, o)
        case "oracles" => Inventory.writeOracles(spark, o)
        case _ if o.trace => Layers(spark, o, tracer)
        case "flagship" => Flagship.run(spark, o, tracer)
        case "inventory" => Inventory.run(spark, o, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(Nil, 1, Seq(s"workload aborted: $e"))
      }
    val probeAfter = Probe.cpuMs(Runtime.getRuntime.availableProcessors())
    if (o.trace) tracer.writeJsonLines(o.work.resolve("spans.jsonl"))
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "cores" -> o.cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory() / (1 << 20)).toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "cpu_probe_before_ms" -> f"$probeBefore%.1f",
      "cpu_probe_after_ms" -> f"$probeAfter%.1f") ++ outcome.notes
    Files.writeString(o.work.resolve("result.json"), Json.result(outcome, env))
    spark.stop()
  }
}

/** The traced run: every workload's per-layer metrics, whichever workload
  * was named, so each traced run reports the same metric set. Inventory
  * runs last because it leaves operator caches pinned. */
object Layers {
  def apply(spark: SparkSession, o: Opts, tracer: Tracer): Outcome = {
    val parts = Seq[(String, (SparkSession, Opts, Tracer) => Outcome)](
      "flagship" -> Flagship.run, "serve" -> Serve.run, "inventory" -> Inventory.run)
      .map { case (w, run) => w -> run(spark, o.copy(workload = w), tracer) }
    Outcome(parts.flatMap(_._2.metrics), parts.map(_._2.attempted).sum,
      parts.flatMap(_._2.failures),
      parts.flatMap { case (w, p) => p.notes.map { case (k, v) => s"$w.$k" -> v } })
  }
}

/** A fixed CPU-bound loop on at most `threads` threads; the median
  * per-thread wall time shows a slow or contended machine window. */
object Probe {
  def cpuMs(threads: Int): Double = {
    val times = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val t0 = System.nanoTime()
        var x = t.toLong + 1
        var i = 0
        while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42) println("")
        times.add((System.nanoTime() - t0) / 1e6)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    Stats.median(scala.jdk.CollectionConverters.CollectionHasAsScala(times).asScala.toSeq)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest order statistic with at least ten samples above it, and
    * its percentile; with fewer than eleven samples, the maximum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def result(o: Outcome, env: Seq[(String, String)]): String = {
    val metrics = o.metrics.map(m =>
      s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
    val sb = new mutable.StringBuilder
    sb ++= "{\"attempted\": " ++= o.attempted.toString
    sb ++= ", \"failed\": " ++= o.failures.size.toString
    sb ++= ", \"failures\": " ++= o.failures.map(str).mkString("[", ", ", "]")
    sb ++= ", \"metrics\": " ++= metrics.mkString("{", ", ", "}")
    sb ++= ", \"env\": " ++= env.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    sb ++= "}"
    sb.toString
  }
}
