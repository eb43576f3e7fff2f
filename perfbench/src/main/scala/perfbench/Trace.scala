package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. */
case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                parent: Long, request: Long)

/**
 * In-memory span recorder. Disabled, `span` only runs its body; enabled, it
 * records name, start, end, the enclosing span of the same thread and the
 * request id. Spans are written out once, when the run ends.
 */
class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, request: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, t0, System.nanoTime(), parent, request))
        stack.set(stack.get().tail)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"request":${s.request}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark runtime counters for one group of jobs. */
class SparkTotals {
  var jobs = 0L
  var stages = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planMs = 0.0
  var execMs = 0.0
  var actions = 0L
}

/**
 * A SparkListener plus a QueryExecutionListener, attached by the harness
 * only around traced work. Jobs are attributed to the `pb:` job tag the
 * harness set on the SparkContext (one per query family); untagged work
 * lands under "". Actions (planning and execution time) are not split by
 * tag: they are counted under [[SparkCounters.PlanTag]]. Planning time is
 * analysis + optimization + planning from `QueryExecution.tracker`.
 */
class SparkCounters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import SparkCounters.PlanTag
  private val byTag = mutable.Map[String, SparkTotals]()
  private val stageTag = mutable.Map[Int, String]()

  private def totals(tag: String): SparkTotals = byTag.getOrElseUpdate(tag, new SparkTotals)

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith("pb:"))).map(_.stripPrefix("pb:")).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    val t = totals(tag)
    t.jobs += 1
    t.stages += e.stageIds.size
    e.stageIds.foreach(s => stageTag(s) = tag)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals(stageTag.getOrElse(e.stageId, ""))
      t.taskMs += m.executorRunTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val t = totals(PlanTag)
      val phases = qe.tracker.phases
      t.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      t.execMs += durationNs / 1e6
      t.actions += 1
    }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait for queued listener events, then return a copy of the totals. */
  def snapshot(): Map[String, SparkTotals] = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    synchronized(byTag.toMap)
  }

  def total(snap: Map[String, SparkTotals], tags: String => Boolean = _ => true): SparkTotals = {
    val out = new SparkTotals
    snap.filter { case (k, _) => tags(k) }.values.foreach { t =>
      out.jobs += t.jobs; out.stages += t.stages; out.taskMs += t.taskMs
      out.shuffleWriteBytes += t.shuffleWriteBytes; out.spillBytes += t.spillBytes
      out.planMs += t.planMs; out.execMs += t.execMs; out.actions += t.actions
    }
    out
  }
}

object SparkCounters {
  val PlanTag = "actions"
}
