package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.functions.CellExprs
import graft.operators.Changes
import graft.render.Renderers.{World, WorldId, WorldRegistry}
import graft.server.EvaluateService
import graft.shell.Shell

/**
 * `EvaluateService.serve` over HTTP on a `WorldRegistry` whose base world
 * is `SparkEntry.features` (cached at set-up). It runs inside every traced
 * run and reports per-layer metrics only: the run budget leaves no room for
 * it as a third end-to-end workload. A closed loop: a fixed number
 * of clients (at most nproc) each send their next request only after the
 * previous reply. The seed chooses every client's request sequence:
 * tag `find | count`, `intersecting-cap | count`, `take 20`, `map get`
 * reads, and about one `add-tag` write in ten into the client's own
 * scenario world, which is recycled through `deleteWorld` after a fixed
 * number of changes. Every reply is checked against values computed at
 * set-up by direct DataFrame filters.
 */
object Serve {

  val Amenities: Seq[String] = Seq("cafe", "bench", "restaurant", "school", "fountain")
  val Ns = "graft/events"
  val ChangesPerWorld = 4

  /** Cap centres over the feature bbox, and radii in metres. */
  val Caps: Seq[(Double, Double)] = Seq((51.5353, -0.1258), (51.50, -0.15), (51.55, -0.10),
    (51.48, -0.19), (51.58, -0.07), (51.60, -0.17))
  val Radii: Seq[Double] = Seq(150.0, 400.0, 900.0)

  sealed trait Req { def expr: String }
  case class CountTag(a: String) extends Req { def expr = s"find [#amenity=$a] | count" }
  case class CountCap(c: Int, r: Int) extends Req {
    def expr = s"find (intersecting-cap ${Caps(c)._1}, ${Caps(c)._2} ${Radii(r)}) | count"
  }
  case class Take(a: String) extends Req { def expr = s"find [#amenity=$a] | take 20" }
  case class MapGet(a: String) extends Req {
    def expr = s"""find (and [#amenity=$a] [@name]) | map (get "@name") | take 10"""
  }
  case class AddTag(ftype: String, id: Long) extends Req {
    def expr = s"add-tag /$ftype/$Ns/$id #amenity=cafe"
  }

  case class Expected(tagCounts: Map[String, Long], capCounts: Map[(Int, Int), Long],
                      writable: IndexedSeq[(String, Long, String)])

  case class Sample(write: Boolean, traced: Boolean, ms: Double)

  def worldOf(client: Int): WorldId = WorldId("collection", "bench/scenario", client.toLong)

  def setup(spark: SparkSession, dir: String, o: Opts): (WorldRegistry, Expected, DataFrame) = {
    CellExprs.install(spark)
    val features = SparkEntry.features(spark, dir).cache()
    features.count()
    val emptyRefs = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL("from_type string, from_id long, to_type string, to_id long, role string, pos int"))
    import spark.implicits._
    val emptyItems = Seq.empty[Changes.ItemAdd].toDF()
    val reg = new WorldRegistry(spark, World(features, emptyRefs, emptyItems))
    // expected values, by direct filters over the same frame
    val amen = col("tags").getItem("#amenity")
    val tagCounts = features.groupBy(amen.as("a")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val capKeys = for (c <- Caps.indices; r <- Radii.indices) yield (c, r)
    val capRow = features.select(capKeys.map { case (c, r) =>
      count(when(CellExprs.haversine_m(col("lat"), col("lng"),
        lit(Caps(c)._1), lit(Caps(c)._2)) < lit(Radii(r)), true))
    }: _*).head()
    val capCounts = capKeys.zipWithIndex.map { case (k, i) => k -> capRow.getLong(i) }.toMap
    val writable = features.where(amen =!= "cafe")
      .where(pmod(xxhash64(col("id.value"), lit(o.seed)), lit(97)) === 0)
      .select(col("id.ftype"), col("id.value"), amen).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toIndexedSeq
    (reg, Expected(tagCounts, capCounts, writable), features)
  }

  /** The seeded request sequence of one client: cycles of ten requests, an
    * `add-tag` write and then nine reads (four tag counts, two cap counts,
    * two takes, one map-get) in an order the seed chooses; the seed also
    * chooses the arguments and which three reads go to the client's
    * scenario world. Every run thus sends the same blend of cheap and
    * costly requests. Yields (request, on the scenario world). */
  def requests(seed: Long, client: Int, ex: Expected): Iterator[(Req, Boolean)] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + client)
    val shuffle = new scala.util.Random(seed * 31L + client)
    def amenity = Amenities(rnd.nextInt(Amenities.size))
    val cycles = Iterator.continually {
      val (t, id, _) = ex.writable(rnd.nextInt(ex.writable.size))
      val onScenario = shuffle.shuffle(Seq.fill(3)(true) ++ Seq.fill(6)(false))
      (AddTag(t, id), true) +: shuffle.shuffle(Seq(0, 0, 0, 0, 1, 1, 2, 2, 3)).map {
        case 0 => CountTag(amenity)
        case 1 => CountCap(rnd.nextInt(Caps.size), rnd.nextInt(Radii.size))
        case 2 => Take(amenity)
        case _ => MapGet(amenity)
      }.zip(onScenario)
    }.flatten
    cycles.drop(rnd.nextInt(10)) // clients start at different points of the cycle
  }

  def post(port: Int, expression: String, world: Option[String]): (Int, String) = {
    val conn = new URL(s"http://127.0.0.1:$port/evaluate").openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    val body = s"""{"expression": ${Json.str(expression)}, "version": "1"""" +
      world.map(w => s""", "world": ${Json.str(w)}""").getOrElse("") + "}"
    conn.getOutputStream.write(body.getBytes(UTF_8))
    val code = conn.getResponseCode
    val in = if (code == 200) conn.getInputStream else conn.getErrorStream
    val text = new String(in.readAllBytes(), UTF_8)
    conn.disconnect()
    (code, text)
  }

  /** One client's state: the changes applied to its scenario world since
    * it was last recycled (point id -> previous amenity). */
  class ClientState(val id: Int) {
    var changed = Map.empty[Long, String]
    def worldPath: String = s"/collection/bench/scenario/$id"
  }

  def expectedCount(ex: Expected, st: ClientState, a: String, onScenario: Boolean): Long = {
    val base = ex.tagCounts.getOrElse(a, 0L)
    if (!onScenario) base
    else if (a == "cafe") base + st.changed.size
    else base - st.changed.values.count(_ == a)
  }

  /** Check one reply; returns a failure message, or None. */
  def check(req: Req, code: Int, body: String, ex: Expected, st: ClientState,
            onScenario: Boolean, sabotage: Boolean): Option[String] = {
    def fail(why: String) = Some(s"${req.expr}: $why: ${body.take(160)}")
    if (code != 200) return fail(s"HTTP $code")
    req match {
      case CountTag(a) =>
        val want = expectedCount(ex, st, a, onScenario) + (if (sabotage) 1 else 0)
        if (body == s"""{"type":"long","result":$want}""") None else fail(s"want $want")
      case CountCap(c, r) =>
        val want = ex.capCounts((c, r))
        if (body == s"""{"type":"long","result":$want}""") None else fail(s"want $want")
      case Take(a) =>
        val n = s""""#amenity":"$a"""".r.findAllMatchIn(body).size
        if (body.startsWith("""{"type":"collection"""") && n == 20) None
        else fail(s"want 20 rows tagged $a, got $n")
      case MapGet(_) =>
        val pairs = """"value":"site-(\d+)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
        val ids = """"value":(\d+)\}""".r.findAllMatchIn(body).map(_.group(1)).toSeq
        if (pairs.size == 10 && pairs == ids) None else fail("want 10 rows whose value is site-<id>")
      case AddTag(t, id) =>
        if (body.contains(s""""/$t/$Ns/$id"""") && body.contains("change-applied")) None
        else fail("want change-applied")
    }
  }

  /**
   * One set-up; the first half of the loop runs untraced, the second with
   * spans and Spark counters on (the read p50 difference is the tracing
   * overhead); then single-client probes of each layer.
   */
  def run(spark: SparkSession, o: Opts, tracer: Tracer): Outcome = {
    val dir = o.tablesDir(if (o.tiny) "0.001" else "0.1")
    val ((reg, ex, features), setupS) = Stats.timed(setup(spark, dir, o))
    val server = EvaluateService.serve(reg)
    val port = server.getAddress.getPort
    val counters = new SparkCounters(spark)
    val samples = new ConcurrentLinkedQueue[Sample]()
    val failures = new ConcurrentLinkedQueue[String]()
    val reqIds = new java.util.concurrent.atomic.AtomicLong(0)
    // warm-up, unchecked and untimed: each read shape on the base world and
    // on a scenario world with one change
    val warm = Seq(CountTag("cafe"), CountCap(0, 1), Take("bench"), MapGet("school"))
    val (wt, wid, _) = ex.writable.head
    post(port, AddTag(wt, wid).expr, Some("/collection/bench/warm/1"))
    for (r <- warm; w <- Seq(None, Some("/collection/bench/warm/1")))
      post(port, r.expr, w)
    reg.deleteWorld(WorldId("collection", "bench/warm", 1L))
    val states = (0 until o.cores).map(c => new ClientState(c))
    val seqs = (0 until o.cores).map(c => requests(o.seed, c, ex))

    def client(c: Int, deadline: Long, traced: Boolean): Unit = {
      val st = states(c)
      while (System.nanoTime() < deadline) {
        val (req, scenarioPick) = seqs(c).next()
        // a scenario-world read before this generation's first change reads the base
        val onScenario = scenarioPick && (req.isInstanceOf[AddTag] || st.changed.nonEmpty)
        val fresh = req match {
          case AddTag(_, id) => !st.changed.contains(id)
          case _ => true
        }
        if (fresh) {
          val rid = reqIds.incrementAndGet()
          val t0 = System.nanoTime()
          val (code, body) = tracer.span("serve.http", rid) {
            post(port, req.expr, if (onScenario) Some(st.worldPath) else None)
          }
          val ms = (System.nanoTime() - t0) / 1e6
          samples.add(Sample(req.isInstanceOf[AddTag], traced, ms))
          check(req, code, body, ex, st, onScenario, o.sabotage).foreach(failures.add)
          req match {
            case AddTag(_, id) =>
              st.changed += id -> ex.writable.find(_._2 == id).get._3
              if (st.changed.size >= ChangesPerWorld) {
                tracer.span("serve.delete_world", rid)(reg.deleteWorld(worldOf(c)))
                st.changed = Map.empty
              }
            case _ =>
          }
        }
      }
    }
    def loop(seconds: Double, traced: Boolean): Double = Stats.timed {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val ts = (0 until o.cores).map(c => new Thread(() => client(c, deadline, traced)))
      ts.foreach(_.start()); ts.foreach(_.join())
    }._2
    tracer.enabled = false
    val untracedS = loop(o.seconds / 2, traced = false)
    tracer.enabled = true
    counters.attach()
    val loopS = untracedS + loop(o.seconds / 2, traced = true)
    counters.detach()
    val all = samples.asScala.toSeq
    val reads = all.filterNot(_.write).map(_.ms)
    val writes = all.filter(_.write).map(_.ms)
    val (readTail, readTailPct) = Stats.tail(reads)
    val notes = Seq("clients" -> o.cores.toString, "reads" -> reads.size.toString,
      "writes" -> writes.size.toString, "read_tail_percentile" -> f"$readTailPct%.1f",
      "loop_s" -> f"$loopS%.3f")
    val t = counters.total(counters.snapshot())
    val tracedN = math.max(1, all.count(_.traced))
    def readP50(traced: Boolean) = Stats.median(all.filter(s => !s.write && s.traced == traced).map(_.ms))
    val metrics = Seq(
      Metric("serve.trace_overhead_ms", readP50(true) - readP50(false), "ms"),
      Metric("serve.setup_s", setupS, "s"),
      Metric("serve.qps", all.size / loopS, "1/s"),
      Metric("serve.read_p50_ms", Stats.median(reads), "ms"),
      Metric("serve.read_tail_ms", readTail, "ms"),
      Metric("serve.write_p50_ms", Stats.median(writes), "ms"),
      Metric("serve.write_tail_ms", if (writes.nonEmpty) Stats.tail(writes)._1 else Double.NaN, "ms"),
      Metric("serve.jobs_per_req", t.jobs.toDouble / tracedN, "count"),
      Metric("serve.stages", t.stages.toDouble / tracedN, "count"),
      Metric("serve.task_s", t.taskMs / 1e3 / tracedN, "s"),
      Metric("serve.plan_ms", t.planMs / math.max(1L, t.actions), "ms"),
      Metric("serve.exec_s", t.execMs / 1e3 / tracedN, "s"),
      Metric("serve.shuffle_write_mb", t.shuffleWriteBytes / 1e6 / tracedN, "MB"),
      Metric("serve.spill_mb", t.spillBytes / 1e6 / tracedN, "MB")) ++
      probeLayers(reg, port, ex, tracer)
    server.stop(0)
    features.unpersist(blocking = true)
    Outcome(metrics, all.size.toLong, failures.asScala.toSeq, notes)
  }

  /** Traced run only: single-client probes of each layer behind a request. */
  def probeLayers(reg: WorldRegistry, port: Int, ex: Expected, tracer: Tracer): Seq[Metric] = {
    val exprs = Amenities.map(a => CountTag(a).expr) ++ Caps.indices.map(c => CountCap(c, 1).expr)
    def medianMs(n: Int)(body: => Any): Double =
      Stats.median((0 until n).map(_ => Stats.timed(body)._2 * 1000))
    val parseMs = medianMs(50)(exprs.foreach(e => tracer.span("serve.shell_parse")(Shell.parse(e)))) /
      exprs.size
    val http = exprs.map(e => medianMs(3)(tracer.span("serve.http_probe")(post(port, e, None))))
    val inproc = exprs.map(e => medianMs(3)(tracer.span("serve.evaluate")(
      EvaluateService.evaluate(reg, e, None, EvaluateService.ApiVersion))))
    val overhead = Stats.median(http.zip(inproc).map { case (h, i) => h - i })
    // a scenario world with changes applied in process, against the base
    val probe = WorldId("collection", "bench/probe", 1L)
    val readExpr = CountTag("cafe").expr
    val baseRead = medianMs(5)(tracer.span("serve.base_read")(
      EvaluateService.evaluate(reg, readExpr, None, EvaluateService.ApiVersion)))
    val applyMs = ex.writable.take(ChangesPerWorld).map { case (t, id, _) =>
      Stats.timed(tracer.span("serve.apply_change")(
        reg.applyChange(probe, Changes.tagChange(t, Ns, id, "#amenity", Some("cafe")))))._2 * 1000
    }
    val changedRead = medianMs(5)(tracer.span("serve.changed_read")(
      EvaluateService.evaluate(reg, readExpr, Some("/collection/bench/probe/1"),
        EvaluateService.ApiVersion)))
    reg.deleteWorld(probe)
    Seq(
      Metric("serve.http_overhead_ms", overhead, "ms"),
      Metric("serve.shell_parse_ms", parseMs, "ms"),
      Metric("serve.apply_change_ms", Stats.median(applyMs), "ms"),
      Metric("serve.base_read_ms", baseRead, "ms"),
      Metric("serve.changed_read_ms", changedRead, "ms"))
  }
}
