package graft.perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Meas
import graft.engine.{EngineApi, GraftEngine, QueryInterval, QueryTimePoint}
import graft.network.{GraftClient, GraftServer}

/** Run options, parsed by [[Main]]. `tiny` shrinks every workload to a
  * smoke-test size; `corrupt` perturbs one expected answer so a smoke test
  * can show the correctness tail fails. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, tiny: Boolean,
                      corrupt: Boolean, data: String, work: File, cores: Int)

/** The tracing state of one traced window. */
final class TraceCtx {
  val tracer = new Tracer
  val listener = new BenchListener
  var fs0 = 0L
  var gc0 = 0L
}

/** A benchmark workload: repeated set-up, one measured window, and an
  * untimed correctness tail. */
trait Workload {
  /** One repetition of the set-up, in seconds; the state of the last one
    * is kept. */
  def setup(rep: Int): Double
  /** First use of every operation after the set-up (JIT, codegen, page
    * cache), in seconds; counted into setup_s, so that work moved out of
    * the measured window shows there. */
  def warmUp(): Double
  /** Runs the closed loop for at least `seconds` and returns the
    * end-to-end metrics; with `trace` also the per-layer ones. */
  def measure(seconds: Int, trace: Option[TraceCtx]): (Map[String, Double], Map[String, Double])
  /** Checks a seeded sample of answers; returns (checks, mismatches). */
  def verify(corrupt: Boolean): (Int, Int)
  /** Operations attempted and failed in all measured windows. */
  def attempted: Long
  def failed: Long
}

object Gen {
  val DayUs: Long = 86400L * 1000000L
  /** 2024-01-01T00:00Z in µs: day 0 of every generated store. */
  val Day0Us: Long = 1704067200000000L
  val Flags: Array[Long] = Array(1L, 2L, 4L, 8L, 16L)

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  def us(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  def dayStart(d: Int): Long = Day0Us + d * DayUs

  def names(n: Int): Seq[String] = (0 until n).map(i => f"sensor.$i%05d")

  def meas(rnd: scala.util.Random, id: Long, timeUs: Long, seq: Long): Meas =
    Meas(id, ts(timeUs), math.rint(rnd.nextGaussian() * 1e6) / 1e3, Flags(rnd.nextInt(Flags.length)), seq)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def deleteTree(f: File): Unit = if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
}

/** Per-layer metrics every workload reports from its traced window. */
object Layers {
  /** Which repo module submitted a Spark job, from its call site. */
  def sourcesRole(site: String): String =
    if (site.contains("TsdbStorage$.refreshStats")) "refresh"
    else if (site.contains("TsdbStorage$.append")) "append"
    else ""

  def spark(t: TraceCtx, ops: Long, wallMs: Double, cores: Int): Map[String, Double] = {
    val jobs = t.listener.allJobs
    Map(
      "spark.jobs_per_op" -> Gen.ratio(jobs.size, ops),
      "spark.tasks_per_op" -> Gen.ratio(jobs.map(_.tasks).sum, ops),
      "spark.busy_ratio" -> Gen.ratio(jobs.map(_.runMs).sum, wallMs * cores),
      "spark.shuffle_bytes" -> Gen.ratio(jobs.map(_.shuffleBytes).sum, ops),
      "spark.spill_bytes" -> Gen.ratio(jobs.map(_.spillBytes).sum, ops),
      "spark.gc_ms" -> (Probes.gcMs() - t.gc0).toDouble,
      "core.cache_peak_mb" -> t.listener.cachePeakBytes / 1048576.0)
  }

  /** Mean decorator time per engine operation. */
  def engineCalls(spans: Seq[Span]): Map[String, Double] =
    spans.filter(_.layer == "engine").groupBy(_.kind).map { case (op, s) =>
      s"engine.call_ms.$op" -> Gen.mean(s.map(_.ms))
    }
}

/** `serve`: wire serving under concurrent ingest. One reader connection
  * loops over point (80%) and scan (20%) requests; one writer connection
  * sends a 1k-row APPEND into the newest day, ~10% of it rewriting
  * existing keys with a higher seq, at every 5th read. */
final class Serve(spark: SparkSession, o: Opts) extends Workload {
  import Gen._

  private val nSeries = if (o.tiny) 20 else 500
  private val days = if (o.tiny) 3 else 30
  private val perSeriesDay = 4
  private val appendRows = if (o.tiny) 50 else 1000
  private val appendEvery = 5
  private val buckets = 4

  private val rnd = new scala.util.Random(o.seed)
  private val ids: IndexedSeq[Long] = names(nSeries).map(GraftEngine.seriesId).toIndexedSeq
  // rows are spread over the day in equal slots, so base keys never collide
  private val base: IndexedSeq[Meas] = for {
    d <- 0 until days; id <- ids; k <- 0 until perSeriesDay
  } yield meas(rnd, id, dayStart(d) + k * (DayUs / perSeriesDay) + rnd.nextInt((DayUs / perSeriesDay).toInt), 0L)
  private val baseRows = base.zipWithIndex.map { case (m, i) => m.copy(seq = i + 1L) }
  private val newestDayRows = baseRows.filter(m => us(m.time) >= dayStart(days - 1))
  private val seq = new java.util.concurrent.atomic.AtomicLong(baseRows.size + 1L)

  private var engine: GraftEngine = _
  private var storeDir: File = _
  private var nAttempted = 0L
  private var nFailed = 0L
  def attempted: Long = nAttempted
  def failed: Long = nFailed

  def setup(rep: Int): Double = {
    val prev = storeDir
    storeDir = new File(o.work, s"serve-store-$rep")
    val df = spark.createDataFrame(baseRows)
    val t0 = System.nanoTime()
    engine = new GraftEngine(spark, storeDir.getPath, buckets)
    engine.addParams(names(nSeries))
    engine.append(df)
    val s = (System.nanoTime() - t0) / 1e9
    if (prev != null) deleteTree(prev)
    s
  }

  /** One rotation of the reader's schedule with an APPEND at every
    * `appendEvery`-th request, in turn over one connection. After a warm-up
    * of one request of each kind and one APPEND, a window's second rotation
    * still ran 3-15 % faster than its first. */
  def warmUp(): Double = {
    val t0 = System.nanoTime()
    val server = new GraftServer(engine).start()
    val c = new GraftClient(java.net.InetAddress.getLoopbackAddress.getHostAddress, server.boundPort)
    val r = new scala.util.Random(rnd.nextLong())
    try Schedule.indices.foreach { i =>
      if (i % appendEvery == 0) c.append(appendBatch(r))
      send(c, req(r, i))
    } finally { c.close(); server.stop() }
    (System.nanoTime() - t0) / 1e9
  }

  // ---- requests --------------------------------------------------------
  private sealed trait Req { def point: Boolean }
  private final case class RInterval(ids: Seq[Long], from: Long, to: Long) extends Req { def point = ids.nonEmpty }
  private final case class RTimePoint(ids: Seq[Long], tp: Long) extends Req { def point = true }
  private final case class RCurrent(ids: Seq[Long]) extends Req { def point = ids.nonEmpty }
  private final case class RGrid(from: Long, to: Long) extends Req { def point = false }

  /** Windows favour the newest day, where the writer appends. */
  private def favouredDay(r: scala.util.Random): Int = if (r.nextDouble() < 0.6) days - 1 else r.nextInt(days)
  private def someIds(r: scala.util.Random): Seq[Long] = r.shuffle(ids).take(1 + r.nextInt(5))

  /** The reader's request kinds in a fixed rotation: 12 point requests
    * (1-5 ids) and 3 scans (all series) per 15, so every window holds the
    * kinds in the same proportion; ids and windows come from the seed. */
  private val Schedule: IndexedSeq[String] = IndexedSeq(
    "interval", "timepoint", "current", "interval", "scan-interval",
    "timepoint", "current", "interval", "timepoint", "scan-current",
    "current", "interval", "timepoint", "current", "scan-grid")

  private def req(r: scala.util.Random, i: Int): Req = {
    val d = favouredDay(r)
    Schedule(i % Schedule.size) match {
      case "interval" =>
        val from = dayStart(d) + r.nextInt(18) * 3600L * 1000000L
        RInterval(someIds(r), from, from + (1 + r.nextInt(6)) * 3600L * 1000000L)
      case "timepoint" => RTimePoint(someIds(r), dayStart(d) + (r.nextDouble() * DayUs).toLong)
      case "current" => RCurrent(someIds(r))
      case "scan-interval" => RInterval(Nil, dayStart(d), dayStart(d) + DayUs - 1)
      case "scan-current" => RCurrent(Nil)
      case _ => RGrid(dayStart(d), dayStart(d) + DayUs - 1)
    }
  }

  private def measLineBytes(m: Meas): Long =
    s"MEAS ${m.id} ${us(m.time)} ${m.value} ${m.flag} ${m.seq}".length + 1L
  private def pointLineBytes(p: (Long, Option[Timestamp], Option[Double], Long)): Long =
    s"POINT ${p._1} ${p._2.fold("-")(t => us(t).toString)} ${p._3.fold("-")(_.toString)} ${p._4}".length + 1L

  /** Sends one request; returns (rows, bytes received). */
  private def send(c: GraftClient, q: Req): (Long, Long) = q match {
    case RInterval(is, f, t) =>
      val rows = c.readInterval(QueryInterval(is, 0L, ts(f), ts(t)))
      (rows.size.toLong, rows.map(measLineBytes).sum)
    case RTimePoint(is, tp) =>
      val rows = c.readTimePoint(QueryTimePoint(is, 0L, ts(tp)))
      (rows.size.toLong, rows.map(pointLineBytes).sum)
    case RCurrent(is) =>
      val rows = c.currentValue(is, 0L)
      (rows.size.toLong, rows.map(pointLineBytes).sum)
    case RGrid(f, t) =>
      val rows = c.readGrid(ts(f), ts(t), 3600L, 86400L)
      (rows.size.toLong, rows.map(g => s"GRID ${g._1} ${us(g._2)} ${g._3} ${g._4}".length + 1L).sum)
  }

  private def appendBatch(r: scala.util.Random): Seq[Meas] = (0 until appendRows).map { _ =>
    if (r.nextDouble() < 0.1) {
      val old = newestDayRows(r.nextInt(newestDayRows.size))
      meas(r, old.id, us(old.time), seq.getAndIncrement())
    } else meas(r, ids(r.nextInt(ids.size)), dayStart(days - 1) + (r.nextDouble() * DayUs).toLong, seq.getAndIncrement())
  }

  def measure(seconds: Int, trace: Option[TraceCtx]): (Map[String, Double], Map[String, Double]) = {
    val tracer = trace.fold(new Tracer)(_.tracer)
    val api: EngineApi = trace.fold[EngineApi](engine)(_ =>
      new TracedEngine(engine, tracer, op => if (op == "append") "writer" else "reader"))
    val server = new GraftServer(api).start()
    val host = java.net.InetAddress.getLoopbackAddress.getHostAddress
    val reader = new GraftClient(host, server.boundPort)
    val writer = new GraftClient(host, server.boundPort)
    val readRnd = new scala.util.Random(rnd.nextLong())
    val writeRnd = new scala.util.Random(rnd.nextLong())
    val failures = new java.util.concurrent.atomic.AtomicLong(0L)
    // the writer appends when the reader reaches every `appendEvery`-th
    // request, so reads overlap appends at the same points in every window
    val appendDue = new java.util.concurrent.Semaphore(0)
    @volatile var done = false
    val writerThread = new Thread(() => {
      while ({ appendDue.acquire(); !done }) {
        val batch = appendBatch(writeRnd)
        try tracer.request("writer", "append") { writer.append(batch); (batch.size.toLong, 0L) }
        catch { case e: Exception => failures.incrementAndGet(); Main.log(s"append failed: $e") }
      }
    }, "bench-writer")
    writerThread.start()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var reads = 0L
    val readMs = mutable.ArrayBuffer[(String, Double)]()
    // whole rotations of the schedule, at least three, so each window holds
    // the same mix, and each scan kind and the APPEND three times or more
    while (System.nanoTime() < deadline || reads % Schedule.size != 0 || reads < 3 * Schedule.size) {
      if (reads % appendEvery == 0) appendDue.release()
      val q = req(readRnd, reads.toInt)
      try readMs += Schedule(reads.toInt % Schedule.size) ->
        tracer.request("reader", if (q.point) "point" else "scan")(send(reader, q))
      catch { case e: Exception => failures.incrementAndGet(); Main.log(s"read failed: $e") }
      reads += 1
    }
    Main.log(s"rotation s: ${readMs.grouped(Schedule.size).map(r => f"${r.map(_._2).sum / 1e3}%.2f").mkString(" ")}")
    Main.log(s"kind p50 ms: ${readMs.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) => f"$k=${median(v.map(_._2).toSeq)}%.1f" }.mkString(" ")}")
    done = true
    appendDue.release()
    writerThread.join()
    val wallMs = (System.nanoTime() - t0) / 1e6
    reader.close(); writer.close(); server.stop()

    val spans = tracer.spans
    val client = spans.filter(_.layer == "client")
    def lat(kind: String) = client.filter(_.kind == kind).map(_.ms)
    val appends = client.count(_.kind == "append")
    nAttempted += reads + appends
    nFailed += failures.get()
    val e2e = Map(
      "primary_p50_ms" -> median(lat("point")),
      "primary_mean_ms" -> mean(lat("point")),
      "secondary_p50_ms" -> median(lat("scan")),
      "tertiary_p50_ms" -> median(lat("append")),
      "rate_per_s" -> reads / (wallMs / 1e3))
    (e2e, trace.fold(Map.empty[String, Double])(t => layers(t, spans, reads + appends, wallMs)))
  }

  private def layers(t: TraceCtx, spans: Seq[Span], ops: Long, wallMs: Double): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val sparkLayer = Layers.spark(t, ops, wallMs, o.cores)
    val client = spans.filter(_.layer == "client")
    val engineByReq = spans.filter(_.layer == "engine").groupBy(_.request)
    val jobsByReq = t.listener.allJobs.groupBy(_.group)
    def jobsOf(c: Span) = jobsByReq.getOrElse(c.id.toString, Nil)
    // request time not covered by the engine call or the Spark jobs run
    // after it (the result iterator's jobs, started from the server)
    def selfMs(c: Span): Double = {
      val e = engineByReq.getOrElse(c.id, Nil)
      val eEnd = if (e.isEmpty) c.start else e.map(_.end).max
      c.ms - e.map(_.ms).sum - jobsOf(c).filter(_.start >= eEnd).map(_.ms).sum
    }
    val point = client.filter(_.kind == "point")
    val scan = client.filter(_.kind == "scan")
    val appendJobs = client.filter(_.kind == "append").flatMap(jobsOf)
    val appendedRows = client.filter(_.kind == "append").map(_.rows).sum
    val engineSpans = spans.filter(_.layer == "engine")
    val appendSpans = engineSpans.filter(_.kind == "append")
    val readSpans = engineSpans.filterNot(_.kind == "append")
    val blocked = readSpans.filter(r => appendSpans.exists(a => a.start < r.end && r.start < a.end))
    val nAppends = appendSpans.size.toDouble
    val dataDir = new File(storeDir, "data")
    val liveRows = engine.merged.count().toDouble
    sparkLayer ++ Layers.engineCalls(spans) ++ Map(
      "network.self_ms.point" -> mean(point.map(selfMs)),
      "network.self_ms.scan" -> mean(scan.map(selfMs)),
      "network.bytes_per_row" -> ratio(scan.map(_.bytes).sum, scan.map(_.rows).sum),
      "network.rows_per_request" -> ratio(scan.map(_.rows).sum, scan.size),
      "engine.jobs_per_request.point" -> ratio(point.map(jobsOf(_).size).sum, point.size),
      "engine.index_served_ratio" ->
        ratio(point.count(c => jobsOf(c).exists(_.site.contains("Indexed("))), point.size),
      "engine.read_blocked_ms" -> ratio(blocked.map(_.ms).sum, readSpans.size),
      "sources.append_ms" -> ratio(appendJobs.filter(j => Layers.sourcesRole(j.site) == "append").map(_.ms).sum, nAppends),
      "sources.stats_refresh_ms" -> ratio(appendJobs.filter(j => Layers.sourcesRole(j.site) == "refresh").map(_.ms).sum, nAppends),
      "sources.bytes_written_per_user_byte" -> ratio(Probes.fsBytesWritten() - t.fs0, appendedRows * 40.0),
      "sources.files_per_day" -> Probes.filesPerDay(dataDir),
      "sources.rows_scanned_per_row_returned" ->
        ratio(point.flatMap(jobsOf).map(_.inRecords).sum, point.map(_.rows).sum),
      "sources.bytes_scanned_per_request" -> ratio(scan.flatMap(jobsOf).map(_.inBytes).sum, scan.size),
      "sources.disk_bytes_per_user_byte" ->
        ratio(Probes.dirBytes(dataDir) + Probes.dirBytes(new File(storeDir, "_stats")), liveRows * 40.0))
  }

  /** Compares a seeded sample of wire answers with the engine's
    * authoritative in-process scan paths (the writer has stopped). */
  def verify(corrupt: Boolean): (Int, Int) = {
    val server = new GraftServer(engine).start()
    val c = new GraftClient(java.net.InetAddress.getLoopbackAddress.getHostAddress, server.boundPort)
    val r = new scala.util.Random(rnd.nextLong())
    import spark.implicits._
    type Point = (Long, Option[Long], Option[Double], Long)
    def points(df: org.apache.spark.sql.DataFrame): Seq[Point] = df.collect().toSeq.map(x =>
      (x.getLong(0), if (x.isNullAt(1)) None else Some(us(x.getTimestamp(1))),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)), x.getLong(3)))
    def wirePoints(p: Seq[(Long, Option[Timestamp], Option[Double], Long)]): Seq[Point] =
      p.map(x => (x._1, x._2.map(us), x._3, x._4))
    def key(m: Meas) = (m.id, us(m.time), m.value, m.flag, m.seq)
    val checks: Seq[(Seq[Any], Seq[Any])] = (0 until 4).map { i =>
      val d = favouredDay(r)
      i % 4 match {
        case 0 | 1 =>
          val q = QueryInterval(if (i % 4 == 0) someIds(r) else Nil, 0L, ts(dayStart(d)), ts(dayStart(d) + DayUs - 1))
          (c.readInterval(q).map(key), engine.readIntervalScan(q).as[Meas].collect().toSeq.map(key))
        case 2 =>
          val q = QueryTimePoint(someIds(r), 0L, ts(dayStart(d) + (r.nextDouble() * DayUs).toLong))
          (wirePoints(c.readTimePoint(q)), points(engine.readTimePointScan(q)))
        case _ =>
          val is = someIds(r)
          (wirePoints(c.currentValue(is, 0L)), points(engine.readTimePointScan(QueryTimePoint(is, 0L, Meas.TIME_MAX))))
      }
    }
    c.close(); server.stop()
    val expected = checks.map(_._2).zipWithIndex.map { case (e, i) =>
      if (corrupt && i == 0) (if (e.isEmpty) Seq("corrupt") else e.drop(1)) else e
    }
    val bad = checks.map(_._1).zip(expected).count { case (got, exp) => got != exp }
    if (checks.forall(_._2.isEmpty)) Main.log("serve check sample is empty")
    (checks.size, bad)
  }
}

/** `registry`: batch analytics over the registry queries, through the
  * noop sink, with the cache cleared before each query as `Bench` does.
  * The seed permutes query order. */
final class Registry(spark: SparkSession, o: Opts) extends Workload {
  import Gen._

  private val modules: Seq[(String, Map[String, graft.core.QueryDef])] = Seq(
    "operators.CoreQueries" -> graft.operators.CoreQueries.defs,
    "extensions.TextQueries" -> graft.extensions.TextQueries.defs,
    "extensions.DedupQueries" -> graft.extensions.DedupQueries.defs,
    "extensions.SimilarityQueries" -> graft.extensions.SimilarityQueries.defs,
    "extensions.PqQueries" -> graft.extensions.PqQueries.defs,
    "extensions.MiscQueries" -> graft.extensions.MiscQueries.defs,
    "extensions.TrainingQueries" -> graft.extensions.TrainingQueries.defs,
    "extensions.TemporalQueries" -> graft.extensions.TemporalQueries.defs,
    "extensions.PipelineQueries" -> graft.extensions.PipelineQueries.defs,
    "extensions.RetrievalQueries" -> graft.extensions.RetrievalQueries.defs)
  private val moduleOf: Map[String, String] = modules.flatMap { case (m, d) => d.keys.map(_ -> m) }.toMap
  /** Every query is primary; the operators module is secondary, the
    * extension modules tertiary. */
  private def isOperator(q: String): Boolean = moduleOf(q) == "operators.CoreQueries"

  private val order: Seq[String] = new scala.util.Random(o.seed).shuffle(
    if (o.tiny) Registry.TinySubset else Registry.Subset)
  private var session: SparkSession = _
  private var nAttempted = 0L
  private var nFailed = 0L
  def attempted: Long = nAttempted
  def failed: Long = nFailed

  private def runOnce(s: SparkSession, q: String): Unit =
    graft.SparkEntry.queries(q)(s, o.data).write.format("noop").mode("overwrite").save()

  /** A fresh session with every input table opened (footers read). */
  def setup(rep: Int): Double = {
    val t0 = System.nanoTime()
    session = spark.newSession()
    Registry.Tables.foreach(t => session.read.parquet(s"${o.data}/$t.parquet").schema)
    (System.nanoTime() - t0) / 1e9
  }

  /** `WarmPasses` passes over the queries, each as in a window: after a
    * warm-up of one pass, a window's first pass still ran 10-20 % slower
    * than its last, as the JIT compiled more of the planner. */
  def warmUp(): Double = {
    val t0 = System.nanoTime()
    val passes = (0 until (if (o.tiny) 1 else Registry.WarmPasses)).map { _ =>
      val p0 = System.nanoTime()
      // as in a window pass
      System.gc()
      order.foreach { q =>
        session.sharedState.cacheManager.clearCache()
        nAttempted += 1
        try runOnce(session, q)
        catch { case e: Exception => nFailed += 1; Main.log(s"$q failed: $e") }
      }
      (System.nanoTime() - p0) / 1e9
    }
    session.sharedState.cacheManager.clearCache()
    Main.log(s"warm pass s: ${passes.map(p => f"$p%.2f").mkString(" ")}")
    (System.nanoTime() - t0) / 1e9
  }

  def measure(seconds: Int, trace: Option[TraceCtx]): (Map[String, Double], Map[String, Double]) = {
    val tracer = trace.fold(new Tracer)(_.tracer)
    val samples = mutable.ArrayBuffer[(String, Double)]()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var passes = 0
    // whole passes, at least three, so each window holds every query equally often
    while (System.nanoTime() < deadline || passes < 3) {
      // no pass pays for the garbage of the one before it
      System.gc()
      order.foreach { q =>
        session.sharedState.cacheManager.clearCache()
        nAttempted += 1
        samples += q -> tracer.request("main", q) {
          // traced: the query's jobs join a group named after its span
          trace.foreach(_ => session.sparkContext.setJobGroup(tracer.current("main").toString, q))
          try runOnce(session, q)
          catch { case e: Exception => nFailed += 1; Main.log(s"$q failed: $e") }
          (0L, 0L)
        }
      }
      passes += 1
    }
    session.sharedState.cacheManager.clearCache()
    val wallMs = (System.nanoTime() - t0) / 1e6
    def lat(p: String => Boolean) = samples.collect { case (q, ms) if p(q) => ms }.toSeq
    // the queries differ in cost, so a median over all their samples jumps
    // with the rank order of the queries near it: take each query's median
    // over the passes, then their geometric mean
    val p50 = order.map(q => q -> median(lat(_ == q))).toMap
    Main.log(s"query p50 ms: ${order.sorted.map(q => f"$q=${p50(q)}%.1f").mkString(" ")}")
    Main.log(s"pass s: ${samples.grouped(order.size).map(p => f"${p.map(_._2).sum / 1e3}%.2f").mkString(" ")}")
    def typical(p: String => Boolean) = geomean(p50.collect { case (q, ms) if p(q) => ms }.toSeq)
    val e2e = Map(
      "primary_p50_ms" -> typical(_ => true),
      "primary_mean_ms" -> mean(lat(_ => true)),
      "secondary_p50_ms" -> typical(isOperator),
      "tertiary_p50_ms" -> typical(q => !isOperator(q)),
      "rate_per_s" -> samples.size / (samples.map(_._2).sum / 1e3))
    val layers = trace.fold(Map.empty[String, Double]) { t =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      Layers.spark(t, samples.size, wallMs, o.cores) ++ modules.map { case (m, _) =>
        s"${m}_s" -> samples.collect { case (q, ms) if moduleOf(q) == m => ms }.sum / 1e3 / passes
      }
    }
    (e2e, layers)
  }

  /** Dumps a seeded sample of queries that have an oracle, for the DuckDB
    * comparison the launcher runs; the JVM itself checks nothing here. */
  def verify(corrupt: Boolean): (Int, Int) = {
    val dump = new File(o.work, "registry-dump")
    val withOracle = order.filter(q => graft.SparkEntry.all(q).oracle.isDefined)
    val sample = new scala.util.Random(o.seed ^ 0x5DEECE66DL).shuffle(withOracle).take(3)
    val s = spark.newSession()
    // the dedup oracles are the exact all-pairs answer: pin the exact
    // route, as graft.Verify does
    s.conf.set(graft.extensions.DedupQueries.RouteKey, "exact")
    var bad = 0
    sample.foreach { q =>
      try graft.SparkEntry.queries(q)(s, o.data).coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
      catch { case e: Exception => bad += 1; Main.log(s"$q dump failed: $e") }
      finally s.sharedState.cacheManager.clearCache()
    }
    val json = sample.map(q => s"${Main.jstr(q)}: ${Main.jstr(graft.SparkEntry.all(q).oracle.get)}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(new File(dump, "oracle_sql.json").toPath, json)
    (0, bad)
  }
}

object Registry {
  /** The registry's input tables. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Queries of about their module's median cost (the operators ones of
    * similar cost, so their median does not jump between queries), from
    * every registry module but the two single-query heavy ones
    * (PipelineQueries, RetrievalQueries): the full registry takes ~95 s a
    * pass at sf0.01, more than one run can hold. */
  val Subset: Seq[String] = Seq(
    "histogram", "series_gaps", "read_interval", "stat",            // operators
    "text_entropy", "dedup_minhash", "sim_ivf_kmeans", "pq_codes",  // text/vector extensions
    "pricing_summary", "corpus_dedup", "series_bars")
  val TinySubset: Seq[String] = Seq("histogram", "text_entropy", "pricing_summary")
  val WarmPasses = 3
}
