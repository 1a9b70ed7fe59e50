package graft.perfbench

import java.lang.management.ManagementFactory
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.core.Meas
import graft.engine.{EngineApi, GraftEngine, QueryInterval, QueryTimePoint}

/** One timed interval at a layer boundary. `start`/`end` are
  * `System.nanoTime`; `request` is the id of the client request (or
  * embedded call) the span belongs to, `parent` the span that caused it.
  * `kind` carries the request class (point/scan/append/...) or the
  * engine operation name. */
final case class Span(id: Long, layer: String, kind: String, start: Long, end: Long,
                      parent: Long, request: Long, rows: Long = 0L, bytes: Long = 0L) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span store, written out once when the run ends.
  *
  * Client requests are recorded in every run (they are the end-to-end
  * samples). The engine decorator links its spans to the request a
  * client ROLE has open: the serve workload has one reader and one
  * writer connection, so the role names the request unambiguously. */
final class Tracer {
  private val ids = new AtomicLong(0L)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val open = new ConcurrentHashMap[String, java.lang.Long]()

  def nextId(): Long = ids.incrementAndGet()
  def begin(role: String): Long = { val id = nextId(); open.put(role, id); id }
  def current(role: String): Long = Option(open.get(role)).fold(0L)(_.longValue)
  def add(s: Span): Unit = buf.add(s)
  def spans: Seq[Span] = buf.asScala.toSeq

  /** Times `body` as a client-side request of class `kind` for `role`;
    * `body` returns the rows and bytes the request received. Returns ms. */
  def request(role: String, kind: String)(body: => (Long, Long)): Double = {
    val id = begin(role)
    val t0 = System.nanoTime()
    val (rows, bytes) = body
    val s = Span(id, "client", kind, t0, System.nanoTime(), 0L, id, rows, bytes)
    add(s)
    s.ms
  }
}

/** The `EngineApi` decorator handed to `GraftServer` (and used directly by
  * the embedded workload): times every facade call and puts the Spark jobs
  * the call and its result iterator start into a job group named after the
  * request, so listener events link back to the request span. */
final class TracedEngine(val inner: GraftEngine, tracer: Tracer, roleOf: String => String)
    extends EngineApi {
  private val sc = inner.spark.sparkContext

  def span[T](op: String)(body: => T): T = {
    val req = tracer.current(roleOf(op))
    sc.setJobGroup(req.toString, op, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally tracer.add(Span(tracer.nextId(), "engine", op, t0, System.nanoTime(), req, req))
  }

  def append(ms: Seq[Meas]): Unit = span("append")(inner.append(ms))
  def readInterval(q: QueryInterval): DataFrame = span("readInterval")(inner.readInterval(q))
  def intervalReader(q: QueryInterval): Iterator[Meas] = span("intervalReader")(inner.intervalReader(q))
  def readTimePoint(q: QueryTimePoint): DataFrame = span("readTimePoint")(inner.readTimePoint(q))
  def currentValue(ids: Seq[Long], flag: Long): DataFrame =
    span("currentValue")(inner.currentValue(ids, flag))
  def readGrid(from: Timestamp, to: Timestamp, stepSeconds: Long, maxStalenessSeconds: Long): DataFrame =
    span("readGrid")(inner.readGrid(from, to, stepSeconds, maxStalenessSeconds))
  def onAppend(listener: Seq[Meas] => Unit): Unit = inner.onAppend(listener)
  def removeAppendListener(listener: Seq[Meas] => Unit): Unit = inner.removeAppendListener(listener)
}

/** One Spark job as the listener saw it, with its tasks' metrics summed.
  * `site` is the job's long-form call site (the user stack frames that
  * submitted it), which attributes the job to a repo module. */
final class JobRec(val id: Int, val group: String, val start: Long, val site: String) {
  @volatile var end: Long = start
  var tasks = 0L
  var runMs = 0L
  var inRecords = 0L
  var inBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def ms: Double = (end - start) / 1e6
}

/** Collects jobs, tasks, input records, shuffle, spill and the peak
  * memory of persisted RDD blocks. Event times are converted to the
  * `System.nanoTime` clock the spans use. */
final class BenchListener extends SparkListener {
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + clockOffsetNs

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private var cached = 0L
  @volatile var cachePeakBytes = 0L

  // SQL executions record the submitting thread's call site; their jobs
  // may start from Spark's own thread pool, whose stack holds no user frame
  private val sqlSites = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.details)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val own = e.stageInfos.lastOption.fold("")(_.details)
    val site = if (own.contains("graft.")) own
      else Seq("spark.sql.execution.root.id", "spark.sql.execution.id").flatMap(prop)
        .flatMap(id => Option(sqlSites.get(id.toLong))).find(_.contains("graft.")).getOrElse(own)
    val rec = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""), ns(e.time), site)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.put(_, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = ns(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (rec <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) rec.synchronized {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.inRecords += m.inputMetrics.recordsRead
      rec.inBytes += m.inputMetrics.bytesRead
      rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val before = Option(blocks.get(key)).fold(0L)(_.longValue)
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      if (now > 0) blocks.put(key, now) else blocks.remove(key)
      cached += now - before
      cachePeakBytes = math.max(cachePeakBytes, cached)
    }
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq
}

/** Process-wide counters read from outside the program. */
object Probes {
  /** Bytes written through Hadoop's local file system (parquet data,
    * stats index, checksums). */
  def fsBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).fold(0L)(_.longValue)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }.getOrElse(0.0)

  @volatile private var blackhole = 0L

  /** Wall time of a fixed single-core integer loop, ms: a slow or
    * contended host shows here in the run's own output. */
  def cpuProbeMs(): Double = {
    def loop(): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      x
    }
    blackhole = loop()
    val t0 = System.nanoTime()
    blackhole = loop()
    (System.nanoTime() - t0) / 1e6
  }

  /** Total size of the regular files under `dir`. */
  def dirBytes(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum

  /** Mean parquet file count per `day=` directory under `dataDir`. */
  def filesPerDay(dataDir: java.io.File): Double = {
    val days = Option(dataDir.listFiles()).toSeq.flatten.filter(d => d.isDirectory && d.getName.startsWith("day="))
    if (days.isEmpty) 0.0
    else days.map(d => Option(d.listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))).sum.toDouble / days.size
  }
}
