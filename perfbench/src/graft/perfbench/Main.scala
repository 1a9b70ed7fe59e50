package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one run. Launched by `perfbench/run.py`,
  * which builds this class path, sizes the JVM and turns the result file
  * written here into the benchmark's output line.
  *
  * Arguments (all required): --workload serve|registry --seed N
  * --seconds N --trace 0|1 --tiny 0|1 --corrupt 0|1 --data <sfDir>
  * --work <dir> --cores N --result <file> --trace-file <file>.
  *
  * A run: session start, three set-up repetitions, one warm-up (setup_s =
  * session start + the repetitions' median + the warm-up), one untraced
  * measured window (the end-to-end
  * metrics), with --trace 1 a second, traced window over the same state
  * (the per-layer metrics and, against the first, the tracing overhead),
  * then the untimed correctness tail. */
object Main {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("tiny") == "1", kv("corrupt") == "1", kv("data"), new File(kv("work")), kv("cores").toInt)
    val cpuProbeMs = Probes.cpuProbeMs()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val w: Workload = o.workload match {
      case "serve" => new Serve(spark, o)
      case "registry" => new Registry(spark, o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupSamples = (0 until 3).map(w.setup)
    val warmUpS = w.warmUp()
    val setupS = sessionS + Gen.median(setupSamples) + warmUpS
    def whole(e2e: Map[String, Double]) = e2e ++ Map("setup_s" -> setupS, "peak_rss_mb" -> Probes.peakRssMb())

    val (e2e, _) = w.measure(o.seconds, None)
    val untraced = whole(e2e)
    val traced = if (!o.trace) None else Some {
      val t = new TraceCtx
      t.fs0 = Probes.fsBytesWritten()
      t.gc0 = Probes.gcMs()
      spark.sparkContext.addSparkListener(t.listener)
      val (e, layers) = try w.measure(o.seconds, Some(t))
        finally spark.sparkContext.removeSparkListener(t.listener)
      writeTrace(new File(kv("trace-file")), t)
      (whole(e), layers)
    }
    val (checks, mismatches) = w.verify(o.corrupt)
    val result =
      s"""{"attempted":${w.attempted},"failed":${w.failed},"checks":$checks,"mismatches":$mismatches,""" +
        s""""cpu_probe_ms":${num(cpuProbeMs)},"session_s":${num(sessionS)},""" +
        s""""setup_samples_s":${setupSamples.map(num).mkString("[", ",", "]")},"warm_up_s":${num(warmUpS)},""" +
        s""""e2e":${obj(untraced)},"traced_e2e":${traced.fold("null")(t => obj(t._1))},""" +
        s""""layers":${traced.fold("null")(t => obj(t._2))}}"""
    java.nio.file.Files.writeString(new File(kv("result")).toPath, result)
    spark.stop()
  }

  /** Spans, then one span per Spark job (parent = the request whose job
    * group it ran in), as JSON lines. */
  private def writeTrace(f: File, t: TraceCtx): Unit = {
    f.getParentFile.mkdirs()
    val lines = t.tracer.spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"layer":${jstr(s.layer)},"name":${jstr(s.kind)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"request":${s.request},"rows":${s.rows},"bytes":${s.bytes}}"""
    } ++ t.listener.allJobs.sortBy(_.start).map { j =>
      val req = j.group.toLongOption.getOrElse(0L)
      s"""{"id":"job-${j.id}","layer":"spark","name":${jstr(j.site.linesIterator.drop(1).take(1).mkString)},""" +
        s""""start_ns":${j.start},"end_ns":${j.end},"parent":$req,"request":$req,"tasks":${j.tasks},""" +
        s""""run_ms":${j.runMs},"input_records":${j.inRecords},"input_bytes":${j.inBytes},""" +
        s""""shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes}}"""
    }
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }
}
