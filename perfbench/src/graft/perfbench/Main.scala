package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload hands back: its timed wall, the operation counts, the
  * per-layer metrics of a traced run, and the details that go into the
  * result record only. */
final case class Outcome(
    wallS: Double,
    attempted: Long,
    failed: Long,
    layers: Map[String, Double],
    record: Seq[(String, Any)])

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val tracer: Tracer,
    val listener: Option[LayerListener]) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  @volatile private var setup = Double.NaN

  /** Call right before the first timed job is submitted: set-up time is
    * JVM start until this moment. */
  def markTimedStart(): Unit =
    if (setup.isNaN) setup = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def setupS: Double = setup

  /** Scratch directory of this run (stores, sinks, control store). */
  def work(sub: String): String = {
    val p = Paths.get(args.work, sub)
    Files.createDirectories(p)
    p.toString
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, bench: String, work: String, out: String)

  val Workloads = Seq("analytic_drain", "corpus_drain", "nightly_dag")

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("data"), req("bench"), req("work"), req("out"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  private val t0Ms = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr (the run's log file), stamped with seconds
    * since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0Ms) / 1000.0}%7.2f s] $msg")

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) =>
      ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    }

  private def vmFlag(name: String): Option[String] =
    try Some(ManagementFactory.getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption(name).getValue)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = loadavg()
    val spark = session(a.work)
    val listener = if (a.trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, a, new Tracer(a.trace), listener)
    val t0 = System.nanoTime()
    val out = ctx.tracer.span(a.workload, "workload", ctx.tracer.newTrace()) {
      a.workload match {
        case "nightly_dag" => Nightly.run(ctx)
        case w => Drain.run(ctx, w)
      }
    }
    val origin = t0
    val rss = peakRssMb()
    val load1 = loadavg()
    val e2e = Seq(("setup_s", ctx.setupS, "s"), ("wall_s", out.wallS, "s"))
    val layers: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else {
        val self = ctx.tracer.layerSelfMs
        val selfMetrics = Layers.SelfTimed.map(l => (s"$l.self_ms", self.getOrElse(l, 0.0), "ms"))
        // a failed measurement is counted in `failed` and reported as 0
        Layers.all.map { case (n, unit) =>
          (n, out.layers.get(n).filterNot(_.isNaN).getOrElse(0.0), unit) } ++
          selfMetrics :+ (("jvm.peak_rss_mb", rss, "MiB")) :+ (("trace.wall_s", out.wallS, "s"))
      }
    val shown = if (a.trace) layers else e2e
    val host = Json.obj(
      "nproc" -> nproc,
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "cds_archive_used" -> vmFlag("UseSharedSpaces").contains("true"),
      "peak_rss_mb" -> rss,
      "git_head" -> sys.env.get("PERFBENCH_GIT_HEAD").filter(_.nonEmpty),
      "source_digest" -> sys.env.get("PERFBENCH_SOURCE_DIGEST").filter(_.nonEmpty))
    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "host" -> host,
      "correct" -> (out.failed == 0), "attempted" -> out.attempted, "failed" -> out.failed,
      "failed_ratio" -> out.failed.toDouble / math.max(1L, out.attempted),
      "end_to_end" -> Json.obj(e2e.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> Json.obj(layers.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*))
    out.record.foreach { case (k, v) => record(k) = v }
    if (a.trace) {
      record("layer_self_ms") = ctx.tracer.layerSelfMs
      Files.write(Paths.get(a.out + ".spans.json"),
        Json.render(Json.obj("origin" -> "workload start",
          "spans" -> ctx.tracer.spansJson(origin))).getBytes("UTF-8"))
    }
    Files.write(Paths.get(a.out + ".json"), Json.render(record).getBytes("UTF-8"))
    spark.stop()

    shown.foreach { case (n, v, u) => println(f"$n%-40s $v%16.4f $u") }
    println(f"${"failed_ratio"}%-40s ${out.failed.toDouble / math.max(1L, out.attempted)}%16.4f (${out.failed}/${out.attempted})")
    println(Json.render(Json.obj(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.obj(shown.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
  }
}
