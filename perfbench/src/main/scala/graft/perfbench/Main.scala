package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.io.Source

import org.apache.spark.sql.SparkSession

object Session {
  /** The engine's session: `local[cores]`, shuffle width equal to the core
    * count, every scratch directory under `work`.
    */
  def start(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One benchmark run in one JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json>
  *        --launched-ms <epoch ms when the JVM was launched>
  *
  * Set-up is everything from the JVM's launch to the first timed op: JVM
  * and session start, input generation, the set-up table build, the
  * oracle and a warmup pass. The timed loop then runs for `--seconds`.
  * With `--trace 1` the loop runs a second time with spans and listeners
  * on; the per-layer metrics come from that pass and the difference
  * between the two passes is the tracing overhead.
  */
object Main {
  val Workloads: Seq[Workload] = Seq(Catchup, ServeReads)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val w = Workloads.find(_.name == opt("workload"))
      .getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Log.phase("session start")(Session.start(cores, work))
    val ops = new Ops
    val ctx = Ctx(spark, work, opt("seed").toLong, opt("seconds").toDouble, cores,
      new Tracer(spark), ops)

    Log.phase("setup")(w.setup(ctx))
    Log.phase("warmup")(w.warmup(ctx))
    val setupS = (System.currentTimeMillis() - opt("launched-ms").toLong) / 1000.0

    val plain = Log.phase("measure")(w.measure(ctx))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("latency_p50_ref", plain.latencyRef, "ref"),
        ("throughput_per_ref", plain.throughputRef, "1/ref"))
      else {
        ctx.tracer.start()
        val traced = w.measure(ctx)
        ctx.tracer.stop()
        ctx.tracer.writeSpans(work.resolve("trace/spans.jsonl"))
        val overhead = traced.latencyRef / plain.latencyRef - 1.0
        val found = w.layers(ctx, traced) ++ Layers.spark(ctx.tracer, traced, cores) ++
          Map("trace.overhead_ratio" -> overhead)
        val withBaseline =
          if (w eq Catchup) found + ("spark.single_thread_events_per_s" -> {
            spark.stop(); Catchup.singleThread(ctx)
          })
          else found
        Layers.catalogue.map { case (n, u) => (n, withBaseline.getOrElse(n, 0.0), u) }
      }

    val attempted = ops.attempted.get
    val failed = ops.failed.get
    val result = Json.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0 && metrics.forall(m => !m._2.isNaN)),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) },
      "report" -> Seq(
        "workload" -> w.name, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "trace" -> trace, "cores" -> cores, "setup_s" -> setupS,
        "failed_ops" -> failed.toDouble / math.max(1L, attempted),
        "peak_rss_mb" -> peakRssMb,
        "inputs" -> w.inputs, "measured" -> plain.report)))
    Files.write(Paths.get(opt("out")), result.getBytes(StandardCharsets.UTF_8))
    if (!spark.sparkContext.isStopped) spark.stop()
  }

  /** High-water resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
