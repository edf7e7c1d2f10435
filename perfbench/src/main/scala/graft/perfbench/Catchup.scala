package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.cdc._

/** `catchup`: replay a pre-generated zipf changelog from scratch until the
  * snapshot table is compacted and the SCD2 history is current. Closed
  * batch; the write path does nearly all the work.
  */
object Catchup extends Workload {
  val name = "catchup"

  val Events = 40000L
  val Docs = 10000L
  val LogFiles = 2
  val FilesPerTrigger = 2
  /** Reference-job runs before each op and after the last. */
  val RefsPerOp = 3

  def inputs: Seq[(String, Any)] = Seq(
    "events" -> Events, "docs" -> Docs, "zipf_exp" -> 3.0, "dup_per_mille" -> 20,
    "op_mix_insert_update_delete" -> "70/25/5", "source_partitions" -> 3,
    "log_files" -> (LogFiles + 2), "max_files_per_trigger" -> FilesPerTrigger,
    "buckets" -> 16, "compaction" -> "CompactionPolicy() default, then one MergeEngine.compact")

  private var delivered = 0L
  private var stateWant, scd2Want: (Long, BigDecimal, BigDecimal) = _
  private var runs = 0
  private var lastRun = ""

  private def gen(seed: Long, events: Long) =
    ChangelogGen.Config(numEvents = events, numDocs = Docs, seed = seed, numFiles = LogFiles)

  val stateCols = Seq("doc_id", "tokens", "n_tok", "source")
  val scd2Cols = Seq("doc_id", "valid_from_lsn", "valid_to_lsn", "is_current", "partition",
    "tokens", "n_tok", "source", "ts")

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Logs.write(spark, gen(ctx.seed, Events), ctx.dir("catchup/log"))
    val log = Logs.read(spark, ctx.dir("catchup/log"))
    delivered = log.count()
    val valid = log.filter(IngestJob.validExpr(log))
    FoldOracle.finalState(spark, valid).write.parquet(ctx.dir("catchup/oracle/state"))
    stateWant = Frames.fingerprint(spark.read.parquet(ctx.dir("catchup/oracle/state")), stateCols)
    scd2Want = Frames.fingerprint(Scd2.fromChangelog(valid, Seq("doc_id"), "lsn"), scd2Cols)
  }

  /** One catch-up over the log's first file only. */
  def warmup(ctx: Ctx): Unit = {
    val first = Paths.get(ctx.dir("catchup/log"), "chunk-00000.parquet")
    Files.createDirectories(Paths.get(ctx.dir("catchup/warm/log")))
    Files.copy(first, Paths.get(ctx.dir("catchup/warm/log"), "chunk-00000.parquet"))
    catchUp(ctx, ctx.dir("catchup/warm/log"), ctx.dir("catchup/warm/run"))
    (0 until 3).foreach(_ => Reference.ms(ctx.spark))
  }

  /** The timed op: replay, compact, and fold the SCD2 history. */
  def catchUp(ctx: Ctx, logDir: String, runDir: String): SnapshotTable = {
    val (spark, t) = (ctx.spark, ctx.tracer)
    val table = t.span("IngestJob.replay")(IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir, tableDir = s"$runDir/table", checkpointDir = s"$runDir/ckpt",
      queryId = "catchup", maxFilesPerTrigger = Some(FilesPerTrigger))))
    t.span("MergeEngine.compact")(MergeEngine.compact(spark, table))
    t.span("Scd2Stream.start")(Scd2Stream.start(spark, Scd2Stream.Config(
      logDir = logDir, tableDir = s"$runDir/scd2", checkpointDir = s"$runDir/scd2-ckpt",
      queryId = "catchup-scd2", maxFilesPerTrigger = Some(FilesPerTrigger))).awaitTermination())
    table
  }

  /** The table and the SCD2 current rows equal the fold of the valid log,
    * and the SCD2 history equals the one-shot rebuild, compared by
    * fingerprint.
    */
  def correct(ctx: Ctx, table: SnapshotTable, runDir: String): Boolean = {
    val scd2 = Scd2Stream.read(ctx.spark, s"$runDir/scd2")
    Frames.fingerprint(table.read(ctx.spark), stateCols) == stateWant &&
      Frames.fingerprint(scd2, scd2Cols) == scd2Want &&
      Frames.fingerprint(scd2.filter(col("is_current")), stateCols) == stateWant
  }

  def measure(ctx: Ctx): Pass = {
    val lat = new Series("catchup")
    val refs = new Series("reference")
    val t0 = System.nanoTime()
    var timedNs = 0L
    var done = 0
    // at least two ops, so the median is never one op's time
    while (done < 2 || timedNs < ctx.seconds * 1e9) {
      runs += 1
      val runDir = ctx.dir(s"catchup/run-$runs")
      (0 until RefsPerOp).foreach(_ => refs.add(Reference.ms(ctx.spark)))
      val s0 = System.nanoTime()
      ctx.ops.timed(lat) {
        try ctx.tracer.span("op.catchup", runs)(catchUp(ctx, ctx.dir("catchup/log"), runDir))
        finally timedNs += System.nanoTime() - s0
      }(correct(ctx, _, runDir))
      if (lastRun.nonEmpty) graft.util.Tables.deleteRecursively(lastRun)
      lastRun = runDir
      done += 1
    }
    (0 until RefsPerOp).foreach(_ => refs.add(Reference.ms(ctx.spark)))
    val wall = (System.nanoTime() - t0) / 1e9
    // the exact multiset diff, once per pass, on the last op's table
    ctx.ops.check("catchup_fold_diff")(FoldOracle.diff(
      new SnapshotTable(s"$lastRun/table").read(ctx.spark).select(stateCols.map(col): _*),
      ctx.spark.read.parquet(ctx.dir("catchup/oracle/state"))) == (0L, 0L))
    val eps = lat.values.map(ms => delivered / (ms / 1000.0))
    val epsMedian = if (eps.isEmpty) Double.NaN else Stats.quantile(eps, 0.5)
    Pass(lat, epsMedian, refs,
      Seq("catchup_events_per_s" -> Report.value(epsMedian, "events/s", eps.size),
        "catchup_ms" -> Report.latency(lat), "reference_ms" -> Report.latency(refs)),
      wall, done)
  }

  /** One catch-up on a single core, in a session of its own. */
  def singleThread(ctx: Ctx): Double = {
    val spark = Session.start(1, ctx.work)
    val one = ctx.copy(spark = spark, tracer = new Tracer(spark))
    try {
      val lat = new Series("catchup_single_thread")
      val runDir = ctx.dir("catchup/run-single")
      ctx.ops.timed(lat)(catchUp(one, ctx.dir("catchup/log"), runDir))(correct(one, _, runDir))
      lat.values.headOption.map(ms => delivered / (ms / 1000.0)).getOrElse(0.0)
    } finally spark.stop()
  }

  def layers(ctx: Ctx, pass: Pass): Map[String, Double] = {
    val t = ctx.tracer
    val per = math.max(1, pass.opsDone).toDouble
    def medianMs(span: String) = {
      val ms = t.closed(span).map(_.ms)
      if (ms.isEmpty) 0.0 else Stats.quantile(ms, 0.5)
    }
    val ingest = Layers.stream("IngestJob", t.queryProgress("catchup"))
    val scd2 = Layers.stream("Scd2Stream", t.queryProgress("catchup-scd2"))
    val scd2Files = Files.walk(Paths.get(lastRun, "scd2")).iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))
    TableStats.of(s"$lastRun/table", "catchup") ++ ingest ++ Map(
      "IngestJob.batches" -> ingest("IngestJob.batches") / per,
      "MergeEngine.compact_ms" -> medianMs("MergeEngine.compact"),
      "Scd2Stream.replay_ms" -> medianMs("Scd2Stream.start"),
      "Scd2Stream.batches" -> scd2("Scd2Stream.batches") / per,
      "Scd2Stream.output_files" -> scd2Files.toDouble)
  }
}
