package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.cdc._

/** `serve_reads`: one closed-loop client reads a table held at the default
  * compaction policy's worst allowed read amplification — a compacted base
  * plus `maxDeltaFilesPerBucket - 1` merge-on-read delta epochs — while
  * nothing writes. Only the read path runs.
  */
object ServeReads extends Workload {
  val name = "serve_reads"

  val Events = 60000L
  val Docs = 15000L
  val BaseFiles = 1
  val DeltaEpochs = CompactionPolicy().maxDeltaFilesPerBucket - 1
  val Buckets = 16
  val KeyBatch = 16
  val IncrBuckets = 2
  /** The client's op cycle: L point lookup, I incremental bucket read,
    * F change-feed window, S full scan.
    */
  val Cycle = "LLLILLFLLS"

  def inputs: Seq[(String, Any)] = Seq(
    "events" -> Events, "docs" -> Docs, "zipf_exp" -> 3.0, "dup_per_mille" -> 20,
    "op_mix_insert_update_delete" -> "70/25/5", "buckets" -> Buckets,
    "base_log_files" -> BaseFiles, "delta_epochs" -> DeltaEpochs,
    "lookup_key_batch" -> KeyBatch, "incr_buckets_per_read" -> IncrBuckets,
    "op_cycle" -> Cycle, "client" -> "1 thread, closed loop, no writes")

  /** A table row as the oracle knows it. */
  final case class Doc(lsn: Long, tokens: Seq[Int], nTok: Int, source: String)

  private var tableDir = ""
  private var baseVersion = 0L
  /** Oracle state after the base, and after each delta epoch. */
  private var states: Vector[Map[String, Doc]] = Vector.empty
  /** First LSN of each delta epoch. */
  private var epochLsn: Vector[Long] = Vector.empty
  private var bucketOf: Map[String, Int] = Map.empty
  private var rng: java.util.Random = _
  private var seed = 0L
  private var lookupPlanMs = new Series("lookup_plan")
  private val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def docOf(r: Row): (String, Doc) =
    r.getAs[String]("doc_id") -> Doc(r.getAs[Long]("_lsn"), r.getAs[Seq[Int]]("tokens").toVector,
      r.getAs[Int]("n_tok"), r.getAs[String]("source"))

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    seed = ctx.seed
    // every delta epoch carries fresh events: the two trailing
    // duplicate-only chunks of the log are left out
    val cfg = ChangelogGen.Config(numEvents = Events, numDocs = Docs, seed = ctx.seed,
      numFiles = BaseFiles + DeltaEpochs)
    val all = ctx.dir("serve/all")
    Log.phase("serve log")(Logs.write(spark, cfg, all))
    val files = Files.list(Paths.get(all)).toArray.map(_.asInstanceOf[Path])
      .sortBy(_.getFileName.toString).take(BaseFiles + DeltaEpochs)
    val log = ctx.dir("serve/log")
    Files.createDirectories(Paths.get(log))
    def admit(fs: Seq[Path]): Unit = fs.foreach(f =>
      Files.copy(f, Paths.get(log).resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
    tableDir = ctx.dir("serve/table")
    val ingest = IngestJob.Config(logDir = log, tableDir = tableDir,
      checkpointDir = ctx.dir("serve/ckpt"), queryId = "serve-build", maxFilesPerTrigger = Some(1),
      compaction = CompactionPolicy.Never)
    admit(files.take(BaseFiles).toSeq)
    val table = Log.phase("serve base")(
      IngestJob.replay(spark, ingest.copy(maxFilesPerTrigger = None)))
    Log.phase("serve compact")(MergeEngine.compact(spark, table))
    baseVersion = table.currentVersion.get
    admit(files.drop(BaseFiles).toSeq)
    Log.phase("serve deltas")(IngestJob.replay(spark, ingest))
    require(table.currentVersion.get == baseVersion + DeltaEpochs,
      s"expected $DeltaEpochs delta epochs, table is at v${table.currentVersion.get}")

    // oracle: fold the log file by file (re-deliveries are exact repeats
    // of an earlier LSN and fold once), snapshotting after the base and
    // after each delta file
    val log0 = Logs.read(spark, all)
    val rows = Log.phase("serve oracle")(log0.filter(IngestJob.validExpr(log0))
      .withColumn("chunk", Logs.chunkOf).filter(col("chunk") < files.length)
      .orderBy("chunk", "lsn").collect())
    val seen = mutable.HashSet.empty[Long]
    var state = Map.empty[String, Doc]
    val byChunk = rows.groupBy(_.getAs[Int]("chunk"))
    states = Vector.empty
    epochLsn = Vector.empty
    for (k <- 0 until files.length) {
      val evs = byChunk.getOrElse(k, Array.empty[Row]).filter(r => seen.add(r.getAs[Long]("lsn")))
      if (k >= BaseFiles)
        epochLsn :+= evs.headOption.map(_.getAs[Long]("lsn")).getOrElse(Long.MaxValue)
      evs.foreach { r =>
        val id = r.getAs[String]("doc_id")
        state = if (r.getAs[String]("op") == Model.OpDelete) state - id
          else state + (id -> Doc(r.getAs[Long]("lsn"), r.getAs[Seq[Int]]("tokens").toVector,
            r.getAs[Int]("n_tok"), r.getAs[String]("source")))
      }
      if (k >= BaseFiles - 1) states :+= state
    }
    import spark.implicits._
    bucketOf = state.keys.toSeq.toDF("doc_id")
      .select(col("doc_id"), SnapshotTable.bucketOf(col("doc_id"), Buckets))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    rng = new java.util.Random(ctx.seed)
  }

  private val md5 = MessageDigest.getInstance("MD5")

  /** A zipf-drawn key, with `ChangelogGen`'s popularity skew. */
  private def key(): String = {
    val idx = math.floor(Docs * math.pow(rng.nextDouble(), 3.0)).toLong
    md5.digest(s"doc-$idx".getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private def table = new SnapshotTable(tableDir)
  private def current = states.last

  private def lookup(ctx: Ctx, keys: Seq[String]): Array[Row] = {
    ctx.tracer.span("GraftSource.lookup") {
      val df = ctx.spark.read.format("graft").load(tableDir).where(col("doc_id").isin(keys: _*))
      val rows = df.collect()
      lookupPlanMs.add(df.queryExecution.tracker.phases.collect {
        case (phase, s) if phase != "parsing" => s.durationMs.toDouble
      }.sum)
      rows
    }
  }

  private def feedRows(d: DataFrame): Set[(String, String, Option[Doc])] =
    d.collect().map { r =>
      val post = Option(r.getAs[Row]("post_image")).map(p =>
        Doc(r.getAs[Long]("lsn"), p.getAs[Seq[Int]]("tokens").toVector, p.getAs[Int]("n_tok"),
          p.getAs[String]("source")))
      (r.getAs[String]("doc_id"), r.getAs[String]("change_op"), post)
    }.toSet

  /** The feed the oracle expects between delta epochs `a` and `b`. */
  private def expectedFeed(a: Int, b: Int): Set[(String, String, Option[Doc])] = {
    val (from, to) = (states(a), states(b))
    (from.keySet ++ to.keySet).toSeq.flatMap { k =>
      (from.get(k), to.get(k)) match {
        case (None, Some(d)) => Some((k, "I", Some(d)))
        case (Some(x), Some(d)) if x != d => Some((k, "U", Some(d)))
        case (Some(_), None) => Some((k, "D", None))
        case _ => None
      }
    }.toSet
  }

  /** Lookups need several calls to reach their steady latency. */
  val WarmupOps = "LLLLIFS"

  def warmup(ctx: Ctx): Unit = {
    val saved = rng
    rng = new java.util.Random(seed + 1)
    WarmupOps.foreach { op =>
      Reference.ms(ctx.spark)
      runOp(ctx, new Ops, op, Map.empty[Char, Series].withDefault(c => new Series(c.toString)), 0L)
    }
    rng = saved
  }

  private def runOp(ctx: Ctx, ops: Ops, op: Char, series: Map[Char, Series], opId: Long): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    op match {
      case 'L' =>
        val keys = Seq.fill(KeyBatch)(key()).distinct
        ops.timed(series('L'))(t.span("op.lookup", opId)(lookup(ctx, keys))) { rows =>
          rowsOut("lookup") += rows.length
          rows.map(docOf).toMap == keys.flatMap(k => current.get(k).map(k -> _)).toMap &&
            rows.length == rows.map(_.getAs[String]("doc_id")).distinct.length
        }
      case 'I' =>
        val buckets = rng.ints(0, Buckets).distinct().limit(IncrBuckets).toArray.toSet
        val minLsn = epochLsn(1 + rng.nextInt(DeltaEpochs - 1))
        ops.timed(series('I'))(t.span("op.incr", opId)(t.span("SnapshotTable.readBuckets")(
          table.readBuckets(spark, buckets, minLsn).collect()))) { rows =>
          rowsOut("incr") += rows.length
          rows.map(docOf).toMap == current.filter { case (k, d) =>
            buckets.contains(bucketOf(k)) && d.lsn >= minLsn }
        }
      case 'F' =>
        val a = rng.nextInt(DeltaEpochs)
        val b = a + 1 + rng.nextInt(DeltaEpochs - a)
        ops.timed(series('F'))(t.span("op.feed", opId)(t.span("ChangeFeed.between")(
          feedRows(ChangeFeed.between(spark, table, baseVersion + a, baseVersion + b))))) { got =>
          rowsOut("feed") += got.size
          got.map { case (k, o, d) => (k, o, d.map(_.copy(lsn = 0L))) } ==
            expectedFeed(a, b).map { case (k, o, d) => (k, o, d.map(_.copy(lsn = 0L))) } &&
            got.forall { case (k, _, d) => d.forall(_.lsn == states(b)(k).lsn) }
        }
      case 'S' =>
        ops.timed(series('S'))(t.span("op.scan", opId)(t.span("SnapshotTable.read")(
          table.read(spark).write.format("noop").mode("overwrite").save())))(_ => true)
    }
  }

  def measure(ctx: Ctx): Pass = {
    val series = Cycle.distinct.map(c => c -> new Series(s"serve_$c")).toMap
    val refs = new Series("reference")
    lookupPlanMs = new Series("lookup_plan")
    rowsOut.clear()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      refs.add(Reference.ms(ctx.spark))
      runOp(ctx, ctx.ops, Cycle(i % Cycle.length), series, i)
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val loopS = wall - refs.values.sum / 1000.0
    val done = series.values.map(_.n).sum
    checkLaws(ctx)
    Pass(series('L'), done / loopS, refs,
      Seq("lookup" -> Report.latency(series('L')), "incr" -> Report.latency(series('I')),
        "feed" -> Report.latency(series('F')), "scan" -> Report.latency(series('S')),
        "reads_per_s" -> Report.value(done / loopS, "ops/s", done),
        "reference_ms" -> Report.latency(refs)),
      wall, done)
  }

  /** Outside the timed region: a full scan equals the oracle state, and a
    * sampled feed window replayed onto its FROM state gives the TO state.
    */
  private def checkLaws(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.ops.check("serve_scan")(
      table.readWithLsn(spark).collect().map(docOf).toMap == current)
    val a = rng.nextInt(DeltaEpochs)
    val b = a + 1 + rng.nextInt(DeltaEpochs - a)
    ctx.ops.check("serve_feed_law") {
      val from = table.readVersionWithLsn(spark, baseVersion + a).collect().map(docOf).toMap
      val to = table.readVersionWithLsn(spark, baseVersion + b).collect().map(docOf).toMap
      val applied = feedRows(ChangeFeed.between(spark, table, baseVersion + a, baseVersion + b))
        .foldLeft(from) {
          case (s, (k, "D", _)) => s - k
          case (s, (k, _, Some(d))) => s + (k -> d)
          case (s, _) => s
        }
      applied == to
    }
  }

  def layers(ctx: Ctx, pass: Pass): Map[String, Double] = {
    val t = ctx.tracer
    val (lookupJobs, lookupRead) = Layers.readPath(t, "GraftSource.lookup", rowsOut("lookup"))
    val (_, incrRead) = Layers.readPath(t, "SnapshotTable.readBuckets", rowsOut("incr"))
    val (feedJobs, feedRead) = Layers.readPath(t, "ChangeFeed.between", rowsOut("feed"))
    val feeds = math.max(1, t.closed("ChangeFeed.between").size)
    TableStats.of(tableDir, "serve-build").filter { case (k, _) =>
      k.startsWith("SnapshotTable.") || k.startsWith("Manifest.") } ++ Map(
      "GraftSource.lookup_plan_ms" -> (if (lookupPlanMs.n == 0) 0.0 else lookupPlanMs.p(0.5)),
      "GraftSource.lookup_jobs_per_op" -> lookupJobs,
      "GraftSource.lookup_rows_read_per_row" -> lookupRead,
      "SnapshotTable.incr_rows_read_per_row" -> incrRead,
      "ChangeFeed.rows_out" -> rowsOut("feed").toDouble / feeds,
      "ChangeFeed.rows_read_per_row_out" -> feedRead,
      "ChangeFeed.jobs_per_op" -> feedJobs)
  }
}
