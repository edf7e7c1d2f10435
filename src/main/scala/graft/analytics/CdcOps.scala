package graft.analytics

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc._
import graft.util.{Fixtures, Tables, Timed}

/** Flagship CDC queries: the whole engine — changelog tail, two-level
  * dedup, fenced MERGE, snapshot commit — exercised end-to-end inside a
  * DuckDB-verifiable query. The changelog is derived *deterministically
  * from the `documents` table* (tokenizer + op rules are plain arithmetic),
  * so the final snapshot state is expressible as ANSI SQL over the same
  * parquet and the driver's oracle can hash-check the engine's replay.
  *
  * Event rules (doc_id `d`):
  *   - every doc inserts at lsn 3d with tokens = H(words(text));
  *   - d % 5 == 0 updates at lsn 3d+1 with tokens' = (t*31+7) % V;
  *   - d % 17 == 0 deletes at lsn 3d+2;
  *   - d % 13 == 0 re-delivers its insert in a later chunk (duplicate);
  *   - d % 23 == 0 also emits a MALFORMED update (n_tok = size+1, violating
  *     the token-count invariant) — quarantined by the ingest validity
  *     split, never applied (ON_ERROR='CONTINUE' analog; read back by q47).
  * Word hash H(w) = (len(w)*1000003 + ascii(first)*101 + ascii(last)) % V,
  * V = 50257 — identical arithmetic in Spark and DuckDB.
  */
object CdcOps extends QueryPack {

  private val V = 50257

  private val timed = new Timed("cdcops-timing", "GRAFT_CDCOPS_TIMING")

  /** Tokenize a text column: split on spaces, drop empties, hash words. */
  private def tokenize(text: Column): Column = {
    val words = filter(split(text, " "), w => length(w) > 0)
    transform(words, w =>
      ((length(w).cast("long") * 1000003L +
        ascii(w.substr(lit(1), lit(1))).cast("long") * 101L +
        ascii(w.substr(length(w), lit(1))).cast("long")) % V).cast("int"))
  }

  /** The oracled fingerprint of a tokens array: md5 of its comma-joined
    * elements.
    */
  private def tokensFp(tokens: Column): Column =
    md5(array_join(tokens.cast("array<string>"), ","))

  /** Build the deterministic changelog from `documents`. */
  private def changelog(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "documents").select(
      col("doc_id").as("did"),
      col("doc_id").cast("string").as("doc_id"),
      tokenize(col("text")).as("base_toks"),
      col("source"))
    val common = Seq(
      pmod(col("did"), lit(4L)).cast("int").as("partition"),
      col("doc_id"))
    val nullTs = lit(null).cast("timestamp").as("ts")

    val ins = base.select(Seq((col("did") * 3).as("lsn")) ++ common ++ Seq(
      lit("I").as("op"),
      col("base_toks").as("tokens"),
      size(col("base_toks")).as("n_tok"),
      col("source"), nullTs): _*)
    val upd = base.filter(pmod(col("did"), lit(5L)) === 0)
      .select(Seq((col("did") * 3 + 1).as("lsn")) ++ common ++ Seq(
        lit("U").as("op"),
        transform(col("base_toks"), t => (t * 31 + 7) % V).as("tokens"),
        size(col("base_toks")).as("n_tok"),
        col("source"), nullTs): _*)
    val del = base.filter(pmod(col("did"), lit(17L)) === 0)
      .select(Seq((col("did") * 3 + 2).as("lsn")) ++ common ++ Seq(
        lit("D").as("op"),
        lit(null).cast("array<int>").as("tokens"),
        lit(null).cast("int").as("n_tok"),
        lit(null).cast("string").as("source"), nullTs): _*)
    // malformed update: n_tok disagrees with size(tokens) → fails the
    // ingest validity predicate and lands in the quarantine split; op="U"
    // keeps it out of the d%13 duplicate re-delivery branch
    val bad = base.filter(pmod(col("did"), lit(23L)) === 0)
      .select(Seq((col("did") * 3).as("lsn")) ++ common ++ Seq(
        lit("U").as("op"),
        col("base_toks").as("tokens"),
        (size(col("base_toks")) + 1).as("n_tok"),
        col("source"), nullTs): _*)
    ins.unionByName(upd).unionByName(del).unionByName(bad)
      .select("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source", "ts")
  }

  /** One full replay per input snapshot: the table plus its side outputs
    * (quarantine split, work dir) — several queries read the same result.
    */
  private[analytics] case class Replay(table: SnapshotTable, quarantineDir: String,
      work: String)

  /** A CDC fixture ([[Fixtures]] entry): every one derives from
    * `documents` alone, so that is the table its key fingerprints.
    */
  private def fixture[V](s: SparkSession, dir: String, name: String)(
      build: Fixtures.Build => V): V =
    Fixtures(s, name, dir, "documents")(build)

  /** The deterministic changelog, tokenized ONCE per fixture key and
    * persisted: every fixture builder (replay, writer-API, WAP, salted,
    * CDF, chain, evolution, purge, compaction, SCD2) derives from the same
    * event stream, and each was re-running the full tokenize-and-derive
    * pipeline plus its own persist — ~8 redundant corpus scans per bench
    * pass (guide §1.2: don't compute things twice).
    */
  private def changelogCached(s: SparkSession, dir: String): DataFrame =
    fixture(s, dir, "changelog") { f =>
      val df = f.persist(changelog(s, dir))
      df.count() // materialize now: every consumer reads the cache
      df
    }

  /** The cached changelog minus the malformed events the ingest
    * validity split quarantines.
    */
  private def validLog(s: SparkSession, dir: String): DataFrame = {
    val full = changelogCached(s, dir)
    full.filter(IngestJob.validExpr(full))
  }

  /** max(doc_id), computed once per fixture key — a dozen call sites each
    * ran their own tiny aggregation job over `documents`.
    */
  private def maxDidFor(s: SparkSession, dir: String): Long =
    fixture(s, dir, "max-did") { _ =>
      Tables.load(s, dir, "documents").agg(max("doc_id")).head().getLong(0)
    }

  /** The first LSN above every changelog event (the last is a delete at
    * 3·maxDid + 2): synthetic epochs layered on the log start here.
    */
  private def nextLsn(s: SparkSession, dir: String): Long = 3L * maxDidFor(s, dir) + 3L

  /** Build the SCD2 temporal table through the STREAMING maintainer
    * (readStream → foreachBatch → Scd2.merge) over the same 5-epoch log
    * the MERGE replay consumes — q73 puts this third path under q64's
    * oracle. The stream applies the validity filter and the
    * per-partition watermark dedup itself (Scd2Stream scaladoc).
    */
  private def scd2StreamFor(s: SparkSession, dir: String): String =
    fixture(s, dir, "scd2stream") { f =>
      val logDir = s"${replayFor(s, dir).work}/log"
      val work = f.workDir()
      Scd2Stream.start(s, Scd2Stream.Config(
        logDir = logDir, tableDir = s"$work/table",
        checkpointDir = s"$work/ckpt", maxFilesPerTrigger = Some(1)))
        .awaitTermination()
      work
    }

  /** q74's compaction-policy bound: at most this many delta files may
    * cover any one bucket before the SIZE-based maintenance must fold them
    * into base (deliberately tight so a 10-epoch replay trips it
    * repeatedly mid-stream).
    */
  private val q74DeltaBound = 2
  /** q74's slack for one write's files per bucket: an epoch's delta files
    * on top of the policy bound, and the final compact's base files (its
    * range exchange may split a bucket between two tasks).
    */
  private val q74Splits = 2

  /** Many-tiny-epochs replay for the compaction gate (q74): the same
    * valid changelog re-chunked into 10 mtime-ordered LSN slices and
    * ingested with a tight per-bucket read-amplification bound, then one
    * final full compact. Final state == the 5-epoch replay's (fold law),
    * so the survivor-state oracle doubles as the data-integrity check.
    */
  private def compactionFor(s: SparkSession, dir: String): String =
    fixture(s, dir, "compaction") { f =>
      val work = f.workDir()
      val logDir = Paths.get(s"$work/log")
      Files.createDirectories(logDir)
      val t0 = System.currentTimeMillis()
      val log = validLog(s, dir)
      val maxLsn = log.agg(max("lsn")).head().getLong(0)
      val chunk = maxLsn / 10 + 1
      ChangelogGen.writeChunkedLog(
        log.withColumn("_chunk", floor(col("lsn") / chunk).cast("long")), logDir,
        k => f"chunk-$k%05d.parquet", t0, expected = (0L until 10L))
      val table = IngestJob.replay(s, IngestJob.Config(
        logDir = logDir.toString, tableDir = s"$work/table",
        checkpointDir = s"$work/ckpt", maxFilesPerTrigger = Some(1),
        numBuckets = 8, queryId = "compaction-gate",
        compaction = CompactionPolicy(maxDeltaBytes = Long.MaxValue,
          maxDeltaFilesPerBucket = q74DeltaBound, targetFileBytes = 4L << 20)))
      MergeEngine.compact(s, table, targetFileBytes = 4L << 20)
      work
    }

  /** Write-audit-publish build (q80): the same 5 epochs as the writer-API
    * build, but every epoch goes stage → audit → publish, and after epoch
    * 2 a POISONED epoch (every chunk-2 doc re-delivered at a higher LSN
    * with a corrupted n_tok) is staged on its own fence lane — the audit
    * must reject it and the abandon must leave no trace, or the final
    * state diverges from the survivor oracle (the poison's higher LSN
    * would win reconcile and flip every chunk-2 n_tok). Audit outcomes
    * land in `audit.log` for the query's booleans.
    */
  private def wapTableFor(s: SparkSession, dir: String): String =
    fixture(s, dir, "wap") { f =>
      val work = f.workDir()
      val t = new graft.cdc.SnapshotTable(s"$work/table", 8)
      val log = validLog(s, dir)
      var cleanPassed = 0
      var poisonRejected = false
      epochBatches(s, dir, log).foreach { case (k, batch) =>
        t.ensureInitialized(batch.schema)
        val staged = Wap.stage(s, t, batch, "wap", k)
        val report = Wap.audit(s, t, staged)
        require(report.passed, s"clean epoch $k failed audit: ${report.failures}")
        cleanPassed += 1
        Wap.publish(t, staged)
        if (k == 2) {
          val poison = batch
            .withColumn("lsn", col("lsn") + 10000000L)
            .withColumn("op", lit("U"))
            .withColumn("n_tok", col("n_tok") + 1)
          val badStage = Wap.stage(s, t, poison, "wap-poison", 0L)
          val badReport = Wap.audit(s, t, badStage)
          poisonRejected = !badReport.passed &&
            badReport.failures.exists(_._1 == "n_tok_consistent")
          Wap.abandon(badStage)
        }
      }
      Files.write(Paths.get(s"$work/audit.log"),
        s"clean_passed=$cleanPassed\npoison_rejected=$poisonRejected\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      work
    }

  /** Hot-key update-storm fixture (q81): every doc's insert plus, for
    * each did % 50 == 0 key, 24 higher-LSN updates in the SAME batch — a
    * zipf-hot key's write amplification in miniature. Merged with the
    * salted two-phase pre-combine ON (dedup layer 2), which must collapse
    * each key map-side to its max-LSN event BEFORE the delta write: the
    * epoch metric's rowsWritten therefore equals the doc count, proving
    * the storm never reached disk.
    */
  private val q81StormR = 24
  private def saltedFor(s: SparkSession, dir: String): String =
    fixture(s, dir, "salted") { f =>
      val work = f.workDir()
      val t = new SnapshotTable(s"$work/table", 8)
      val inserts = changelogCached(s, dir).filter(col("op") === "I")
      val base = nextLsn(s, dir)
      val storm = inserts
        .filter(pmod(col("doc_id").cast("long"), lit(50L)) === 0)
        .withColumn("r", explode(sequence(lit(0), lit(q81StormR - 1))))
        .withColumn("lsn",
          lit(base) + col("doc_id").cast("long") * q81StormR + col("r"))
        .withColumn("op", lit("U"))
        .select(inserts.columns.map(col): _*)
      val events = inserts.unionByName(storm)
      t.ensureInitialized(events.schema)
      MergeEngine.merge(s, t, events, "salted", 0L, saltedPreDedup = true)
      work
    }

  /** Change-feed fixture (q82): v1 = all inserts; v2 = one mixed epoch —
    * did%4==1 updates (transformed tokens), did%4==2 deletes, did%4==3
    * inserts of NEW docs ("n"+did). The feed between v1 and v2 must
    * carry exactly those net ops with the right pre/post images.
    */
  private def cdfFor(s: SparkSession, dir: String): String =
    fixture(s, dir, "cdf") { f =>
      val work = f.workDir()
      val t = new SnapshotTable(s"$work/table", 8)
      val inserts = changelogCached(s, dir).filter(col("op") === "I")
      t.ensureInitialized(inserts.schema)
      MergeEngine.merge(s, t, inserts, "cdf", 0L) // v1
      val did = col("doc_id").cast("long")
      val base = nextLsn(s, dir)
      val upd = inserts.filter(pmod(did, lit(4L)) === 1)
        .withColumn("tokens", transform(col("tokens"), tt => (tt * 31 + 7) % V))
        .withColumn("lsn", lit(base) + did)
        .withColumn("op", lit("U"))
      val del = inserts.filter(pmod(did, lit(4L)) === 2)
        .withColumn("tokens", lit(null).cast("array<int>"))
        .withColumn("n_tok", lit(null).cast("int"))
        .withColumn("lsn", lit(base) + did)
        .withColumn("op", lit("D"))
      val ins = inserts.filter(pmod(did, lit(4L)) === 3)
        .withColumn("lsn", lit(base) + did)
        .withColumn("doc_id", concat(lit("n"), col("doc_id")))
      MergeEngine.merge(s, t, upd.unionByName(del).unionByName(ins), "cdf", 1L) // v2
      work
    }

  /** Chained-tables fixture (q84): table B follows table A by consuming
    * A's STREAMING change feed through the public source and writing it
    * back through the public fenced sink — the full composability loop
    * (ingest → table → incremental consumer → table). Feed rows map to
    * change events (I/U upsert the post-image, D deletes); B's reconcile
    * replays them under the same last-LSN-wins algebra, so B's state
    * must equal A's.
    */
  private def chainFor(s: SparkSession, dir: String): String =
    fixture(s, dir, "chain") { f =>
      val aWork = cdfFor(s, dir)
      val work = f.workDir()
      val q = s.readStream.format("graft")
        .option("startVersion", 0L).load(s"$aWork/table")
        .select(
          col("lsn"), lit(0).as("partition"),
          when(col("change_op") === "D", lit("D")).otherwise(lit("U")).as("op"),
          col("doc_id"),
          col("post_image.tokens").as("tokens"),
          col("post_image.n_tok").as("n_tok"),
          col("post_image.source").as("source"),
          lit(null).cast("timestamp").as("ts"))
        .writeStream.format("graft")
        .option("path", s"$work/table")
        .option("queryId", "chain").option("numBuckets", "8")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      work
    }

  /** Merge-path schema-evolution fixture (q85): epoch 0 inserts under the
    * v1 wire schema (n_tok int); epoch 1 updates did%3==0 docs under a
    * WIDENED+EXTENDED schema (n_tok bigint, new `lang` column) — the
    * north-star's "new columns / widened n_tok" case, through the MERGE
    * itself (not the analytics union): old files keep their physical
    * schema and are read by name under the evolved one, so old rows
    * surface lang = NULL.
    */
  private def evoFor(s: SparkSession, dir: String): String =
    fixture(s, dir, "evo") { f =>
      val work = f.workDir()
      val t = new SnapshotTable(s"$work/table", 8)
      val inserts = changelogCached(s, dir).filter(col("op") === "I")
      t.ensureInitialized(inserts.schema)
      MergeEngine.merge(s, t, inserts, "evo", 0L)
      val did = col("doc_id").cast("long")
      val upd = inserts.filter(pmod(did, lit(3L)) === 0)
        .withColumn("tokens", transform(col("tokens"), tt => (tt * 31 + 7) % V))
        .withColumn("n_tok", col("n_tok").cast("bigint"))
        .withColumn("lsn", lit(nextLsn(s, dir)) + did)
        .withColumn("op", lit("U"))
        .withColumn("lang", concat(lit("en-"), pmod(did, lit(7L)).cast("string")))
      MergeEngine.merge(s, t, upd, "evo", 1L)
      work
    }

  /** Right-to-be-forgotten fixture (q76): a fresh replay of the shared
    * 5-epoch log into its OWN table (the memoized replay table is read by
    * many queries and must never be mutated), then `MergeEngine.purgeKeys`
    * of every doc_id with did % 997 == 0 — a bounded erasure request that
    * leaves most buckets untouched — then snapshot expiry so the
    * pre-purge files are physically gone, not just unreferenced. The
    * replay's MOR deltas are left in place deliberately: the purge must
    * fold a delta covering a touched bucket into the rewrite.
    */
  private def purgedTableFor(s: SparkSession, dir: String): String =
    fixture(s, dir, "purge") { f =>
      val logDir = s"${replayFor(s, dir).work}/log"
      val work = f.workDir()
      val table = IngestJob.replay(s, IngestJob.Config(
        logDir = logDir, tableDir = s"$work/table",
        checkpointDir = s"$work/ckpt", maxFilesPerTrigger = Some(1),
        numBuckets = 8, queryId = "purge-build"))
      val keys = Tables.load(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(97L)) === 0)
        .select(col("doc_id").cast("string").as("doc_id"))
      MergeEngine.purgeKeys(s, table, keys)
      table.expireSnapshots(keepLast = 1, minAgeMs = 0L)
      work
    }

  /** Bench hook: [[Fixtures.reset]]. */
  private[graft] def reset(): Unit = Fixtures.reset()

  /** The 5-epoch chunking of the changelog, including the duplicate
    * re-delivery of the previous chunk's d%13 inserts — ONE definition,
    * so the library-ingest replay (q50) and the writer-API build (q61)
    * provably consume the identical event stream.
    */
  private def epochBatches(s: SparkSession, dir: String,
      log: DataFrame): Seq[(Int, DataFrame)] = {
    val maxDid = maxDidFor(s, dir)
    val chunk = maxDid / 4 + 1
    (0 until 5).map { k =>
      val lo = k * chunk; val hi = (k + 1) * chunk
      val fresh = log.filter(col("lsn") >= lo * 3 && col("lsn") < hi * 3)
      val dups = log.filter(
        col("op") === "I" && pmod(col("lsn") / 3, lit(13L)) === 0 &&
          col("lsn") >= (k - 1) * chunk * 3 && col("lsn") < lo * 3)
      k -> fresh.unionByName(dups)
    }
  }

  /** Build the same final state as [[replayFor]], but through the PUBLIC
    * batch writer API (`df.write.format("graft")`, one fenced epoch per
    * chunk) instead of the library IngestJob — q61 puts that path under
    * the external hash gate. The writer applies clean change batches
    * verbatim (validation/quarantine is the ingest job's concern), so the
    * malformed d%23 events are pre-filtered by the same validity rule;
    * duplicate re-deliveries stay IN, proving the below-watermark dedup
    * fires inside the writer path too.
    */
  private def sinkTableFor(s: SparkSession, dir: String): String =
    fixture(s, dir, "sink") { f =>
      val work = f.workDir()
      val tableDir = s"$work/table"
      // the shared cached changelog backs every epoch read: each epoch
      // would otherwise re-run the full tokenize-and-derive pipeline
      epochBatches(s, dir, validLog(s, dir)).foreach { case (k, batch) =>
        batch.write.format("graft")
          .option("queryId", "writer-api").option("epochId", k)
          .mode(org.apache.spark.sql.SaveMode.Append).save(tableDir)
      }
      work
    }

  /** The type-2 temporal history of the validated changelog (shared by
    * q64's full dump and q75's point-in-time read). Includes the d%13
    * duplicate re-deliveries — collapsed by Scd2's same-ord dedup, proving
    * the at-least-once transport contract on this path too.
    */
  private def scd2History(s: SparkSession, dir: String): DataFrame = {
    val log = validLog(s, dir)
    val withDups = log.unionByName(
      log.filter(col("op") === "I" && pmod(col("lsn") / 3, lit(13L)) === 0))
    Scd2.fromChangelog(withDups, Seq("doc_id"), "lsn")
  }

  /** The library-ingest replay (q50): regenerated data or a restarted
    * session rebuilds it, and the superseded work dir is deleted.
    */
  private[analytics] def replayFor(s: SparkSession, dir: String): Replay =
    fixture(s, dir, "replay") { f =>
      val work = f.workDir()
      val logDir = Paths.get(s"$work/log")
      Files.createDirectories(logDir)
      val t0 = System.currentTimeMillis()
      val log = changelogCached(s, dir)
      timed("replay log-build") {
        val tagged = epochBatches(s, dir, log)
          .map { case (k, batch) => batch.withColumn("_chunk", lit(k.toLong)) }
          .reduce(_.unionByName(_))
        ChangelogGen.writeChunkedLog(tagged, logDir,
          k => f"chunk-$k%05d.parquet", t0, expected = (0L until 5L))
      }
      val table = timed("replay ingest")(IngestJob.replay(s, IngestJob.Config(
        logDir = logDir.toString,
        tableDir = s"$work/table",
        checkpointDir = s"$work/ckpt",
        maxFilesPerTrigger = Some(1),
        numBuckets = 8,
        quarantineDir = Some(s"$work/quarantine"))))
      Replay(table, s"$work/quarantine", work)
    }

  def queries: Map[String, Query] = Map(
    // The north-star path: stream-tail → MERGE → snapshot, end-to-end.
    // The token array is projected through a deterministic md5 fingerprint
    // so the driver's pandas-based hash compare can sort/factorize the
    // column (a raw list column crashes its lexsort); raw element-wise
    // array equality stays covered by ReplayEqualitySpec / FoldOracle.
    "q50_cdc_replay" -> { (s, dir) =>
      import s.implicits._
      replayFor(s, dir).table.read(s)
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", $"source")
        .orderBy("doc_id")
    },
    // Lineage + per-epoch metrics of the same replay, committed atomically
    // with the data. Every column here is derivable in SQL from the
    // deterministic changelog rules (header comment) — except
    // touchedBuckets, which depends on Spark's xxhash64 bucket assignment
    // (not reproducible in DuckDB; asserted in CdcLineageSpec instead).
    "q51_cdc_lineage" -> { (s, dir) =>
      import s.implicits._
      val m = replayFor(s, dir).table.manifest.get
      m.metrics.toDF()
        .select($"queryId", $"epochId", $"eventsIn", $"belowWatermark",
          $"collapsedInBatch", $"upserts", $"deletes", $"rowsWritten")
        .orderBy("queryId", "epochId")
    },
    // The source-offset ledger itself (SURVEY S2): per-partition applied
    // LSN high-watermarks after the full replay — each partition's max is
    // the highest event LSN the changelog rules route to it, so the
    // lineage record is independently derivable in SQL.
    "q45_cdc_watermarks" -> { (s, dir) =>
      import s.implicits._
      val m = replayFor(s, dir).table.manifest.get
      m.watermarks.toSeq.map { case (k, v) => (k.toInt, v) }
        .toDF("partition", "watermark")
        .orderBy("partition")
    },
    // Quarantine read-back (S3's ON_ERROR='CONTINUE' accounting,
    // nyc_taxi_sync_dag.py:47): the split IngestJob wrote per epoch is a
    // first-class table — counts reconcile against the changelog rules
    // (one malformed event per d%23==0 doc, routed to its chunk's epoch).
    // n_tok_excess re-checks the payload (each malformed row overshoots
    // size(tokens) by exactly 1).
    "q47_quarantine_readback" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(replayFor(s, dir).quarantineDir)
        .groupBy($"epoch".cast("bigint").as("epoch"))
        .agg(
          count(lit(1)).as("n_quarantined"),
          countDistinct($"doc_id").as("n_docs"),
          sum($"n_tok" - size($"tokens")).as("n_tok_excess"))
        .orderBy("epoch")
    },
    // Incremental-consumer read (SURVEY §4.3 / S2 downstream side): the
    // manifest-pruned "changed since LSN X" scan — readPruned skips any
    // file whose maxLsn is below the threshold before reading a byte, and
    // returns only current winners at/above it. Here every bucket is
    // read (bucket ids hash with Spark's xxhash64, not reproducible
    // in SQL) so the DuckDB oracle derives the same set purely from the
    // changelog rules: survivors whose FINAL lsn (3d, or 3d+1 when
    // updated) clears the threshold. File-skipping correctness under
    // arbitrary bucket subsets is property-tested in
    // ReadPruningPropertySpec; this query puts the read path under the
    // driver's hash gate.
    "q49_incremental_read" -> { (s, dir) =>
      import s.implicits._
      val t = replayFor(s, dir).table
      val maxDid = maxDidFor(s, dir)
      val minLsn = 3L * (maxDid / 2)
      t.readPruned(s, t.manifest.get, minLsn = Some(minLsn))
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", col(Model.LsnCol).as("lsn"))
        .orderBy("doc_id")
    },
    // Snapshot-history diff via time travel (SnapshotTable.readVersion):
    // the rows that changed between two replay checkpoints — state after
    // epoch 2 (v3) vs after epoch 3 (v4) — derived independently in SQL
    // from the changelog rules (chunk-3 docs surviving their own-chunk
    // delete appear as 'added'; cross-version 'changed'/'removed'
    // classification is exercised in TimeTravelSpec). Old snapshots are
    // immutable data + manifests, so both reads are pure metadata
    // resolutions — no copy-on-read.
    "q48_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val t = replayFor(s, dir).table
      val cur = t.currentVersion.get
      def fp(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id",
        tokensFp($"tokens").as("fp"), $"n_tok")
      val before = fp(t.readVersion(s, cur - 2)).withColumnRenamed("fp", "fp_old")
        .withColumnRenamed("n_tok", "n_tok_old")
      val after = fp(t.readVersion(s, cur - 1)).withColumnRenamed("fp", "fp_new")
      before.join(after, Seq("doc_id"), "full")
        .withColumn("status",
          when($"fp_old".isNull, "added")
            .when($"fp_new".isNull, "removed")
            .when($"fp_old" =!= $"fp_new", "changed")
            .otherwise("unchanged"))
        .filter($"status" =!= "unchanged")
        .select($"doc_id", $"status", $"fp_new", $"n_tok")
        .orderBy("doc_id")
    },
    // The same changed-since contract as q49, but through the PUBLIC
    // data-source API (format("graft") + a DataFrame filter) instead of
    // the library call: the _lsn floor is pushed through the relation to
    // manifest file-skipping (GraftSourceSpec asserts the plan), and the
    // result must be identical — so the external hash gate now verifies
    // the data-source read path end-to-end.
    "q54_source_read" -> { (s, dir) =>
      import s.implicits._
      val r = replayFor(s, dir)
      val maxDid = maxDidFor(s, dir)
      val minLsn = 3L * (maxDid / 2)
      s.read.format("graft").load(r.table.root)
        .filter(col(Model.LsnCol) >= minLsn)
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", col(Model.LsnCol).as("lsn"))
        .orderBy("doc_id")
    },
    // Producer-sink readback (SURVEY S7, reference kafka_producer.py keyed
    // routing): the keyed changelog the generator WROTE is itself a
    // queryable artifact — this reads the raw log files back and
    // aggregates the producer contract per partition: op mix, duplicate
    // re-deliveries (count − distinct full rows; re-delivery is an exact
    // copy), and LSN bounds. The oracle re-derives every number from the
    // changelog rules alone (partition = did % 4 is plain arithmetic), so
    // the written artifact — not just the generator's intent — is under
    // the driver's hash gate. Per-partition LSN-monotone arrival order is
    // covered by the cdc specs (file order is part of the WAL contract and
    // needs file mtimes, which SQL can't see).
    "q53_producer_log_readback" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"${replayFor(s, dir).work}/log")
        .groupBy($"partition")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when($"op" === "I", 1L).otherwise(0L)).as("n_ins"),
          sum(when($"op" === "U", 1L).otherwise(0L)).as("n_upd"),
          sum(when($"op" === "D", 1L).otherwise(0L)).as("n_del"),
          (count(lit(1)) - countDistinct(struct($"lsn", $"op", $"n_tok")))
            .as("n_dup"),
          min($"lsn").as("min_lsn"), max($"lsn").as("max_lsn"))
        .orderBy("partition")
    },

    // The PUBLIC writer path under the hash gate: the same deterministic
    // changelog applied through df.write.format("graft") fenced epochs
    // must land in the exact q50 final state (valid events only — the
    // writer takes clean change batches; the below-watermark dedup of the
    // duplicate re-deliveries happens inside the engine either way).
    "q61_writer_api_state" -> { (s, dir) =>
      import s.implicits._
      s.read.format("graft").load(s"${sinkTableFor(s, dir)}/table")
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", $"source")
        .orderBy("doc_id")
    },

    // SCD2 temporal history of the same changelog: where q50 keeps only
    // survivors, this keeps every version with its [valid_from, valid_to)
    // LSN interval — the dbt-snapshot analog of the reference's monthly
    // incremental loads. Input includes the d%13 duplicate re-deliveries
    // (collapsed by Scd2's same-ord dedup) and excludes the d%23
    // malformed events via the SAME ingest validity rule the engine
    // applies, so the temporal view provably agrees with the ingest path.
    "q64_scd2_history" -> { (s, dir) =>
      import s.implicits._
      scd2History(s, dir)
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"valid_from_lsn", $"valid_to_lsn", $"is_current")
        .orderBy("doc_id", "valid_from_lsn")
    },

    // The POINT of a temporal table: answer "state AS OF time T" without
    // replaying the log. One interval-containment filter over the q64
    // history (valid_from <= L < valid_to) — no shuffle beyond the
    // table's own build, and at rest the predicate prunes on the interval
    // columns' file statistics. T = the same mid-log LSN q49's
    // incremental read anchors on.
    "q75_temporal_point_query" -> { (s, dir) =>
      import s.implicits._
      val maxDid = maxDidFor(s, dir)
      val L = 3 * (maxDid / 2)
      scd2History(s, dir)
        .filter($"valid_from_lsn" <= L &&
          ($"valid_to_lsn".isNull || $"valid_to_lsn" > L))
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"valid_from_lsn")
        .orderBy("doc_id")
    },

    // The INCREMENTAL maintenance path to the same temporal table: fold
    // the 5 epoch chunks through Scd2.merge (closed history passes
    // through, open rows close at each epoch's first event per key).
    // Cross-epoch duplicate re-deliveries are dropped by the same
    // watermark rule the ingest applies (an epoch's fresh events start at
    // its chunk boundary); the result must byte-match q64's full rebuild
    // — the q49/q54 pattern: one oracle, two engine paths.
    "q68_scd2_incremental" -> { (s, dir) =>
      import s.implicits._
      val log = validLog(s, dir)
      val maxDid = maxDidFor(s, dir)
      val chunk = maxDid / 4 + 1
      // below-watermark filter = the ingest dedup's contract: epoch k's
      // applied events all sit at/above its chunk boundary. foldEpochs
      // truncates lineage every 8 epochs (no-op at 5; load-bearing for
      // long folds — law-tested over 50 epochs in Scd2Spec).
      val batches = epochBatches(s, dir, log)
        .map { case (k, batch) => batch.filter($"lsn" >= k * chunk * 3) }
      val scd = Scd2.foldEpochs(batches, Seq("doc_id"), "lsn")
      scd.select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"valid_from_lsn", $"valid_to_lsn", $"is_current")
        .orderBy("doc_id", "valid_from_lsn")
    },

    // The STREAMING build of the same SCD2 table (q64 full rebuild, q68
    // incremental fold, q73 continuous maintenance): readStream over the
    // epoch files → foreachBatch → Scd2.merge, committed through the
    // SnapshotTable ledger: closed history append-only per epoch, only the
    // touched open buckets rewritten (O(batch + touched buckets)),
    // per-partition watermarks refusing re-deliveries including the
    // deleted-key resurrection case, epoch fence making replays no-ops.
    // One oracle, three engine paths.
    "q73_scd2_streaming" -> { (s, dir) =>
      import s.implicits._
      val work = scd2StreamFor(s, dir)
      Scd2Stream.read(s, s"$work/table")
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"valid_from_lsn", $"valid_to_lsn", $"is_current")
        .orderBy("doc_id", "valid_from_lsn")
    },

    // Incremental VIEW maintenance (Δ-aggregation, the Materialize/DBSP
    // shape): maintain the corpus-wide token-frequency table from the
    // changelog's deltas instead of recomputing it — each event
    // contributes +multiset(new tokens) and −multiset(previous version's
    // tokens), and the running sum of deltas IS the aggregate of the
    // final state. The previous version comes from a lag over the SAME
    // key partitioning the engine shuffles on anyway (at scale the MOR
    // delta's pre-image serves this lookup); then one explode and one
    // map-side-combinable hash agg on token. Two key-partitioned
    // shuffles total — never a state recompute, which is the difference
    // between O(changes) and O(corpus) per refresh at 10^10 events. The
    // oracle recomputes from the survivor state, so the driver's hash
    // gate IS the IVM law (fold of deltas == aggregate of final state).
    "q72_ivm_token_counts" -> { (s, dir) =>
      import s.implicits._
      val log = validLog(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"lsn")
      val ev = log.withColumn("prev_tokens", lag($"tokens", 1).over(w))
      val plus = ev.filter($"op" =!= "D")
        .select(explode($"tokens").as("tok"), lit(1L).as("d"))
      val minus = ev.filter($"prev_tokens".isNotNull)
        .select(explode($"prev_tokens").as("tok"), lit(-1L).as("d"))
      plus.unionByName(minus)
        .groupBy($"tok").agg(sum($"d").as("n"))
        .filter($"n" =!= 0)
        .orderBy("tok")
    },

    // Token-distribution drift between two committed snapshots — the
    // monitoring read a training-data lake runs before shipping a new
    // corpus cut ("what did this week's ingest do to the token mix?").
    // Composes TIME TRAVEL with Δ-aggregation: both versions are pure
    // manifest resolutions (immutable files, no copy-on-read), the drift
    // is one exploded ±1 union and ONE hash aggregation on token —
    // O(changed tokens) output, never a state dump. The "before" version
    // is found by its EPOCH FENCE (the lineage record), not version
    // arithmetic, so interleaved compaction commits cannot shift the
    // comparison point. Oracle recomputes the same drift from the
    // changelog rules: between epoch 2 and the final state, exactly the
    // chunk-3 survivors' tokens arrive (epochs 3-4 add chunk 3 plus
    // below-watermark re-deliveries, which must leave no trace).
    "q79_token_drift" -> { (s, dir) =>
      import s.implicits._
      val t = replayFor(s, dir).table
      val cur = t.currentVersion.get
      val afterEpoch2 = (0L to cur).map(t.manifestAt)
        .filter(_.fences.get("cdc-ingest").contains(2L)).map(_.version).max
      def hist(v: Long, sign: Long) = t.readVersion(s, v)
        .select(explode($"tokens").as("tok"), lit(sign).as("d"))
      hist(cur, 1L).unionByName(hist(afterEpoch2, -1L))
        .groupBy($"tok").agg(sum($"d").as("drift"))
        .filter($"drift" =!= 0)
        .orderBy("tok")
    },

    // The table as a CHANGE SOURCE (Delta CDF / Iceberg changelog-scan
    // analog): "what changed between snapshot A and B" with net per-key
    // ops and pre/post images, sourced from the window's MOR delta files
    // — O(changes + touched buckets), never a two-state diff. Pre-images
    // come from bucket-pruned reads of the FROM snapshot; windows
    // crossing compaction or purge refuse loudly (ChangeFeedSpec) so
    // the feed can never under-report. This is what makes a graft table
    // composable as the SOURCE of a downstream CDC pipeline.
    "q82_change_feed" -> { (s, dir) =>
      import s.implicits._
      val work = cdfFor(s, dir)
      val t = new SnapshotTable(s"$work/table", 8)
      ChangeFeed.between(s, t, 1L, 2L)
        .select($"doc_id", $"change_op",
          tokensFp($"pre_image.tokens").as("pre_fp"),
          tokensFp($"post_image.tokens").as("post_fp"),
          $"post_image.n_tok".as("n_tok"))
        .orderBy("doc_id")
    },

    // The STREAMING build of the same change feed: readStream.format
    // ("graft") tails committed snapshot versions (offsets = versions,
    // each micro-batch = one window's ChangeFeed), here replayed
    // AvailableNow over the q82 fixture — one oracle, two engine paths
    // (batch ChangeFeed.between and the streaming source must agree
    // row-for-row). Checkpoint-resume and loud-maintenance-window laws
    // are ScalaTest'd in GraftStreamSourceSpec.
    "q83_stream_change_feed" -> { (s, dir) =>
      import s.implicits._
      val work = cdfFor(s, dir)
      val q = s.readStream.format("graft")
        .option("startVersion", 1L).load(s"$work/table")
        .writeStream.format("memory").queryName("q83_feed")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("q83_feed")
        .select($"doc_id", $"change_op",
          tokensFp($"pre_image.tokens").as("pre_fp"),
          tokensFp($"post_image.tokens").as("post_fp"),
          $"post_image.n_tok".as("n_tok"))
        .orderBy("doc_id")
    },

    // The full CDC composability loop under one external gate: table B
    // follows table A by consuming A's streaming change feed
    // (readStream.format("graft"), offsets = A's snapshot versions) and
    // writing it back through the public fenced sink
    // (writeStream.format("graft")) — ingest → table → incremental
    // consumer → table, the chain a multi-stage training-data lake runs.
    // The driver gate checks B's FINAL STATE equals the independently
    // recomputed survivor state of A's two epochs: every link (feed
    // correctness, op mapping, fenced replay, last-LSN-wins reconcile)
    // must hold for the hash to land.
    "q84_chained_tables" -> { (s, dir) =>
      import s.implicits._
      val work = chainFor(s, dir)
      new SnapshotTable(s"$work/table", 8).read(s)
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", $"source")
        .orderBy("doc_id")
    },

    // Additive schema evolution THROUGH THE MERGE under the external
    // gate (the north star's "new columns / widened n_tok" clause): an
    // epoch arrives with n_tok widened int→bigint and a brand-new lang
    // column; the committed schema widens, files written before the
    // evolution keep their physical schema and are read by name under the
    // evolved one (widened, new column null — no rewrite of old data),
    // and the final state must hash-match the rules. Engine booleans
    // assert the widened schema and that every v1 file entry is still
    // live and unchanged.
    "q85_schema_evolution_merge" -> { (s, dir) =>
      import s.implicits._
      val work = evoFor(s, dir)
      val t = new SnapshotTable(s"$work/table", 8)
      val m = t.manifest.get
      val sch = org.apache.spark.sql.types.DataType.fromJson(m.currentSchemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val widened = sch("n_tok").dataType ==
        org.apache.spark.sql.types.LongType && sch.fieldNames.contains("lang")
      val live = m.files.toSet
      val oldIntact = t.manifestAt(1L).files.forall(live.contains)
      t.read(s)
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", $"source", $"lang")
        .withColumn("schema_widened", lit(widened))
        .withColumn("old_files_untouched", lit(oldIntact))
        .orderBy("doc_id")
    },

    // Hot-key skew under the external gate (SURVEY J7's storm side): the
    // salted two-phase pre-combine — dedup layer 2, the lever for zipf-
    // hot keys whose update storms would otherwise all travel the
    // shuffle — merged with a 24× per-hot-key storm in one batch. The
    // state must equal last-LSN-wins (storm winners carry the computed
    // max LSN, untouched docs their insert LSN), and the epoch metric
    // must show rowsWritten == doc count: every storm collapsed map-side
    // BEFORE the delta write. Plain-vs-salted equivalence is also
    // property-tested (MergePropertySpec); this row makes the hot-key
    // path externally hash-checked.
    "q81_hotkey_salted_merge" -> { (s, dir) =>
      import s.implicits._
      val work = saltedFor(s, dir)
      val t = new SnapshotTable(s"$work/table", 8)
      val rowsWritten = t.manifest.get.metrics.map(_.rowsWritten).sum
      val nDocs = Tables.load(s, dir, "documents").count()
      t.readWithLsn(s)
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", col(Model.LsnCol).as("lsn"))
        .withColumn("storm_collapsed_before_write", lit(rowsWritten == nDocs))
        .orderBy("doc_id")
    },

    // Write-audit-publish under the external gate: a third build of the
    // q50 survivor state, this time with the dbt-style quality gate
    // INSIDE the commit path (stage → audit → publish per epoch; the
    // reference's dbt tests run after materialization, so bad rows go
    // live until the next run). A poisoned re-delivery of chunk 2 at
    // higher LSNs — which would win reconcile and flip every chunk-2
    // n_tok if it ever published — is staged mid-build, rejected by the
    // audit, abandoned. Hash-equality with the same survivor-state SQL
    // as q50/q61 is therefore the WAP law: gated ingest converges to the
    // identical state, and the poison left no trace. Invisibility /
    // equivalence / rebase laws are ScalaTest'd in WapSpec.
    "q80_wap_audit_gate" -> { (s, dir) =>
      import s.implicits._
      val work = wapTableFor(s, dir)
      val audit = new String(Files.readAllBytes(Paths.get(s"$work/audit.log")),
        java.nio.charset.StandardCharsets.UTF_8)
      new SnapshotTable(s"$work/table", 8).read(s)
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", $"source")
        .withColumn("all_clean_epochs_published", lit(audit.contains("clean_passed=5")))
        .withColumn("poison_rejected", lit(audit.contains("poison_rejected=true")))
        .orderBy("doc_id")
    },

    // Right-to-be-forgotten through the engine (a training-data lake's
    // GDPR path): purge a bounded key set by rewriting ONLY the buckets
    // those keys hash to (MOR deltas covering a touched bucket fold in),
    // carry every other file forward by identity, commit a new snapshot,
    // then expire the old ones so the purged rows are physically gone.
    // The driver gate checks the surviving state == survivor-state SQL
    // minus the purged dids; the file-identity and physical-erasure laws
    // are ScalaTest'd in PurgeSpec.
    "q76_pii_purge" -> { (s, dir) =>
      import s.implicits._
      val work = purgedTableFor(s, dir)
      new SnapshotTable(s"$work/table", 8).read(s)
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", $"source")
        .orderBy("doc_id")
    },

    // Point lookup against the clustered table (the serving-layer read a
    // CDC lake must answer: "current row of THESE keys", an
    // erasure-audit / debugging / feature-store probe — bounded keys,
    // never a scan). The engine's compact writes base files CLUSTERED
    // (range exchange on (bucket, key)), records each file's footer key
    // range in the manifest, and lookupKeys reads only files whose bucket
    // AND key range can hold a sought key — O(keys) files at any table
    // size. Booleans carry the pruning laws (file counts are engine-
    // layout facts DuckDB cannot recompute); the payload columns tie the
    // lookup to the same survivor-state SQL as the full replay: pruning
    // must never change an answer. Range-split disjointness and
    // MOR-overlay visibility are law-tested in PointLookupSpec.
    "q77_point_lookup" -> { (s, dir) =>
      import s.implicits._
      val work = compactionFor(s, dir)
      val table = new SnapshotTable(s"$work/table", 8)
      val keys = table.read(s).select($"doc_id").orderBy("doc_id").limit(7)
        .as[String].collect().toSeq
      val m = table.manifest.get
      val selected = table.pruneForKeys(m,
        keys.groupBy(SnapshotTable.bucketOfKey(_, m.numBuckets)))
      val statsPresent = m.files.filterNot(_.isDelta)
        .forall(f => f.minKey != null && f.maxKey != null)
      table.lookupKeys(s, keys)
        .select($"doc_id",
          tokensFp($"tokens").as("tokens_fp"),
          $"n_tok", $"source")
        .withColumn("key_stats_present", lit(statsPresent))
        .withColumn("lookup_pruned", lit(selected.size < m.files.size))
        .withColumn("lookup_files_bounded",
          lit(selected.count(!_.isDelta) <= keys.size))
        .orderBy("doc_id")
    },

    // The SIZE-based compaction policy under the driver's external gate
    // (the CompactionPolicySpec law, hash-checked): a 10-tiny-epoch replay
    // with a per-bucket delta bound of 2 must (a) trip the policy
    // mid-stream, (b) never let any RETAINED snapshot's per-bucket delta
    // coverage exceed bound + one epoch's delta files (the transient
    // pre-compact manifest is the worst case), (c) end base-only with
    // bounded base files per bucket after the final compact, and (d) hand
    // back exactly the survivor state — the same state CTE the 5-epoch
    // replay is oracled against, because compaction must never change
    // data, only its file shape. Booleans carry the file-count laws (file
    // counts themselves are engine-layout facts DuckDB cannot recompute);
    // the row/token sums tie them to SQL-recomputable ground truth.
    "q74_compaction_maintenance" -> { (s, dir) =>
      import s.implicits._
      val work = compactionFor(s, dir)
      val table = new SnapshotTable(s"$work/table", 8)
      val m = table.manifest.get
      val history = (0L to m.version).map(table.manifestAt)
      def maxCoverage(mm: Manifest): Int =
        (0 until mm.numBuckets).map(b => mm.files.count(f => f.isDelta && f.covers(b))).max
      def deltaCount(mm: Manifest): Int = mm.files.count(_.isDelta)
      val firedMidstream = history.dropRight(1).sliding(2).exists {
        case Seq(a, b) => deltaCount(b) < deltaCount(a); case _ => false
      }
      val readAmpBounded = history.forall(maxCoverage(_) <= q74DeltaBound + q74Splits)
      val basesPerBucketOk = m.files.filterNot(_.isDelta)
        .groupBy(_.bucket).valuesIterator.forall(_.size <= q74Splits)
      table.read(s)
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("sum_n_tok"))
        .withColumn("no_deltas_after_compact", lit(deltaCount(m) == 0))
        .withColumn("policy_fired_midstream", lit(firedMidstream))
        .withColumn("read_amp_bounded", lit(readAmpBounded))
        .withColumn("bases_per_bucket_ok", lit(basesPerBucketOk))
        .withColumn("rows_match_manifest",
          $"n_docs" === lit(m.files.filterNot(_.isDelta).map(_.rows).sum))
    }
  )

  /** DuckDB CTEs reconstructing the post-replay survivor state
    * (doc_id VARCHAR, did, source, n_tok BIGINT, lsn BIGINT) from the
    * changelog rules — shared with queries that compose downstream ops
    * over the engine's output (CurationOps q60).
    */
  private[analytics] lazy val duckSurvivorState: String =
    s"""toks AS (
       |  SELECT doc_id AS did, CAST(doc_id AS VARCHAR) AS doc_id,
       |    list_transform(
       |      list_filter(string_split(text, ' '), w -> length(w) > 0),
       |      w -> CAST((length(w) * 1000003 + ascii(substring(w, 1, 1)) * 101
       |                 + ascii(substring(w, length(w), 1))) % $V AS INT)) AS base_toks,
       |    source
       |  FROM documents),
       |state AS (
       |  SELECT doc_id, did, source,
       |    md5(array_to_string(
       |      CASE WHEN did % 5 = 0
       |           THEN list_transform(base_toks, t -> CAST((t * 31 + 7) % $V AS INT))
       |           ELSE base_toks END, ',')) AS tokens_fp,
       |    CAST(len(base_toks) AS BIGINT) AS n_tok,
       |    CAST(CASE WHEN did % 5 = 0 THEN 3 * did + 1 ELSE 3 * did END AS BIGINT) AS lsn
       |  FROM toks WHERE did % 17 <> 0)""".stripMargin

  private lazy val incrementalReadSql: String =
    s"""WITH $duckSurvivorState
       |SELECT doc_id, tokens_fp, CAST(n_tok AS INT) AS n_tok, lsn FROM state
       |WHERE lsn >= 3 * ((SELECT max(doc_id) FROM documents) // 2)
       |ORDER BY doc_id""".stripMargin

  /** Shared by q50 (library ingest) and q61 (public writer API): both
    * paths must reproduce the identical survivor state.
    */
  private lazy val replayStateSql: String =
    s"""WITH $duckSurvivorState
       |SELECT doc_id, tokens_fp, CAST(n_tok AS INT) AS n_tok, source FROM state
       |ORDER BY doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "q50_cdc_replay" -> replayStateSql,
    "q61_writer_api_state" -> replayStateSql,

    // The same feed from the rules: U/D/I per did%4 with independent
    // pre/post fingerprints. Shared by q82 (batch) and q83 (streaming):
    // both engine paths must reproduce the identical feed.
    "q82_change_feed" -> cdfFeedSql,
    "q83_stream_change_feed" -> cdfFeedSql,

    // Post-evolution state from the rules: did%3==0 docs carry the
    // transformed tokens and a lang; everyone else keeps v1 values with
    // lang NULL. n_tok is BIGINT on both sides (the widened type).
    "q85_schema_evolution_merge" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS did, CAST(doc_id AS VARCHAR) AS doc_id,
         |    list_transform(
         |      list_filter(string_split(text, ' '), w -> length(w) > 0),
         |      w -> CAST((length(w) * 1000003 + ascii(substring(w, 1, 1)) * 101
         |                 + ascii(substring(w, length(w), 1))) % $V AS INT)) AS base_toks,
         |    source
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN did % 3 = 0
         |    THEN md5(array_to_string(
         |      list_transform(base_toks, t -> CAST((t * 31 + 7) % $V AS INT)), ','))
         |    ELSE md5(array_to_string(base_toks, ',')) END AS tokens_fp,
         |  CAST(len(base_toks) AS BIGINT) AS n_tok, source,
         |  CASE WHEN did % 3 = 0 THEN 'en-' || CAST(did % 7 AS VARCHAR) END AS lang,
         |  true AS schema_widened,
         |  true AS old_files_untouched
         |FROM toks ORDER BY doc_id""".stripMargin,

    // B's state after following A's feed = A's state after the two cdf
    // epochs, recomputed from the rules alone.
    "q84_chained_tables" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS did, CAST(doc_id AS VARCHAR) AS doc_id,
         |    list_transform(
         |      list_filter(string_split(text, ' '), w -> length(w) > 0),
         |      w -> CAST((length(w) * 1000003 + ascii(substring(w, 1, 1)) * 101
         |                 + ascii(substring(w, length(w), 1))) % $V AS INT)) AS base_toks,
         |    source
         |  FROM documents)
         |SELECT doc_id, tokens_fp, n_tok, source FROM (
         |  SELECT doc_id,
         |    CASE WHEN did % 4 = 1
         |      THEN md5(array_to_string(
         |        list_transform(base_toks, t -> CAST((t * 31 + 7) % $V AS INT)), ','))
         |      ELSE md5(array_to_string(base_toks, ',')) END AS tokens_fp,
         |    CAST(len(base_toks) AS INT) AS n_tok, source
         |  FROM toks WHERE did % 4 <> 2
         |  UNION ALL
         |  SELECT 'n' || doc_id, md5(array_to_string(base_toks, ',')),
         |    CAST(len(base_toks) AS INT), source
         |  FROM toks WHERE did % 4 = 3)
         |ORDER BY doc_id""".stripMargin,

    // Insert-only state (no deletes in this fixture) with storm winners
    // at the computed max storm LSN — last-LSN-wins through the salted
    // path, recomputed from the rules alone.
    "q81_hotkey_salted_merge" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS did, CAST(doc_id AS VARCHAR) AS doc_id,
         |    list_transform(
         |      list_filter(string_split(text, ' '), w -> length(w) > 0),
         |      w -> CAST((length(w) * 1000003 + ascii(substring(w, 1, 1)) * 101
         |                 + ascii(substring(w, length(w), 1))) % $V AS INT)) AS base_toks
         |  FROM documents)
         |SELECT doc_id,
         |  md5(array_to_string(base_toks, ',')) AS tokens_fp,
         |  CAST(len(base_toks) AS INT) AS n_tok,
         |  CAST(CASE WHEN did % 50 = 0
         |       THEN (SELECT 3 * max(doc_id) + 3 FROM documents)
         |            + did * $q81StormR + ${q81StormR - 1}
         |       ELSE 3 * did END AS BIGINT) AS lsn,
         |  true AS storm_collapsed_before_write
         |FROM toks ORDER BY doc_id""".stripMargin,

    // The WAP build must converge to the SAME survivor state: the audit
    // gate changes what can commit, never what correct data means.
    "q80_wap_audit_gate" ->
      s"""WITH $duckSurvivorState
         |SELECT doc_id, tokens_fp, CAST(n_tok AS INT) AS n_tok, source,
         |  true AS all_clean_epochs_published,
         |  true AS poison_rejected
         |FROM state
         |ORDER BY doc_id""".stripMargin,

    // Per-epoch metrics, re-derived from the changelog rules: epoch k
    // carries the fresh events of chunk k (insert per doc; update if
    // did%5==0; delete if did%17==0) plus the re-delivered inserts of
    // chunk k-1's did%13==0 docs — every re-delivery lands at or below its
    // partition's LSN watermark (its own insert already advanced it), so
    // belowWatermark == dup count, and MOR ingest writes exactly the fresh
    // rows (collapsedInBatch == 0).
    "q51_cdc_lineage" ->
      """WITH chunked AS (
        |  SELECT doc_id AS did,
        |    CAST(doc_id // (SELECT max(doc_id) // 4 + 1 FROM documents) AS BIGINT) AS k
        |  FROM documents),
        |perchunk AS (
        |  SELECT k,
        |    count(*) AS n_ins,
        |    count(*) FILTER (WHERE did % 5 = 0) AS n_upd,
        |    count(*) FILTER (WHERE did % 17 = 0) AS n_del,
        |    count(*) FILTER (WHERE did % 13 = 0) AS n_dup13
        |  FROM chunked GROUP BY k),
        |epochs AS (
        |  SELECT e.k,
        |    coalesce(p.n_ins, 0) AS n_ins, coalesce(p.n_upd, 0) AS n_upd,
        |    coalesce(p.n_del, 0) AS n_del,
        |    coalesce(prev.n_dup13, 0) AS n_dups
        |  FROM (SELECT unnest([0, 1, 2, 3, 4]) AS k) e
        |  LEFT JOIN perchunk p ON p.k = e.k
        |  LEFT JOIN perchunk prev ON prev.k = e.k - 1)
        |SELECT 'cdc-ingest' AS "queryId", CAST(k AS BIGINT) AS "epochId",
        |  CAST(n_ins + n_upd + n_del + n_dups AS BIGINT) AS "eventsIn",
        |  CAST(n_dups AS BIGINT) AS "belowWatermark",
        |  CAST(0 AS BIGINT) AS "collapsedInBatch",
        |  CAST(CASE WHEN n_ins + n_upd + n_del > 0 THEN n_ins + n_upd ELSE 0 END AS BIGINT) AS "upserts",
        |  CAST(n_del AS BIGINT) AS "deletes",
        |  CAST(n_ins + n_upd + n_del AS BIGINT) AS "rowsWritten"
        |FROM epochs ORDER BY k""".stripMargin,

    "q45_cdc_watermarks" ->
      """SELECT CAST(doc_id % 4 AS INT) AS partition,
        |  CAST(max(CASE WHEN doc_id % 17 = 0 THEN 3 * doc_id + 2
        |                WHEN doc_id % 5 = 0 THEN 3 * doc_id + 1
        |                ELSE 3 * doc_id END) AS BIGINT) AS watermark
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Survivors whose final LSN clears the changed-since threshold
    // (3·⌊maxDid/2⌋): insert lsn 3d, bumped to 3d+1 by a d%5 update.
    // q54 is the SAME contract through the public format("graft") read
    // path — identical oracle by construction.
    "q49_incremental_read" -> incrementalReadSql,
    "q54_source_read" -> incrementalReadSql,

    // One malformed event per d%23==0 doc, quarantined in its chunk's
    // epoch; each overshoots size(tokens) by exactly 1.
    "q47_quarantine_readback" ->
      """WITH chunked AS (
        |  SELECT doc_id AS did,
        |    CAST(doc_id // (SELECT max(doc_id) // 4 + 1 FROM documents) AS BIGINT) AS k
        |  FROM documents)
        |SELECT k AS epoch, count(*) AS n_quarantined,
        |  count(DISTINCT did) AS n_docs,
        |  count(*) AS n_tok_excess
        |FROM chunked WHERE did % 23 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // Diff of snapshot v(cur-2) → v(cur-1) = chunk-3 docs that survive
    // their own-chunk delete, all 'added' (a doc's I/U/D land in its own
    // chunk; dup re-deliveries are below-watermark no-ops).
    "q48_snapshot_diff" ->
      s"""WITH $duckSurvivorState
         |SELECT doc_id, 'added' AS status, tokens_fp AS fp_new,
         |  CAST(n_tok AS INT) AS n_tok
         |FROM state
         |WHERE did // (SELECT max(doc_id) // 4 + 1 FROM documents) = 3
         |ORDER BY doc_id""".stripMargin,

    // The full event population by rule: every doc inserts; d%5 updates;
    // d%17 deletes; d%23 emits the malformed U at the insert's lsn; d%13
    // re-delivers its insert verbatim (every doc falls inside the 5-chunk
    // re-delivery window, so the rule has no edge cases). n_dup falls out
    // of count − distinct rows because only exact re-deliveries collide.
    "q53_producer_log_readback" ->
      """WITH w AS (
        |  SELECT doc_id AS did, doc_id % 4 AS p,
        |    len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS nt
        |  FROM documents),
        |ev AS (
        |  SELECT p, 3 * did AS lsn, 'I' AS op, nt AS n_tok FROM w
        |  UNION ALL SELECT p, 3 * did + 1, 'U', nt FROM w WHERE did % 5 = 0
        |  UNION ALL SELECT p, 3 * did + 2, 'D', NULL FROM w WHERE did % 17 = 0
        |  UNION ALL SELECT p, 3 * did, 'U', nt + 1 FROM w WHERE did % 23 = 0
        |  UNION ALL SELECT p, 3 * did, 'I', nt FROM w WHERE did % 13 = 0)
        |SELECT CAST(p AS INT) AS partition,
        |  count(*) AS n_events,
        |  CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
        |  CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_upd,
        |  CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |  count(*) - count(DISTINCT (lsn, op, n_tok)) AS n_dup,
        |  min(lsn) AS min_lsn, max(lsn) AS max_lsn
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,

    // SCD2 by rule: the insert version [3d, …) closes at 3d+1 (update)
    // or 3d+2 (delete) or stays open; the d%5 update version [3d+1, …)
    // closes at 3d+2 or stays open; deleted docs contribute closed rows
    // only. Duplicate re-deliveries and malformed events never appear.
    // q68 is the incremental-maintenance build of the SAME table.
    "q64_scd2_history" -> scd2Sql,
    "q68_scd2_incremental" -> scd2Sql,
    "q73_scd2_streaming" -> scd2Sql,

    // AS OF point query: DuckDB filters its own interval rebuild at the
    // same mid-log LSN — an independent interval computation, same answer.
    "q75_temporal_point_query" -> temporalPointSql,

    // The purge is data-visible (unlike compaction): surviving state must
    // equal the survivor state minus the erased dids.
    "q76_pii_purge" ->
      s"""WITH $duckSurvivorState
         |SELECT doc_id, tokens_fp, CAST(n_tok AS INT) AS n_tok, source FROM state
         |WHERE did % 97 <> 0
         |ORDER BY doc_id""".stripMargin,

    // Point lookup: same survivor-state rows (pruning must never change
    // an answer), restricted to the 7 lexicographically-first surviving
    // keys — DuckDB picks the keys from its own rebuild, independently of
    // the engine's. The pruning laws ride as engine-derived booleans.
    "q77_point_lookup" ->
      s"""WITH $duckSurvivorState
         |SELECT doc_id, tokens_fp, CAST(n_tok AS INT) AS n_tok, source,
         |  true AS key_stats_present,
         |  true AS lookup_pruned,
         |  true AS lookup_files_bounded
         |FROM state
         |WHERE doc_id IN (SELECT doc_id FROM state ORDER BY doc_id LIMIT 7)
         |ORDER BY doc_id""".stripMargin,

    // Compaction changes file shape, never data: the survivor-state sums
    // must match the plain SQL recompute, and the file-count laws (engine
    // layout, not SQL-visible) ride as always-true booleans the engine
    // side must independently derive from its manifest history.
    "q74_compaction_maintenance" ->
      s"""WITH $duckSurvivorState
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
         |  true AS no_deltas_after_compact,
         |  true AS policy_fired_midstream,
         |  true AS read_amp_bounded,
         |  true AS bases_per_bucket_ok,
         |  true AS rows_match_manifest
         |FROM state""".stripMargin,

    // Drift between epoch 2 and the final state = the chunk-3 survivors'
    // final tokens (their deletes net out inside epoch 3; the d%13
    // re-deliveries are below-watermark no-ops) — recomputed here purely
    // from the changelog rules, independent of the engine's versions.
    "q79_token_drift" ->
      s"""WITH $duckSurvivorState,
         |tokarr AS (
         |  SELECT CASE WHEN did % 5 = 0
         |           THEN list_transform(base_toks, t -> CAST((t * 31 + 7) % $V AS INT))
         |           ELSE base_toks END AS tokens
         |  FROM toks
         |  WHERE did % 17 <> 0
         |    AND did // ((SELECT max(doc_id) FROM documents) // 4 + 1) = 3)
         |SELECT tok, CAST(count(*) AS BIGINT) AS drift
         |FROM (SELECT unnest(tokens) AS tok FROM tokarr)
         |GROUP BY tok ORDER BY tok""".stripMargin,

    // Full recompute from the survivor state — deliberately NOT the
    // delta path: hash-equality here is exactly the IVM invariant.
    "q72_ivm_token_counts" ->
      s"""WITH $duckSurvivorState,
         |tokarr AS (
         |  SELECT CASE WHEN did % 5 = 0
         |           THEN list_transform(base_toks, t -> CAST((t * 31 + 7) % $V AS INT))
         |           ELSE base_toks END AS tokens
         |  FROM toks WHERE did % 17 <> 0)
         |SELECT tok, count(*) AS n
         |FROM (SELECT unnest(tokens) AS tok FROM tokarr)
         |GROUP BY tok ORDER BY tok""".stripMargin
  )

  /** Feed oracle shared by q82 (batch ChangeFeed) and q83 (streaming
    * source): U/D/I per did%4 with independent pre/post fingerprints.
    */
  private lazy val cdfFeedSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id AS did, CAST(doc_id AS VARCHAR) AS doc_id,
       |    list_transform(
       |      list_filter(string_split(text, ' '), w -> length(w) > 0),
       |      w -> CAST((length(w) * 1000003 + ascii(substring(w, 1, 1)) * 101
       |                 + ascii(substring(w, length(w), 1))) % $V AS INT)) AS base_toks
       |  FROM documents),
       |pre AS (
       |  SELECT doc_id, did,
       |    md5(array_to_string(base_toks, ',')) AS fp,
       |    md5(array_to_string(
       |      list_transform(base_toks, t -> CAST((t * 31 + 7) % $V AS INT)), ',')) AS fp2,
       |    CAST(len(base_toks) AS INT) AS n_tok
       |  FROM toks)
       |SELECT doc_id, change_op, pre_fp, post_fp, n_tok FROM (
       |  SELECT doc_id, 'U' AS change_op, fp AS pre_fp, fp2 AS post_fp, n_tok
       |  FROM pre WHERE did % 4 = 1
       |  UNION ALL
       |  SELECT doc_id, 'D', fp, NULL, NULL FROM pre WHERE did % 4 = 2
       |  UNION ALL
       |  SELECT 'n' || doc_id, 'I', NULL, fp, n_tok FROM pre WHERE did % 4 = 3)
       |ORDER BY doc_id""".stripMargin

  /** The toks+vers CTE block shared by the SCD2 oracles (q64/q68/q73
    * full history, q75 point-in-time).
    */
  private lazy val scd2VersCte: String =
      s"""toks AS (
         |  SELECT doc_id AS did, CAST(doc_id AS VARCHAR) AS doc_id,
         |    list_transform(
         |      list_filter(string_split(text, ' '), w -> length(w) > 0),
         |      w -> CAST((length(w) * 1000003 + ascii(substring(w, 1, 1)) * 101
         |                 + ascii(substring(w, length(w), 1))) % $V AS INT)) AS base_toks
         |  FROM documents),
         |vers AS (
         |  SELECT doc_id, md5(array_to_string(base_toks, ',')) AS tokens_fp,
         |    CAST(3 * did AS BIGINT) AS valid_from_lsn,
         |    CAST(CASE WHEN did % 5 = 0 THEN 3 * did + 1
         |              WHEN did % 17 = 0 THEN 3 * did + 2 END AS BIGINT) AS valid_to_lsn
         |  FROM toks
         |  UNION ALL
         |  SELECT doc_id,
         |    md5(array_to_string(
         |      list_transform(base_toks, t -> CAST((t * 31 + 7) % $V AS INT)), ',')),
         |    CAST(3 * did + 1 AS BIGINT),
         |    CAST(CASE WHEN did % 17 = 0 THEN 3 * did + 2 END AS BIGINT)
         |  FROM toks WHERE did % 5 = 0)""".stripMargin

  private lazy val scd2Sql: String =
    s"""WITH $scd2VersCte
       |SELECT doc_id, tokens_fp, valid_from_lsn, valid_to_lsn,
       |  (valid_to_lsn IS NULL) AS is_current
       |FROM vers ORDER BY doc_id, valid_from_lsn""".stripMargin

  private lazy val temporalPointSql: String =
    s"""WITH $scd2VersCte,
       |pt AS (SELECT 3 * ((SELECT max(doc_id) FROM documents) // 2) AS l)
       |SELECT doc_id, tokens_fp, valid_from_lsn
       |FROM vers, pt
       |WHERE valid_from_lsn <= pt.l
       |  AND (valid_to_lsn IS NULL OR valid_to_lsn > pt.l)
       |ORDER BY doc_id""".stripMargin
}
