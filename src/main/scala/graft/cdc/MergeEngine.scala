package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Idempotent, key-partitioned MERGE of a change-event batch into a
  * [[SnapshotTable]] — the engine's core, replacing the reference's dbt
  * `incremental_strategy='merge'` (fct_trips.sql:1-13) executed by
  * Snowflake. Design per SURVEY.md §4.2/§4.3:
  *
  * Dedup/reconcile layers (each alone is sufficient for correctness;
  * upper layers cut shuffle volume at scale):
  *   0. epoch fence — a (queryId, epochId) at or below the committed fence
  *      makes the whole merge a no-op (exactly-once under foreachBatch
  *      replay);
  *   1. broadcast min-LSN filter — per-source-partition applied watermarks
  *      embedded as a map literal drop already-applied events before any
  *      shuffle (source re-delivery, e.g. a re-shipped WAL suffix);
  *   2. (optional, for hot-key update storms) the salted pre-combine
  *      ([[preCombine]]) — map-side partial aggregation collapses a
  *      zipf-hot key to ≤ tasks × salts rows before the delta write. Off
  *      by default: for ordinary duplication rates its two extra shuffles
  *      cost more than they save;
  *   3. the [[Reconcile]] operator — ONE salted shuffle on hash(doc_id),
  *      per-partition sort, streaming winner-per-doc scan, run by readers
  *      and [[compact]]. An event that slipped past 0–2 can never regress a
  *      newer row; deletes drop it.
  *
  * One write path, MERGE-ON-READ: the batch alone is written, with no
  * shuffle, into DELTA files (payload + _lsn + _op + _bucket, delete
  * tombstones included) whose footers bound the bucket range each file
  * touches; readers and periodic [[compact]] runs apply [[Reconcile]] to
  * the DIRTY buckets only (O(dirty buckets), not O(table)). Ingest cost
  * is O(batch) — the table is never rewritten on the hot path, which is
  * what survives a 10^10-event log. A read-heavy table compacts more often
  * (a tighter [[CompactionPolicy]]) to stay close to base-only.
  * Compaction safety relies on per-partition key affinity (a doc's events
  * share a source partition), the same contract every log-compacted
  * system assumes.
  *
  * 'I' and 'U' both upsert. Commit is one atomic manifest swap; untouched
  * buckets carry their files forward unchanged.
  */
object MergeEngine {

  case class MergeResult(applied: Boolean, metrics: Option[EpochMetrics], version: Long)

  /** Max epoch-metrics rows retained in the manifest (older epochs'
    * lineage is still implied by watermarks).
    */
  private val MetricsRetained = 4096

  private val timed = new graft.util.Timed("merge-timing", "GRAFT_MERGE_TIMING")

  /** Max automatic rebases after an optimistic-concurrency loss before
    * the ConcurrentCommitException propagates to the caller.
    */
  private val MaxRebases = 8

  /** Salt count of [[preCombine]]'s first grouping: a hot key splits over
    * at most this many partial groups before they meet.
    */
  private val PreCombineSalts = 16L

  /** Default size [[compact]] and [[purgeKeys]] aim rewritten files at. */
  private val TargetFileBytes = 128L << 20

  /** Clustered base layout: one RANGE exchange on (_bucket, key) + local
    * sort before every base-file write, so a bucket's files cover
    * DISJOINT key subranges (Reconcile's write splits would otherwise
    * interleave the bucket's keys across tasks and every file would span
    * the whole range). The footer's key min/max then lands in the
    * manifest ([[FileEntry.minKey]]/maxKey) and a point lookup reads only
    * the one file per bucket whose range covers the key — O(1) files
    * instead of O(bucket files) — the standard lakehouse clustered-write
    * shape (Iceberg sort-order compaction + lower/upper bounds). Cost is
    * one extra exchange of exactly the rows being rewritten, paid only on
    * the rewrite paths (compact/purge), never on ingest: a table compacts
    * each row once but serves point reads forever, so the exchange
    * amortizes to the better side at any scale.
    */
  private def clustered(df: DataFrame): DataFrame =
    df.repartitionByRange(col(Model.BucketCol), col(Model.KeyCol))
      .sortWithinPartitions(col(Model.BucketCol), col(Model.KeyCol))

  /** Stage the batch's delta files and publish them ([[stageMor]] +
    * [[publish]]). `saltedPreDedup` turns on [[preCombine]].
    */
  def merge(
      spark: SparkSession,
      table: SnapshotTable,
      events: DataFrame,
      queryId: String,
      epochId: Long,
      saltedPreDedup: Boolean = false): MergeResult =
    publish(table, queryId, epochId,
      stageMor(spark, table, events, queryId, epochId, saltedPreDedup))

  /** Outcome of [[stageMor]]: delta files written (or nothing to write),
    * plus everything a later [[commitRebasing]] needs to publish them.
    * Until published, the files are INVISIBLE to every reader (no
    * manifest references them) — the write half of write-audit-publish.
    */
  private[cdc] sealed trait StageOutcome
  private[cdc] case object FenceCovered extends StageOutcome
  private[cdc] final case class StagedMor(
      entries: Seq[FileEntry],
      physicalSchema: StructType,
      wmAdvances: Map[String, Long],
      metric: EpochMetrics,
      dataDir: Option[java.nio.file.Path]) extends StageOutcome {
    def cleanup(): Unit = dataDir.foreach { d =>
      val _ = scala.util.Try(graft.util.Tables.deleteRecursively(d.toString))
    }
  }

  /** The MOR write WITHOUT the commit: fence check, schema evolution, the
    * broadcast min-LSN filter's stats job, watermark advances, and the
    * batch's delta files staged against the current manifest. Returns the
    * entries + metadata a publish needs. [[merge]] publishes immediately;
    * [[Wap]] audits the staged state first, so the two cannot drift.
    * Empty `entries` = nothing fresh (metadata-only fence/watermark
    * advance on publish).
    */
  private[cdc] def stageMor(
      spark: SparkSession,
      table: SnapshotTable,
      events: DataFrame,
      queryId: String,
      epochId: Long,
      saltedPreDedup: Boolean = false): StageOutcome = {

    val m = table.manifest.getOrElse(sys.error(s"table not initialized: ${table.root}"))

    // ── 0. epoch fence: replayed epoch → no-op ─────────────────────────
    if (m.fences.get(queryId).exists(_ >= epochId)) return FenceCovered

    // ── schema evolution (additive / widening) ─────────────────────────
    val tableSchema = m.currentSchema
    val payloadSchema = StructType(
      events.schema.fields.filterNot(f => Model.metaCols.contains(f.name.toLowerCase)))
    val newSchema = SnapshotTable.mergeSchemas(tableSchema, payloadSchema)
    val schemaId = if (newSchema.json == tableSchema.json) m.schemas.size - 1 else m.schemas.size

    // ── 1. broadcast min-LSN watermark filter ──────────────────────────
    val wmFloor = watermarkFloor(m.watermarks)

    // One small stats job drives watermark advance, touched buckets and
    // epoch metrics (collect is O(partitions × buckets × 4), driver-safe
    // at any scale; scans only 4 columns).
    val statsRows = timed("stats-job")(events
      .groupBy(
        col("partition"),
        SnapshotTable.bucketOf(col("doc_id"), m.numBuckets).as("_bucket"),
        (col("lsn") <= wmFloor).as("stale"),
        (col("op") === Model.OpDelete).as("isdel"))
      .agg(count(lit(1)).as("n"), max(col("lsn")).as("max_lsn"))
      .collect())

    val eventsIn = statsRows.map(_.getLong(4)).sum
    val belowWm = statsRows.filter(_.getBoolean(2)).map(_.getLong(4)).sum
    val freshRows = statsRows.filterNot(_.getBoolean(2))
    val freshCount = eventsIn - belowWm
    val freshDeletes = freshRows.filter(_.getBoolean(3)).map(_.getLong(4)).sum
    val touched = freshRows.map(_.getInt(1)).distinct
    // Per-partition LSN advances implied by THIS batch (merged against
    // whatever manifest the commit ultimately lands on — a rebase must
    // not regress a concurrent writer's watermarks).
    val wmAdvances: Map[String, Long] = freshRows.groupBy(_.getInt(0))
      .map { case (p, rows) => p.toString -> rows.map(_.getLong(5)).max }

    if (touched.isEmpty) {
      // Nothing fresh: metadata-only fence/watermark advance.
      return StagedMor(Seq.empty, newSchema, wmAdvances,
        EpochMetrics(queryId, epochId, eventsIn, belowWm, 0, 0, 0, 0, 0), None)
    }

    val payloadCols = SnapshotTable.conformColumns(events.schema, newSchema)
    val fresh = events.filter(col("lsn") > wmFloor)
      .select(payloadCols ++ Seq(col("lsn"), col("op")): _*)
    val staged = if (saltedPreDedup) preCombine(fresh) else fresh

    // ── append the batch as delta files — ZERO shuffle ─────────────────
    // Rows gain a `_bucket` column so each written file's footer min/max
    // bounds the bucket range it touches: a bucket-targeted epoch yields
    // narrow-range delta files and compaction/read-time reconcile touch
    // only those buckets (O(dirty buckets)); the salted hash(doc_id)
    // shuffle still happens exactly once per row, at compaction/read-time
    // reconcile. Ingest cost is a scan + a write.
    val outDir = table.newDataDir(m.version + 1)
    val withBucket = staged
      .withColumn(Model.BucketCol, SnapshotTable.bucketOf(col("doc_id"), m.numBuckets))
      .select(
        newSchema.fieldNames.toSeq.map(col) ++
          Seq(col("lsn").as(Model.LsnCol), col("op").as(Model.OpCol),
            col(Model.BucketCol)): _*)
    timed("write-delta")(withBucket.write
      .option("maxRecordsPerFile", 4000000)
      .mode("overwrite")
      .parquet(outDir.toString))

    // bucket = -1 = "range file"; the real coverage is [bucketLo,
    // bucketHi] from the footer stats. MOR delta files depend only on the
    // batch (not on table contents), so a lost commit race rebases by
    // RE-POINTING these files at a higher version — no rewrite.
    val newEntries = timed("file-stats")(
      FileStats.entries(spark, table.listPartFiles(outDir), schemaId)
        .map(_.copy(kind = FileEntry.Delta)))
    StagedMor(newEntries, newSchema, wmAdvances,
      EpochMetrics(queryId, epochId, eventsIn, belowWm,
        collapsedInBatch = 0,
        upserts = freshCount - freshDeletes, deletes = freshDeletes,
        rowsWritten = newEntries.map(_.rows).sum, touchedBuckets = touched.size),
      Some(outDir))
  }

  /** Each event's applied-LSN floor: its source partition's committed
    * watermark, embedded as a map literal (Long.MinValue for a partition
    * with none). An event is fresh iff `lsn` is STRICTLY above it, which
    * refuses every re-delivery — a re-delivered insert of a deleted key
    * included. Shared by the MERGE and the SCD2 stream.
    */
  private[cdc] def watermarkFloor(watermarks: Map[String, Long]): Column =
    if (watermarks.isEmpty) lit(Long.MinValue)
    else coalesce(
      element_at(typedLit(watermarks.map { case (k, v) => k.toInt -> v }), col("partition")),
      lit(Long.MinValue))

  /** Salted two-phase last-LSN-wins pre-combine for hot-key update
    * storms: group by (doc_id, salt(lsn)), then by doc_id, keeping each
    * group's highest (lsn, op) row. Map-side partial aggregation collapses
    * a zipf-hot key to ≤ tasks × salts rows before any shuffle, which is
    * why this stays an aggregate and not [[Reconcile.pick]]: `pick` needs
    * a doc's rows adjacent, i.e. the full shuffle this exists to shrink.
    * It also must KEEP delete winners — the staged rows are change
    * events, and a delete winner is the tombstone the delta file carries —
    * while `pick` drops them. The (lsn, op) order is `pick`'s precedence.
    */
  private def preCombine(events: DataFrame): DataFrame = {
    val packed = struct(events.columns.toSeq.map(col): _*).as("e")
    events
      .withColumn("_salt", pmod(xxhash64(col("lsn")), lit(PreCombineSalts)))
      .groupBy(col("doc_id"), col("_salt"))
      .agg(max_by(packed, struct(col("lsn"), col("op"))).as("e"))
      .groupBy(col("doc_id"))
      .agg(max_by(col("e"), struct(col("e.lsn"), col("e.op"))).as("e"))
      .select(col("e.*"))
  }

  /** Publish a staged epoch: a fence-covered one is a no-op, anything
    * else goes through [[commitRebasing]] (a metadata-only commit).
    */
  private[cdc] def publish(table: SnapshotTable, queryId: String, epochId: Long,
      outcome: StageOutcome): MergeResult = outcome match {
    case FenceCovered =>
      MergeResult(applied = false, None, table.manifest.map(_.version).getOrElse(-1L))
    case st: StagedMor => commitRebasing(table, queryId, epochId, st)
  }

  /** Commit with automatic REBASE (multi-writer: two live writers on
    * distinct fence lanes both succeed; the loser re-reads and re-points).
    * On an optimistic-concurrency loss the commit metadata — schema list,
    * file list, fences, watermarks, metrics window — is recomputed on top
    * of the freshly published manifest and retried. The already-written
    * MOR delta files need no rewrite: their content depends only on the
    * batch, rows that a racer's commit made stale are dropped by the
    * last-LSN-wins reconcile, and watermark merges take per-partition
    * max so nothing regresses. If the fresh manifest's fence already
    * covers this epoch (a racer on the SAME lane applied it), the written
    * files are orphans: `cleanup` removes them and the merge reports
    * not-applied — exactly-once holds across writers, not just restarts.
    */
  private def commitRebasing(
      table: SnapshotTable,
      queryId: String,
      epochId: Long,
      st: StagedMor): MergeResult = {
    val StagedMor(entries, physicalSchema, wmAdvances, metric, _) = st
    var attempts = 0
    while (true) {
      val fresh = table.manifest.getOrElse(sys.error(s"table vanished: ${table.root}"))
      if (fresh.fences.get(queryId).exists(_ >= epochId)) {
        st.cleanup()
        return MergeResult(applied = false, None, fresh.version)
      }
      val (schemas2, sid) = schemasWith(fresh.schemas, physicalSchema)
      val mergedWm = fresh.watermarks ++ wmAdvances.map { case (k, v) =>
        k -> math.max(v, fresh.watermarks.getOrElse(k, Long.MinValue))
      }
      val next = fresh.copy(
        version = fresh.version + 1, parentVersion = fresh.version,
        schemas = schemas2,
        files = fresh.files ++ entries.map(_.copy(schemaId = sid)),
        fences = fresh.fences + (queryId -> epochId),
        watermarks = mergedWm,
        metrics = (fresh.metrics :+ metric).takeRight(MetricsRetained))
      try {
        table.commit(next)
        return MergeResult(applied = true, Some(metric), next.version)
      } catch {
        case e: SnapshotTable.ConcurrentCommitException =>
          attempts += 1
          if (attempts > MaxRebases) throw e
          // brief backoff: the racer that won the link has committed, so
          // the next attempt rebases onto its version
          Thread.sleep(math.min(1000L, 100L * attempts))
      }
    }
    sys.error("unreachable")
  }

  /** Insert the written files' physical schema (and the possibly wider
    * merged current schema) into a manifest's append-only schema list.
    * Returns the new list and the schemaId the written files carry.
    * Rebase-safe: computed against whatever manifest the commit attempt
    * lands on, so a racer's own schema evolution composes additively.
    */
  private def schemasWith(base: Seq[String], physicalSchema: StructType): (Seq[String], Int) = {
    val current = DataType.fromJson(base.last).asInstanceOf[StructType]
    val merged = SnapshotTable.mergeSchemas(current, physicalSchema)
    val (withPhys, sid) = base.indexOf(physicalSchema.json) match {
      case -1 => (base :+ physicalSchema.json, base.size)
      case i => (base, i)
    }
    val full = if (withPhys.last == merged.json) withPhys else withPhys :+ merged.json
    (full, sid)
  }

  /** Reconcile the merge-on-read deltas of every bucket that has any into
    * fresh base files (tombstones drop out). Amortized maintenance —
    * lineage (fences/watermarks) is untouched, so it can run any time
    * between epochs. O(buckets-with-deltas), not O(table).
    */
  def compact(
      spark: SparkSession,
      table: SnapshotTable,
      writeSplits: Int = 4,
      targetFileBytes: Long = TargetFileBytes): Option[Long] = {
    val m = table.manifest.getOrElse(sys.error(s"table not initialized: ${table.root}"))
    val deltas = m.files.filter(_.isDelta)
    if (deltas.isEmpty) return None

    // Dirty = union of the delta files' bucket ranges (footer-derived).
    // Only dirty buckets' base files are read and rewritten; clean
    // buckets carry their files forward untouched — O(dirty buckets).
    val dirty: Set[Int] = deltas.flatMap(_.coveredBuckets(m.numBuckets)).toSet
    val affected = m.files.filter(f => f.isDelta || dirty.contains(f.bucket))
    rewriteBuckets(spark, table, m, affected, writeSplits, targetFileBytes, "compact-write")(
      identity).map(_._1)
  }

  /** Right-to-be-forgotten erasure (the GDPR path a training-data lake
    * must have): physically rewrite ONLY the buckets the purged keys hash
    * to, dropping every row of those keys; every other file is carried
    * forward BY IDENTITY into the new snapshot. O(touched buckets), never
    * O(table) — at thousands of buckets a bounded erasure request
    * rewrites a sliver. Merge-on-read deltas covering a touched bucket
    * are folded in (their whole covered range joins the rewrite, exactly
    * like [[compact]], so no delta row is orphaned). The purge commits a
    * NEW version, a checkpoint record: older snapshots still reference the
    * pre-purge files, so a complete erasure follows with
    * `expireSnapshots(keepLast = 1)`, which cuts at the purge and retires
    * every pre-purge version — returned paths say which files held
    * purged rows. `keys` is a one-column `doc_id` DataFrame, bounded (an
    * erasure request, not a corpus): it is collected once for bucket
    * targeting and broadcast for the anti-join.
    */
  def purgeKeys(spark: SparkSession, table: SnapshotTable, keys: DataFrame): Option[PurgeResult] = {
    val m = table.manifest.getOrElse(sys.error(s"table not initialized: ${table.root}"))
    val targets: Set[Int] = keys
      .select(SnapshotTable.bucketOf(col(Model.KeyCol), m.numBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    // fixpoint expansion: a delta file covering a target bucket brings its
    // WHOLE bucket range into the rewrite (its other buckets' rows live in
    // the same file and must be rewritten, not lost)
    var dirty = targets
    var affected = m.files.filter(f => dirty.exists(f.covers))
    var grown = true
    while (grown) {
      val expanded = dirty ++ affected.filter(_.isDelta)
        .flatMap(_.coveredBuckets(m.numBuckets))
      grown = expanded.size > dirty.size
      dirty = expanded
      affected = m.files.filter(f => dirty.exists(f.covers))
    }
    if (affected.isEmpty) return None

    val erased = broadcast(keys.select(col(Model.KeyCol)).distinct())
    rewriteBuckets(spark, table, m, affected, writeSplits = 4, TargetFileBytes,
      "purge-write")(_.join(erased, Seq(Model.KeyCol), "left_anti")).map {
      case (version, written) => PurgeResult(version, dirty,
        affected.map(_.rows).sum - written.map(_.rows).sum, affected.map(_.path))
    }
  }

  /** The rewrite under [[compact]] and [[purgeKeys]]: reconcile
    * `affected` (every file of the rewritten buckets, their deltas
    * included), pass the winners through `keep`, write them as clustered
    * base files, and commit those in place of `affected` with every
    * other file carried forward, as a checkpoint record (the full file
    * list, so an expiry can cut right at it). Returns the new version and
    * its new entries. A lost commit race costs only the wasted rewrite: it is
    * deleted and None returned, and a retry runs against the new
    * manifest (compaction's next size-policy trigger).
    *
    * Files are split near `targetFileBytes` from the affected entries'
    * recorded bytes/row — a fixed row cap over- or under-shoots by the
    * payload width (a tokens array varies 100× across sources). Entries
    * with unknown bytes are left out of the estimate; with no estimate at
    * all the cap is 4M rows.
    */
  private def rewriteBuckets(spark: SparkSession, table: SnapshotTable, m: Manifest,
      affected: Seq[FileEntry], writeSplits: Int, targetFileBytes: Long, label: String)(
      keep: DataFrame => DataFrame): Option[(Long, Seq[FileEntry])] = {
    val winners = keep(Reconcile.winners(spark, table.readEntries(spark, m, affected),
      m.numBuckets, writeSplits, rowsHint = table.rowsOf(affected)))
    val payload = m.currentSchema
    val out = winners.select(
      payload.fieldNames.toSeq.map(col) ++
        Seq(col("lsn").as(Model.LsnCol), col(Model.BucketCol)): _*)
    val known = affected.filter(f => f.bytes > 0 && f.rows > 0)
    val maxRecords: Long =
      if (known.isEmpty) 4000000L
      else {
        val bytesPerRow = known.map(_.bytes).sum.toDouble / known.map(_.rows).sum
        math.max(1L, (targetFileBytes / bytesPerRow).toLong)
      }
    val newVersion = m.version + 1
    val outDir = table.newDataDir(newVersion)
    timed(label)(clustered(out).write
      .option("maxRecordsPerFile", maxRecords)
      .partitionBy(Model.BucketCol)
      .mode("overwrite")
      .parquet(outDir.toString))

    val newEntries = FileStats.entries(spark, table.listPartFiles(outDir), m.schemas.size - 1)
    val affectedSet = affected.map(_.path).toSet
    try {
      table.commit(m.copy(version = newVersion, parentVersion = m.version,
        files = m.files.filterNot(f => affectedSet.contains(f.path)) ++ newEntries),
        checkpoint = true)
      Some((newVersion, newEntries))
    } catch {
      case _: SnapshotTable.ConcurrentCommitException =>
        scala.util.Try(graft.util.Tables.deleteRecursively(outDir.toString))
        None
    }
  }

  /** Outcome of [[purgeKeys]]: the committed version, the buckets
    * rewritten, the net row delta (for MOR inputs this includes delta
    * rows and tombstones folded away, not just purged keys), and the
    * superseded files that may still hold purged rows in OLDER snapshots
    * (physically reclaimed once those snapshots expire: by the table's own
    * retention, or at once by `expireSnapshots(keepLast = 1)`).
    */
  final case class PurgeResult(version: Long, buckets: Set[Int],
      rowDelta: Long, supersededFiles: Seq[String])
}
