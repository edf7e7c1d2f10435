package graft.cdc

import java.nio.file.Path

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
  *   3. the [[Reconcile]] operator — a streaming winner-per-doc scan over
  *      rows the caller's ONE exchange made adjacent: readers hash on
  *      doc_id, [[compact]] and [[purgeKeys]] range-partition on
  *      (_bucket, doc_id), the layout their base files are written in. An
  *      event that slipped past 0–2 can never regress a newer row; deletes
  *      drop it.
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
    * sort, the rewrite's only exchange. Equal keys land in one partition
    * and sort adjacent, so [[Reconcile]] picks over it directly; and a
    * bucket's files cover DISJOINT key subranges, so the footer's key
    * min/max lands in the manifest ([[FileEntry.minKey]]/maxKey) and a
    * point lookup reads only the one file per bucket whose range covers
    * the key — O(1) files instead of O(bucket files) — the standard
    * lakehouse clustered-write shape (Iceberg sort-order compaction +
    * lower/upper bounds). Paid only on the rewrite paths (compact/purge),
    * never on ingest.
    */
  private val clusterCols = Seq(col(Model.BucketCol), col(Model.KeyCol))

  private def clustered(df: DataFrame): DataFrame =
    df.repartitionByRange(clusterCols: _*).sortWithinPartitions(clusterCols: _*)

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
    publish(table, stageMor(spark, table, events, queryId, epochId, saltedPreDedup))

  /** Outcome of [[stageMor]]: the epoch's commit [[Step]] (its delta
    * files written, or nothing to write), or [[FenceCovered]]. Until
    * committed, the files are INVISIBLE to every reader (no manifest
    * references them) — the write half of write-audit-publish.
    */
  private[cdc] sealed trait StageOutcome
  private[cdc] case object FenceCovered extends StageOutcome

  /** A writer's lane update: the fence `queryId → epochId`, the
    * per-partition watermark advances of its fresh events, and the
    * epoch's metrics.
    */
  private[cdc] final case class Lane(queryId: String, epochId: Long,
      wmAdvances: Map[String, Long], metric: EpochMetrics) {
    def wrote(added: Seq[FileEntry]): Lane =
      copy(metric = metric.copy(rowsWritten = added.map(_.rows).sum))
  }

  /** How version N+1 derives from its parent, for every writer's
    * [[commit]]: the file step (entries `added`, paths `removed`), the
    * `schema` the added files are read under, the lane update (none for
    * maintenance) and the checkpoint flag. `dataDir` is the write,
    * deleted if the step is dropped.
    */
  private[cdc] final case class Step(
      added: Seq[FileEntry],
      removed: Seq[String],
      schema: StructType,
      lane: Option[Lane],
      dataDir: Option[Path],
      checkpoint: Boolean = false) extends StageOutcome {
    def cleanup(): Unit = dataDir.foreach { d =>
      val _ = scala.util.Try(graft.util.Tables.deleteRecursively(d.toString))
    }

    /** Version N+1 on `parent`. Its schema is `schema` merged into the
      * parent's and watermarks merge by per-partition max, so a rebase
      * regresses neither a racer's evolution nor its watermarks.
      */
    def on(parent: Manifest): Manifest = {
      val gone = removed.toSet
      val next = parent.copy(version = parent.version + 1, parentVersion = parent.version,
        schema = SnapshotTable.mergeSchemas(parent.currentSchema, schema).json,
        files = parent.files.filterNot(f => gone(f.path)) ++ added)
      lane.fold(next) { l =>
        next.copy(
          fences = parent.fences + (l.queryId -> l.epochId),
          watermarks = parent.watermarks ++ l.wmAdvances.map { case (k, v) =>
            k -> math.max(v, parent.watermarks.getOrElse(k, Long.MinValue))
          },
          metrics = (parent.metrics :+ l.metric).takeRight(MetricsRetained))
      }
    }
  }

  /** The fence rule: `m` already applied `queryId`'s epoch `epochId`. */
  private[cdc] def fenced(m: Manifest, queryId: String, epochId: Long): Boolean =
    m.fences.get(queryId).exists(_ >= epochId)

  private def current(table: SnapshotTable): Manifest =
    table.manifest.getOrElse(sys.error(s"table not initialized: ${table.root}"))

  /** The one stats job of a fenced epoch, shared by the MERGE and the
    * SCD2 stream: the buckets its fresh events touch and its lane update
    * (collect is O(partitions × buckets × 4), driver-safe at any scale;
    * scans only 4 columns). An event is fresh iff strictly above its
    * partition's watermark in `m` ([[watermarkFloor]]).
    */
  private[cdc] def epochStats(events: DataFrame, m: Manifest, queryId: String,
      epochId: Long): (Set[Int], Lane) = {
    val statsRows = timed("stats-job")(events
      .groupBy(
        col("partition"),
        SnapshotTable.bucketOf(col(Model.KeyCol), m.numBuckets).as("_bucket"),
        (col("lsn") <= watermarkFloor(m.watermarks)).as("stale"),
        (col("op") === Model.OpDelete).as("isdel"))
      .agg(count(lit(1)).as("n"), max(col("lsn")).as("max_lsn"))
      .collect())

    val eventsIn = statsRows.map(_.getLong(4)).sum
    val freshRows = statsRows.filterNot(_.getBoolean(2))
    val freshCount = freshRows.map(_.getLong(4)).sum
    val freshDeletes = freshRows.filter(_.getBoolean(3)).map(_.getLong(4)).sum
    val touched = freshRows.map(_.getInt(1)).toSet
    // fresh events are strictly above their partition's watermark, so
    // each partition's fresh maximum is its new watermark
    val wmAdvances: Map[String, Long] = freshRows.groupBy(_.getInt(0))
      .map { case (p, rows) => p.toString -> rows.map(_.getLong(5)).max }
    (touched, Lane(queryId, epochId, wmAdvances,
      EpochMetrics(queryId, epochId, eventsIn, belowWatermark = eventsIn - freshCount,
        collapsedInBatch = 0, upserts = freshCount - freshDeletes, deletes = freshDeletes,
        rowsWritten = 0, touchedBuckets = touched.size)))
  }

  /** The MOR write WITHOUT the commit: fence check, schema evolution, the
    * epoch's stats job, and the batch's delta files staged against the
    * current manifest, as the epoch's commit [[Step]]. [[merge]]
    * publishes immediately; [[Wap]] audits the staged state first, so the
    * two cannot drift. Empty `added` = nothing fresh (metadata-only
    * fence/watermark advance on publish).
    */
  private[cdc] def stageMor(
      spark: SparkSession,
      table: SnapshotTable,
      events: DataFrame,
      queryId: String,
      epochId: Long,
      saltedPreDedup: Boolean = false): StageOutcome = {

    val m = current(table)

    // ── 0. epoch fence: replayed epoch → no-op ─────────────────────────
    if (fenced(m, queryId, epochId)) return FenceCovered

    // ── schema evolution (additive / widening) ─────────────────────────
    // merged here, so an incompatible batch fails before any file is written
    val payload = Model.payloadSchema(events.schema)
    val newSchema = SnapshotTable.mergeSchemas(m.currentSchema, payload)

    // ── 1. broadcast min-LSN watermark filter ──────────────────────────
    val (touched, lane) = epochStats(events, m, queryId, epochId)
    // Nothing fresh: metadata-only fence/watermark advance.
    if (touched.isEmpty) return Step(Seq.empty, Seq.empty, newSchema, Some(lane), None)

    // the batch's own payload columns under the table's names: no cast and
    // no null padding, since every read maps a file onto its snapshot's
    // schema by name
    val tableName = newSchema.fieldNames.map(n => n.toLowerCase -> n).toMap
    val fresh = events.filter(col("lsn") > watermarkFloor(m.watermarks))
      .select(payload.fieldNames.toSeq.map(n => col(n).as(tableName(n.toLowerCase))) ++
        Seq(col("lsn"), col("op")): _*)
    val staged = if (saltedPreDedup) preCombine(fresh) else fresh

    // ── append the batch as delta files — ZERO shuffle ─────────────────
    // Rows gain a `_bucket` column so each written file's footer min/max
    // bounds the bucket range it touches: a bucket-targeted epoch yields
    // narrow-range delta files and compaction/read-time reconcile touch
    // only those buckets (O(dirty buckets)); each row crosses its one
    // exchange later, at compaction/read-time reconcile. Ingest cost is a
    // scan + a write.
    val outDir = table.newDataDir(m.version + 1)
    val withBucket = staged
      .withColumn(Model.BucketCol, SnapshotTable.bucketOf(col("doc_id"), m.numBuckets))
      .withColumnsRenamed(Map("lsn" -> Model.LsnCol, "op" -> Model.OpCol))
    timed("write-delta")(withBucket.write
      .option("maxRecordsPerFile", 4000000)
      .mode("overwrite")
      .parquet(outDir.toString))

    // bucket = -1 = "range file"; the real coverage is [bucketLo,
    // bucketHi] from the footer stats. MOR delta files depend only on the
    // batch (not on table contents), so a lost commit race rebases by
    // RE-POINTING these files at a higher version — no rewrite.
    val newEntries = timed("file-stats")(
      FileStats.entries(spark, table.listPartFiles(outDir))
        .map(_.copy(kind = FileEntry.Delta)))
    Step(newEntries, Seq.empty, newSchema, Some(lane.wrote(newEntries)), Some(outDir))
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
    * else is [[commit]]ted onto the current manifest (metadata only).
    */
  private[cdc] def publish(table: SnapshotTable, outcome: StageOutcome): MergeResult =
    outcome match {
      case FenceCovered => MergeResult(applied = false, None, current(table).version)
      case st: Step => commit(table, current(table), st)
    }

  /** The one commit of every writer: link `step` [[Step.on]] `parent` as
    * the next version. A step whose lane epoch `parent`'s fence already
    * covers (a racer on the SAME lane applied it) is dropped: its files
    * are deleted and the result is not-applied, so exactly-once holds
    * across writers, not just restarts.
    *
    * On a lost link an ADD-ONLY step rebases onto the new current (two
    * live writers on distinct fence lanes both succeed). Its files need
    * no rewrite: MOR delta content depends only on the batch, rows a
    * racer made stale are dropped by the last-LSN-wins reconcile, and
    * watermarks merge by max. A step that REMOVES files was derived from
    * `parent`'s files, so it cannot move: the loss deletes its write and
    * the [[SnapshotTable.ConcurrentCommitException]] propagates, as it
    * does after [[MaxRebases]] rebases.
    */
  @scala.annotation.tailrec
  private[cdc] def commit(table: SnapshotTable, parent: Manifest, step: Step,
      rebases: Int = 0): MergeResult =
    if (step.lane.exists(l => fenced(parent, l.queryId, l.epochId))) {
      step.cleanup()
      MergeResult(applied = false, None, parent.version)
    } else {
      val next = step.on(parent)
      val lost = try { table.commit(next, step.checkpoint); None }
        catch { case e: SnapshotTable.ConcurrentCommitException => Some(e) }
      lost match {
        case None => MergeResult(applied = true, step.lane.map(_.metric), next.version)
        case Some(e) if step.removed.nonEmpty || rebases >= MaxRebases =>
          step.cleanup()
          throw e
        case Some(_) =>
          // brief backoff: the racer that won the link has committed, so
          // the next attempt rebases onto its version
          Thread.sleep(math.min(1000L, 100L * (rebases + 1)))
          commit(table, current(table), step, rebases + 1)
      }
    }

  /** Reconcile the merge-on-read deltas of every bucket that has any into
    * fresh base files (tombstones drop out). Amortized maintenance —
    * lineage (fences/watermarks) is untouched, so it can run any time
    * between epochs. O(buckets-with-deltas), not O(table).
    */
  def compact(
      spark: SparkSession,
      table: SnapshotTable,
      targetFileBytes: Long = TargetFileBytes): Option[Long] = {
    val m = current(table)
    val deltas = m.files.filter(_.isDelta)
    if (deltas.isEmpty) return None

    // Dirty = union of the delta files' bucket ranges (footer-derived).
    // Only dirty buckets' base files are read and rewritten; clean
    // buckets carry their files forward untouched — O(dirty buckets).
    val dirty: Set[Int] = deltas.flatMap(_.coveredBuckets(m.numBuckets)).toSet
    val affected = m.files.filter(f => f.isDelta || dirty.contains(f.bucket))
    rewriteBuckets(spark, table, m, affected, targetFileBytes, "compact-write")(identity)
      .map(_._1)
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
    val m = current(table)
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
    rewriteBuckets(spark, table, m, affected, TargetFileBytes, "purge-write")(
      _.join(erased, Seq(Model.KeyCol), "left_anti")).map {
      case (version, written) => PurgeResult(version, dirty,
        affected.map(_.rows).sum - written.map(_.rows).sum, affected.map(_.path))
    }
  }

  /** The rewrite under [[compact]] and [[purgeKeys]]: arrange `affected`
    * (every file of the rewritten buckets, their deltas included)
    * [[clustered]], reconcile it, pass the winners through `keep`, and
    * write them as base files under the same (_bucket, key) local sort —
    * one exchange in all. Those files are committed in place of
    * `affected`, with every other file carried forward, as a checkpoint
    * record (the full file list, so an expiry can cut right at it)
    * through [[commit]]. Returns the new version and its new entries. A
    * lost commit race costs only the wasted rewrite: [[commit]] deletes
    * it, None is returned, and a retry runs against the new manifest
    * (compaction's next size-policy trigger).
    *
    * Files are split near `targetFileBytes` from the affected entries'
    * recorded bytes/row — a fixed row cap over- or under-shoots by the
    * payload width (a tokens array varies 100× across sources). Entries
    * with unknown bytes are left out of the estimate; with no estimate at
    * all the cap is 4M rows.
    */
  private def rewriteBuckets(spark: SparkSession, table: SnapshotTable, m: Manifest,
      affected: Seq[FileEntry], targetFileBytes: Long, label: String)(
      keep: DataFrame => DataFrame): Option[(Long, Seq[FileEntry])] = {
    val rows = table.readEntries(spark, m, affected)
      .withColumn(Model.BucketCol, SnapshotTable.bucketOf(col(Model.KeyCol), m.numBuckets))
    val winners = keep(Reconcile.winners(clustered(rows)))
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
    timed(label)(out.sortWithinPartitions(clusterCols: _*).write
      .option("maxRecordsPerFile", maxRecords)
      .partitionBy(Model.BucketCol)
      .mode("overwrite")
      .parquet(outDir.toString))

    val newEntries = FileStats.entries(spark, table.listPartFiles(outDir))
    try {
      val done = commit(table, m, Step(newEntries, affected.map(_.path), m.currentSchema,
        lane = None, Some(outDir), checkpoint = true))
      Some((done.version, newEntries))
    } catch { case _: SnapshotTable.ConcurrentCommitException => None }
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
