package graft.cdc

import com.fasterxml.jackson.annotation.{JsonIgnore, JsonInclude}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.types.{DataType, StructType}

/** One immutable data file owned by a snapshot: `bucket` is the
  * hash(doc_id) bucket it stores for BASE files (exactly one bucket per
  * base file, from the partitioned write); DELTA files are written as
  * the batch arrives, with no shuffle or sort, so each carries the
  * [bucketLo, bucketHi] range observed in its parquet footer — compaction
  * and read-time reconcile touch only the buckets some delta range
  * covers (O(dirty buckets), not O(table)). A file keeps the columns it
  * was written with and is read by name under the schema of the snapshot
  * being read ([[SnapshotTable.readEntries]]). min/max LSN support
  * file-skipping.
  */
case class FileEntry(
    path: String,
    bucket: Int,
    minLsn: Long,
    maxLsn: Long,
    rows: Long,
    kind: String,
    bucketLo: Int = 0,
    bucketHi: Int = Int.MaxValue,
    // On-disk size; drives the size-based compaction trigger and the
    // target-file-size estimate on rewrite. 0 = unknown (FileStats could
    // not read the footer) — consumers fall back to count-based heuristics.
    bytes: Long = 0L,
    // Key-column (doc_id) min/max from the parquet footer, in parquet's
    // UNSIGNED UTF-8 byte order. Base files are written clustered
    // (sorted by key within the bucket), so [minKey, maxKey] is a tight
    // range and a point lookup skips every base file whose range excludes
    // the sought keys — the manifest-level analog of Iceberg's
    // lower_bounds/upper_bounds. null = unknown (FileStats could not read
    // the footer's key stats) → consumers must treat the file as may-contain.
    minKey: String = null,
    maxKey: String = null) {
  @JsonIgnore def isDelta: Boolean = kind == FileEntry.Delta

  /** Conservative "may this file contain `key`?" from the footer key
    * range: unknown stats always pass (pruning must never lose a row).
    * Comparison is unsigned UTF-8 byte order — the order parquet used to
    * compute the stats — NOT String.compareTo (UTF-16 code units), which
    * diverges on supplementary characters.
    */
  def mayContainKey(key: String): Boolean =
    minKey == null || maxKey == null ||
      (FileEntry.utf8Leq(minKey, key) && FileEntry.utf8Leq(key, maxKey))

  /** Buckets this file may contain rows of (conservative for deltas). */
  def coveredBuckets(numBuckets: Int): Range =
    if (isDelta) math.max(0, bucketLo) to math.min(bucketHi, numBuckets - 1)
    else bucket to bucket

  def covers(b: Int): Boolean =
    if (isDelta) b >= bucketLo && b <= bucketHi else b == bucket
}

object FileEntry {
  /** Fully reconciled rows (payload + _lsn). */
  val Base = "base"
  /** Merge-on-read delta: raw change rows (payload + _lsn + _op incl.
    * delete tombstones + _bucket), reconciled at read/compaction.
    */
  val Delta = "delta"

  /** a <= b in unsigned UTF-8 byte order (parquet's binary stats order). */
  def utf8Leq(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length <= y.length
  }
}

/** Per-epoch ingest metrics, committed atomically with the data they
  * describe (fixes the reference's at-least-once Redis INCRBY hazard,
  * SURVEY.md §3.3: replay of an epoch can never double-count because the
  * metric row rides the same fenced snapshot commit).
  */
case class EpochMetrics(
    queryId: String,
    epochId: Long,
    eventsIn: Long,
    belowWatermark: Long,
    collapsedInBatch: Long,
    upserts: Long,
    deletes: Long,
    rowsWritten: Long,
    touchedBuckets: Int)

/** Snapshot manifest — the unit of atomic commit (SURVEY.md §4.3).
  *
  * - `fences`: queryId → highest applied epochId. A re-delivered epoch
  *   (foreachBatch replay after restart) is a no-op → exactly-once.
  * - `watermarks`: source partition (as string key, JSON-friendly) →
  *   highest applied LSN. This is both the per-partition lineage record
  *   (source offset → snapshot) and the broadcast min-LSN dedup filter.
  * - `schema`: the snapshot's table schema (Spark StructType JSON), the
  *   one every file is read under. Evolution is additive: a commit merges
  *   its files' schema into its parent's ([[SnapshotTable.mergeSchemas]]).
  *
  * `files` is the resolved file list. On disk each version is one
  * [[Manifest.Record]]: these fields with the commit's own file step in
  * place of `files`, which only checkpoint versions also store.
  */
case class Manifest(
    version: Long,
    parentVersion: Long,
    numBuckets: Int,
    schema: String,
    files: Seq[FileEntry],
    fences: Map[String, Long],
    watermarks: Map[String, Long],
    metrics: Seq[EpochMetrics]) {
  def currentSchemaJson: String = schema
  def currentSchema: StructType = DataType.fromJson(currentSchemaJson).asInstanceOf[StructType]
}

object Manifest {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  /** The on-disk form of one commit — the only one. Every record carries
    * the commit's own file step against `parentVersion` (entries added,
    * paths removed), so per-epoch metadata is O(epoch files), not
    * O(table files): a 10^10-row table holds ~10^5..10^6 live file
    * entries, and serializing them all on every 5-second commit is the
    * classic metadata bottleneck the Delta log and Iceberg's manifest
    * lists exist to avoid. Checkpoint records (every
    * `manifestCheckpointEvery`th version, and every compaction or purge)
    * also carry the full `files` list, a cache of the resolved state that
    * bounds how far a reader walks back and where expiry cuts. The small
    * fields (fences, watermarks, schema, bounded metrics window) are
    * fully materialized in every record.
    */
  private[cdc] case class Record(
      version: Long,
      parentVersion: Long,
      numBuckets: Int,
      schema: String,
      filesAdded: Seq[FileEntry],
      filesRemoved: Seq[String],
      @JsonInclude(JsonInclude.Include.NON_ABSENT) files: Option[Seq[FileEntry]],
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) fences: Map[String, Long],
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) watermarks: Map[String, Long],
      metrics: Seq[EpochMetrics]) {

    /** The full manifest: the checkpoint's `files`, else the step applied
      * to the parent's resolved files (`parent` is memoized by the caller;
      * the walk back is bounded by the checkpoint cadence).
      */
    def resolve(parent: Long => Manifest): Manifest = {
      val all = files.getOrElse {
        val removed = filesRemoved.toSet
        parent(parentVersion).files.filterNot(f => removed.contains(f.path)) ++ filesAdded
      }
      Manifest(version, parentVersion, numBuckets, schema, all, fences, watermarks, metrics)
    }
  }

  /** The record of `m` against its parent's resolved `parentFiles` (empty
    * for the initial commit), with the full file list when `checkpoint`.
    * Entries are immutable once committed, so a carried path whose entry
    * differs from the parent's is a writer bug and fails the commit.
    */
  def toJson(m: Manifest, parentFiles: Seq[FileEntry], checkpoint: Boolean): String = {
    val parentByPath = parentFiles.map(f => f.path -> f).toMap
    m.files.foreach(f => parentByPath.get(f.path).foreach(p => if (p != f)
      throw new IllegalStateException(
        s"v${m.version} changes the committed entry of ${f.path}: $p -> $f")))
    val paths = m.files.map(_.path).toSet
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(Record(
      m.version, m.parentVersion, m.numBuckets, m.schema,
      filesAdded = m.files.filterNot(f => parentByPath.contains(f.path)),
      filesRemoved = parentFiles.map(_.path).filterNot(paths.contains),
      files = if (checkpoint) Some(m.files) else None,
      m.fences, m.watermarks, m.metrics))
  }

  def fromJson(s: String): Record = mapper.readValue(s, classOf[Record])
}
