package graft.cdc

import java.nio.file.{DirectoryNotEmptyException, Files, NoSuchFileException, Path, Paths}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, sources}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, Literal,
  UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Snapshot-based lake table ("mini-Iceberg" — no Iceberg jar ships in
  * /opt/spark/jars, so the manifest/snapshot layer is implemented directly;
  * SURVEY.md §4.3). Layout:
  *
  * {{{
  * root/
  *   manifests/v<version>.json         -- one record per commit ([[Manifest.Record]]); the highest is current
  *   data/v<version>/_bucket=<b>/part-*.parquet   -- immutable once committed
  * }}}
  *
  * `manifests/` holds only retained versions, the oldest always a
  * checkpoint record ([[expireSnapshots]]).
  *
  * Commit protocol: write all data files, then link the fully written
  * record of version v+1 at `manifests/v<v+1>.json`. That one no-replace
  * link is the commit and the linearization point: the current version
  * is the highest record in `manifests/`, so readers only ever observe
  * whole, committed snapshots, mirroring the reference's implicit
  * reliance on Snowflake's atomic MERGE (fct_trips.sql:1-13). Concurrent
  * writers race on the link (losers rebase via [[MergeEngine]]);
  * replayed/racing writers on the same lane are fenced by
  * (queryId, epochId) in [[Manifest.fences]].
  *
  * Scale note: a snapshot is O(files) metadata on the driver; data stays in
  * executors. Bucket count sizes the rewrite granularity — at 100 TB you
  * run thousands of buckets so a MERGE touches only the buckets its keys
  * hash to; locally we default to 16.
  */
class SnapshotTable(val root: String, val defaultNumBuckets: Int = 16,
    val manifestCheckpointEvery: Int = SnapshotTable.DefaultCheckpointEvery) {
  private val rootPath: Path = Paths.get(root)

  /** Linked records are immutable — resolved manifests memoize here,
    * least recently used first out, at most `manifestCheckpointEvery`
    * entries: enough for one resolution chain (a record resolves through
    * fewer parents than that) while a long-lived handle holds O(1)
    * versions' file lists, not one per version it ever touched.
    */
  private val resolvedCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Long, Manifest](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Manifest]): Boolean =
        size() > manifestCheckpointEvery
    })

  private[cdc] def resolvedCacheSize: Int = resolvedCache.size()

  private def manifestDir: Path = rootPath.resolve("manifests")
  private def manifestPath(v: Long): Path = manifestDir.resolve(s"v$v.json")
  def dataDir(v: Long): Path = rootPath.resolve(s"data/v$v")

  /** Unique output dir for a write targeting version `v`. The suffix is
    * what makes LIVE concurrent writers possible: both racers write
    * side-by-side instead of clobbering each other's `data/v{N+1}` (an
    * overwrite-mode Spark write DELETES the target dir first), and the
    * loser's rebase re-points its already-written files at a higher
    * version. GC still recognizes the numeric version prefix.
    */
  def newDataDir(v: Long): Path =
    rootPath.resolve(s"data/v$v-${java.util.UUID.randomUUID.toString.take(8)}")

  def exists: Boolean = currentVersion.isDefined

  /** The highest record in `manifests/`. A record enters it only by the
    * commit's link and leaves it only through [[expireSnapshots]], which
    * never expires the highest one.
    */
  def currentVersion: Option[Long] = recordVersions.lastOption

  def manifest: Option[Manifest] = currentVersion.map(manifestAt)

  /** Load a specific historical manifest version (time travel). A
    * record resolves its file list through the parent chain up to the
    * nearest checkpoint, memoized per published version.
    */
  def manifestAt(v: Long): Manifest = {
    require(Files.exists(manifestPath(v)), s"no snapshot v$v at $root (expired or never committed)")
    resolveVersion(v)
  }

  /** Version `v`'s record, None once expired (or never committed). Read
    * first, no existence check: a concurrent [[expireSnapshots]] may
    * delete the file between any check and the read.
    */
  private def recordIfPresent(v: Long): Option[Manifest.Record] =
    try Some(Manifest.fromJson(new String(Files.readAllBytes(manifestPath(v)), StandardCharsets.UTF_8)))
    catch { case _: NoSuchFileException => None }

  private def recordAt(v: Long): Manifest.Record = recordIfPresent(v).getOrElse(
    throw new IllegalArgumentException(s"no snapshot v$v at $root (expired or never committed)"))

  /** Count of cache-miss full manifest resolutions by this handle —
    * observability for the change-feed walk's "no per-version resolution
    * on deep catch-up" contract (asserted in ChangeFeedSpec).
    */
  private[cdc] val fullResolutions = new java.util.concurrent.atomic.AtomicLong(0)

  private def resolveVersion(v: Long): Manifest = {
    val cached = resolvedCache.get(v)
    if (cached != null) return cached
    fullResolutions.incrementAndGet()
    val m = recordAt(v).resolve(resolveVersion)
    resolvedCache.put(v, m)
    m
  }

  /** File-level changes of every commit in (fromV, toV], NEWEST FIRST:
    * (version, filesAdded, removedPaths). Every record carries its own
    * step, so the walk reads one record per version and resolves none:
    * O(window's epoch files) work, however large the table.
    */
  def changesBetween(fromV: Long, toV: Long): Seq[(Long, Seq[FileEntry], Seq[String])] = {
    require(fromV <= toV, s"bad change window v$fromV..v$toV at $root")
    val out = Vector.newBuilder[(Long, Seq[FileEntry], Seq[String])]
    var v = toV
    while (v > fromV) {
      val r = recordAt(v)
      out += ((v, r.filesAdded, r.filesRemoved))
      v = r.parentVersion
    }
    out.result()
  }

  /** Refuse a streaming batch below `queryId`'s committed fence. Spark
    * only ever re-delivers the last uncommitted batch, so a legitimate
    * `batchId` is at or above the fence; one below it means the stream
    * restarted from a fresh checkpoint (batch ids reset to 0) under a
    * reused queryId, and every batch up to the fence would silently no-op
    * and drop its data.
    */
  def requireNotBelowFence(queryId: String, batchId: Long): Unit =
    manifest.flatMap(_.fences.get(queryId)).filter(batchId < _).foreach { fence =>
      throw new IllegalStateException(
        s"batchId $batchId is below the committed fence $fence for queryId " +
          s"'$queryId' at $root — the stream was restarted with a fresh checkpoint " +
          "but a reused queryId, so every batch would no-op and be dropped. Either " +
          "restore the original checkpoint or use a new queryId for the new checkpoint.")
    }

  def schema: Option[StructType] =
    manifest.map(_.currentSchema)

  /** Create an empty table at version 0 with the given user schema. */
  def init(schema: StructType, numBuckets: Int = defaultNumBuckets): Manifest = {
    require(!exists, s"table already exists at $root")
    Files.createDirectories(manifestDir)
    Files.createDirectories(rootPath.resolve("data"))
    val m = Manifest(
      version = 0L, parentVersion = -1L, numBuckets = numBuckets,
      schema = schema.json, files = Seq.empty,
      fences = Map.empty, watermarks = Map.empty, metrics = Seq.empty)
    commit(m)
    m
  }

  /** Initialize from a change-event schema if the table does not exist
    * yet — the shared init-on-first-write path of the batch writer and
    * the streaming sink.
    */
  def ensureInitialized(eventSchema: StructType): Unit =
    if (!exists) init(Model.payloadSchema(eventSchema), defaultNumBuckets)

  /** Commit a new version. The commit is one no-replace hard link of
    * the version's fully written record at `manifests/v<N>.json`: link(2)
    * fails with EEXIST where rename(2) would silently replace, and on
    * success the whole record appears in one syscall. This is the
    * put-if-absent log write of the Delta log and of Structured
    * Streaming's commit log. The first writer to link a version wins it;
    * every other writer of that version, in this process or another,
    * gets [[SnapshotTable.ConcurrentCommitException]]. Writers link
    * through [[MergeEngine.commit]], which rebases or drops the loser.
    *
    * Crash semantics: a record that was linked is committed, whoever
    * linked it. A writer that dies after the link has committed its
    * epoch; on restart Spark re-delivers that epoch and the record's
    * fence turns it into a no-op. A writer that dies before the link
    * leaves only files no record names, invisible to readers.
    *
    * The record is the version's [[Manifest.Record]]: its file step
    * against the parent's resolved files, plus the full file list at
    * every `manifestCheckpointEvery`th version.
    *
    * Versions are contiguous: a commit names its parent and is the
    * version right after it, so the versions in `manifests/` have no
    * gaps up to the current one.
    *
    * Retention, the one policy every writer shares: after linking a
    * checkpoint record the table expires itself to
    * [[SnapshotTable.RetainVersions]] versions; a younger table returns
    * before any listing ([[expire]]). `checkpoint` stores the full file
    * list off the cadence too (compact and purge), so an expiry can cut
    * right there.
    */
  private[cdc] def commit(m: Manifest, checkpoint: Boolean = false): Unit = {
    require(m.version == m.parentVersion + 1,
      s"commit of v${m.version} at $root must follow its parent v${m.parentVersion} directly")
    if (currentVersion.exists(_ >= m.version))
      throw new SnapshotTable.ConcurrentCommitException(root, m.version)
    // The record's step is taken against the parent's resolved files. A
    // parent that can no longer be loaded was expired: the table has
    // moved on, so this commit lost.
    val parentFiles =
      if (m.parentVersion < 0) Seq.empty
      else try manifestAt(m.parentVersion).files
      catch {
        case _: IllegalArgumentException =>
          throw new SnapshotTable.ConcurrentCommitException(root, m.version,
            s" (parent v${m.parentVersion} is expired)")
      }
    val full = checkpoint || m.version % manifestCheckpointEvery == 0
    val json = Manifest.toJson(m, parentFiles, checkpoint = full)
    val tmp = rootPath.resolve(s"_manifest.tmp.${m.version}.${java.util.UUID.randomUUID}")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    try Files.createLink(manifestPath(m.version), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new SnapshotTable.ConcurrentCommitException(root, m.version)
    } finally Files.delete(tmp)
    if (full && m.version >= SnapshotTable.RetainVersions)
      try expire(SnapshotTable.RetainVersions, sweepBefore = None)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] expiry after committing v${m.version} at $root failed: $e")
      }
  }

  /** Read the given file entries as uniform change rows: payload columns
    * + `lsn` + `op`, as ONE parquet relation under `m`'s schema
    * ([[SnapshotTable.writtenSchema]]). Spark's parquet reader maps every
    * file onto it by name: case-insensitively, columns a file lacks
    * null-filled, int→long and float→double widened (array elements too)
    * — the engine's MATCH_BY_COLUMN_NAME + ENABLE_SCHEMA_EVOLUTION analog
    * (reference snowflake/setup.sql:58-61), with no rewrite of old files.
    * Base files surface op='K' (already reconciled): they hold no `_op`
    * column, so the reader null-fills it; delta files surface their
    * stored `_op` including delete tombstones.
    */
  private[cdc] def readEntries(spark: SparkSession, m: Manifest, entries: Seq[FileEntry]): DataFrame = {
    val payload = m.currentSchema
    if (entries.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], SnapshotTable.changeRowSchema(payload))
    else spark.read.schema(SnapshotTable.writtenSchema(payload)).parquet(entries.map(_.path): _*)
      .select(payload.fieldNames.toSeq.map(col) ++
        Seq(col(Model.LsnCol).as("lsn"), coalesce(col(Model.OpCol), lit(Model.OpKeep)).as("op")): _*)
  }

  /** Current snapshot as a DataFrame of payload columns. Base-only
    * snapshots read the files directly; snapshots with merge-on-read
    * deltas reconcile (last-LSN-wins, tombstones drop rows) on the fly —
    * but ONLY the buckets some delta range covers: clean buckets' base
    * files stream through with no shuffle (O(dirty buckets) read
    * overhead, not O(table)).
    */
  def read(spark: SparkSession): DataFrame = readWithLsn(spark).drop(Model.LsnCol)

  def readWithLsn(spark: SparkSession): DataFrame =
    readPruned(spark, manifest.getOrElse(sys.error(s"no such table: $root")))

  /** Time travel: the table as of snapshot `v`, under THAT version's
    * schema (a column added later does not appear; rows merged later are
    * absent). Old data files are immutable, so this is a pure metadata
    * operation — no copy-on-read.
    */
  def readVersion(spark: SparkSession, v: Long): DataFrame =
    readVersionWithLsn(spark, v).drop(Model.LsnCol)

  def readVersionWithLsn(spark: SparkSession, v: Long): DataFrame =
    readPruned(spark, manifestAt(v))

  /** Retire every version below the cut — the newest checkpoint record
    * at or below `current - keepLast + 1` — and every data file no
    * retained version references. At least `keepLast` versions stay (v0
    * is always a checkpoint) and every retained record resolves through
    * retained ones; a call between checkpoints keeps up to
    * `manifestCheckpointEvery - 1` extra versions until the next one is
    * linked. Expired time travel fails fast with "expired". Returns
    * (records deleted, data files deleted).
    *
    * The data dirs numbered at or below the current version (a higher
    * one is an in-flight writer's) are swept. A stager or a rebasing
    * loser can see the table pass its dir's number before its link
    * lands, so only files older than `minAgeMs`
    * ([[SnapshotTable.GcGraceMs]] by default) go; single-writer
    * maintenance may pass 0. Records delete first, so a crash mid-run
    * leaves only orphans the next call sweeps. Overlapping expiries
    * never throw: deletes tolerate what the other removed first, and a
    * call whose records a higher cut already expired returns (0, 0).
    */
  def expireSnapshots(keepLast: Int = 1, minAgeMs: Long = SnapshotTable.GcGraceMs): (Int, Int) =
    expire(keepLast, sweepBefore = Some(System.currentTimeMillis - minAgeMs))

  /** The cut of [[expireSnapshots]], which sweeps files older than
    * `sweepBefore`. Without it ([[commit]]'s expiry) only the files the
    * expired records name and no retained one does go: no writer can
    * still be about to link a committed file, and no data dir is listed.
    * A failure is logged: the version is already committed.
    */
  private def expire(keepLast: Int, sweepBefore: Option[Long]): (Int, Int) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val all = recordVersions
    val cur = all.lastOption.getOrElse(sys.error(s"no such table: $root"))
    val target = math.max(0L, cur - keepLast + 1)
    // the retained records, oldest (the cut checkpoint) first
    @scala.annotation.tailrec
    def retainedFrom(v: Long, newer: List[Manifest.Record]): Option[List[Manifest.Record]] =
      recordIfPresent(v) match {
        case Some(r) if v <= target && r.files.isDefined => Some(r :: newer)
        case Some(r) => retainedFrom(r.parentVersion, r :: newer)
        case None => None
      }
    retainedFrom(cur, Nil).fold((0, 0)) { retained =>
      val expired = all.takeWhile(_ < retained.head.version)
      // the oldest record is a checkpoint: with every later step it
      // names each file an expired version held
      val named = if (sweepBefore.isDefined) Set.empty[String]
        else expired.flatMap(recordIfPresent).flatMap(r => r.files.getOrElse(Nil) ++ r.filesAdded)
          .map(_.path).toSet
      expired.foreach(v => Files.deleteIfExists(manifestPath(v)))
      // every retained version's file is in the cut's list or added after it
      val keep = (retained.head.files.get ++ retained.tail.flatMap(_.filesAdded)).map(_.path).toSet
      val doomed = sweepBefore.fold((named -- keep).toSeq.map(Paths.get(_))) { cutoff =>
        // write dirs are "v12" or "v12-ab34cd5e" (unique per write attempt)
        vanishedAs(Seq.empty[Path])(graft.util.Tables.listClosed(rootPath.resolve("data"))(_.toSeq))
          .filter { d =>
            val nm = d.getFileName.toString
            nm.startsWith("v") && scala.util.Try(nm.drop(1).takeWhile(_.isDigit).toLong <= cur).getOrElse(false)
          }
          .flatMap(d => vanishedAs(Seq.empty[Path])(graft.util.Tables.walkClosed(d)(_.toSeq)))
          .filter(p => p.getFileName.toString.startsWith("part-") && !keep.contains(p.toString) &&
            vanishedAs(false)(Files.getLastModifiedTime(p).toMillis <= cutoff))
      }
      val deleted = doomed.filter(Files.deleteIfExists)
      deleted.foreach(p => Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc")))
      deleted.map(_.getParent).distinct.foreach(pruneUp)
      (expired.size, deleted.size)
    }
  }

  /** Remove `dir`, then its parents up to `data/`, while it holds only
    * write markers (`_SUCCESS`, checksums): emptied dirs leave the sweep.
    */
  @scala.annotation.tailrec
  private def pruneUp(dir: Path): Unit = {
    val data = rootPath.resolve("data")
    val removed = dir != data && dir.startsWith(data) && vanishedAs(false) {
      val left = graft.util.Tables.listClosed(dir)(_.toSeq)
      left.map(_.getFileName.toString).forall(n => n == "_SUCCESS" || n.endsWith(".crc")) && {
        left.foreach(Files.deleteIfExists)
        Files.deleteIfExists(dir)
      }
    }
    if (removed) pruneUp(dir.getParent)
  }

  /** `body`, or `orElse` when a path it touched vanished (a concurrent
    * expiry removed it first) or a dir it empties gained an entry.
    */
  private def vanishedAs[A](orElse: A)(body: => A): A =
    try body
    catch {
      case _: NoSuchFileException | _: DirectoryNotEmptyException => orElse
      case e: java.io.UncheckedIOException if e.getCause.isInstanceOf[NoSuchFileException] => orElse
    }

  /** Ascending versions of the `v<N>.json` records in `manifests/`. */
  private def recordVersions: Seq[Long] =
    if (!Files.isDirectory(manifestDir)) Seq.empty
    else graft.util.Tables.listClosed(manifestDir)(_.map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).toSeq).sorted

  /** Reconcile-if-needed read of a file subset: dirty buckets (covered by
    * some delta in the subset) go through [[Reconcile]], arranged by one
    * hash exchange on doc_id at Spark's shuffle-partition count; the rest
    * are plain scans.
    */
  private def readResolved(spark: SparkSession, m: Manifest, entries: Seq[FileEntry]): DataFrame = {
    val payloadNames = m.currentSchema.fieldNames.toSeq
    val outCols = payloadNames.map(col) ++ Seq(col("lsn").as(Model.LsnCol))
    val deltas = entries.filter(_.isDelta)
    if (deltas.isEmpty) return readEntries(spark, m, entries).select(outCols: _*)

    val dirty: Set[Int] = deltas.flatMap(_.coveredBuckets(m.numBuckets)).toSet
    val (dirtyFiles, cleanFiles) =
      entries.partition(f => f.isDelta || dirty.contains(f.bucket))
    val reconciled = Reconcile.winners(readEntries(spark, m, dirtyFiles)
      .repartition(col(Model.KeyCol)).sortWithinPartitions(col(Model.KeyCol)))
      .select(outCols: _*)
    if (cleanFiles.isEmpty) reconciled
    else reconciled.unionByName(readEntries(spark, m, cleanFiles).select(outCols: _*))
  }

  /** Manifest-pruned read: only files whose bucket (base) or bucket range
    * (delta) covers one of `buckets`, further skipped by `minLsn` (a file
    * whose maxLsn < minLsn cannot hold a row that survives the filter).
    * Returns current winners of those buckets with `_lsn >= minLsn` —
    * the "changed since LSN X in these key ranges" incremental-consumer
    * read ([[readPruned]] over the current snapshot).
    */
  def readBuckets(spark: SparkSession, buckets: Set[Int],
      minLsn: Long = Long.MinValue): DataFrame =
    readPruned(spark, manifest.getOrElse(sys.error(s"no such table: $root")),
      Some(buckets), Some(minLsn))

  /** The one read of snapshot `m`: winners of the files [[pruneEntries]]
    * keeps — those covering one of `buckets` (None: every file) whose
    * maxLsn reaches `minLsn` — then filtered to those buckets (no bucket
    * filter for None) and to `_lsn >= minLsn` (none without a floor).
    * Post-filters make pruning safe: a winner pruned away must have
    * lsn < minLsn (its file would otherwise have maxLsn >= minLsn), and
    * stale lower-LSN rows that outlive their winner's file are dropped by
    * the `_lsn >= minLsn` predicate. Current reads, time travel,
    * changed-since reads and change-feed pre-images all go through here.
    */
  private[graft] def readPruned(spark: SparkSession, m: Manifest,
      buckets: Option[Set[Int]] = None, minLsn: Option[Long] = None): DataFrame = {
    val all = readResolved(spark, m, pruneEntries(m, buckets, minLsn.getOrElse(Long.MinValue)))
    val inBuckets = buckets.fold(all)(bs =>
      all.filter(SnapshotTable.bucketOf(col(Model.KeyCol), m.numBuckets).isin(bs.toSeq: _*)))
    minLsn.fold(inBuckets)(f => inBuckets.filter(col(Model.LsnCol) >= f))
  }

  /** The file-skipping core of [[readPruned]], exposed for tests. */
  private[graft] def pruneEntries(m: Manifest, buckets: Option[Set[Int]], minLsn: Long): Seq[FileEntry] =
    m.files.filter(f => buckets.forall(_.exists(f.covers)) && f.maxLsn >= minLsn)

  /** Point lookup: current rows of a BOUNDED key set (a serving-layer /
    * debugging / erasure-audit read, not a corpus scan), as ONE pruned
    * scan job with no shuffle:
    *
    *  1. bucket prune — keys hash to buckets on the driver
    *     ([[SnapshotTable.bucketOfKey]]); only files covering some sought
    *     key's bucket survive;
    *  2. key-range prune — base files are written clustered (sorted by
    *     key within the bucket), so a file whose footer-derived
    *     [minKey, maxKey] excludes every sought key of its bucket is
    *     skipped WITHOUT opening it (entries with unknown ranges are read
    *     conservatively);
    *  3. the surviving files are read directly by Spark's parquet reader
    *     in one `FileScanRDD` job ([[lookupScan]]) — no file index, no
    *     nested query to analyze, optimize and plan. `doc_id IN (...)`
    *     is pushed into every file read, so row groups whose key stats
    *     exclude every sought key are skipped, and inside the task only
    *     rows of sought keys are kept. Every file is read under the
    *     snapshot's schema, as [[readEntries]] reads it. This is exact:
    *     last-LSN-wins is decided per doc_id, so dropping other keys'
    *     rows cannot change a sought key's winner;
    *  4. the key-filtered rows — at most keys × live versions per key,
    *     the merge-on-read deltas of the sought buckets included — are
    *     collected and [[Reconcile.pick]] chooses the winners on the
    *     driver.
    *
    * The result is a local relation, so the scan job runs HERE, when the
    * DataFrame is built (for `format("graft")`, while the query is
    * optimized), not when it is collected. O(keys) files at any table
    * size; the driver holds only rows whose doc_id is in `keys`.
    */
  def lookupKeys(spark: SparkSession, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "lookupKeys: empty key set")
    lookupKeysWithLsn(spark, keys, manifest.getOrElse(sys.error(s"no such table: $root")))
      .drop(Model.LsnCol)
  }

  /** [[lookupKeys]] keeping the `_lsn` column — the shape the data-source
    * read substitutes when a `doc_id =`/`IN` predicate is pushed —
    * against snapshot `m`, current or historic. An empty key set reads
    * nothing and returns no rows.
    */
  private[graft] def lookupKeysWithLsn(spark: SparkSession, keys: Seq[String], m: Manifest): DataFrame = {
    val payload = m.currentSchema
    val changeRow = SnapshotTable.changeRowSchema(payload)
    val toRow = CatalystTypeConverters.createToScalaConverter(changeRow)
    val rows = lookupScan(spark, m, keys).toSeq
      .flatMap(_.filter(_ != null).collect()).map(toRow(_).asInstanceOf[Row])
    val docIdx = changeRow.fieldIndex(Model.KeyCol)
    val winners = Reconcile.pick(rows.sortBy(_.getString(docIdx)).iterator, changeRow)
      .map(r => Row.fromSeq(r.toSeq.init)).toSeq
    spark.createDataFrame(winners.asJava,
      SnapshotTable.relaxNulls(payload.add(Model.LsnCol, LongType)).asInstanceOf[StructType])
  }

  /** The scan job of [[lookupKeysWithLsn]], None when no file can hold a
    * sought key: `pruneForKeys`' files in one `FileScanRDD` with one
    * parquet reader under [[SnapshotTable.writtenSchema]], split and
    * packed into tasks by `FilePartition` as a parquet scan would be.
    * Every row a file yields is one element, so its task reports it in
    * `recordsRead`: the row as a [[SnapshotTable.changeRowSchema]] row if
    * its doc_id is sought, null otherwise.
    */
  private[graft] def lookupScan(spark: SparkSession, m: Manifest, keys: Seq[String]): Option[FileScanRDD] = {
    val files = pruneForKeys(m, keys.groupBy(SnapshotTable.bucketOfKey(_, m.numBuckets)))
    if (files.isEmpty) return None
    val payload = m.currentSchema
    val written = SnapshotTable.writtenSchema(payload)
    val pushed = Seq(sources.In(Model.KeyCol, keys.distinct.toArray[Any]))
    // a fresh Hadoop conf: the builder writes the requested schema into
    // it and broadcasts that same object
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, written,
      new StructType, written, pushed, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    val reader = new SnapshotTable.KeyRead(read, written, keys.map(UTF8String.fromString).toSet)
    val sizes = files.map(f => if (f.bytes > 0) f.bytes else Files.size(Paths.get(f.path)))
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, sizes.map(_ + openCost).sum)
    val splits = files.zip(sizes).flatMap { case (f, len) =>
      (0L until len by maxSplit).map(off => PartitionedFile(InternalRow.empty,
        SparkPath.fromPathString(f.path), off, math.min(maxSplit, len - off), fileSize = len))
    }.sortBy(-_.length)
    Some(new FileScanRDD(spark, pf => reader(pf),
      FilePartition.getFilePartitions(spark, splits, maxSplit), SnapshotTable.changeRowSchema(payload)))
  }

  /** The file-skipping core of [[lookupKeys]], exposed for tests: a file
    * is read only if, for some bucket it covers, a key OF THAT BUCKET
    * falls inside the file's key range (checking a file against another
    * bucket's keys would re-read files the hash already rules out).
    */
  private[graft] def pruneForKeys(m: Manifest, keysByBucket: Map[Int, Seq[String]]): Seq[FileEntry] =
    m.files.filter(f => keysByBucket.exists {
      case (b, ks) => f.covers(b) && ks.exists(f.mayContainKey)
    })

  /** The part files Spark wrote under `dir`, sorted by path, each with
    * the bucket of its `_bucket=<b>` partition dir, or -1 for a flat
    * (non-partitioned) write.
    */
  private[cdc] def listPartFiles(dir: Path): Seq[(String, Int)] =
    if (!Files.exists(dir)) Seq.empty
    else graft.util.Tables.walkClosed(dir)(_.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).map { p =>
      val parent = p.getParent.getFileName.toString
      (p.toString, if (parent.startsWith("_bucket=")) parent.stripPrefix("_bucket=").toInt else -1)
    }.toSeq.sortBy(_._1))
}

object SnapshotTable {

  /** Default age an unreferenced data file must reach before an explicit
    * [[SnapshotTable.expireSnapshots]] deletes it. A writer that loses the
    * link rebases its already-written files onto the new current, so they
    * stay unreferenced until its own link lands; a minute covers any
    * rebase. The table's own expiry takes no unnamed file at all.
    */
  val GcGraceMs: Long = 60000L

  /** Every Nth version's record also stores the full file list (a
    * checkpoint). Bounds the reader's resolution chain and is where every
    * expiry cuts.
    */
  val DefaultCheckpointEvery: Int = 16

  /** Versions a table keeps when it expires itself: six whole checkpoint
    * intervals, about Structured Streaming's `minBatchesToRetain` (100),
    * so `manifests/` holds at most `RetainVersions + 16` records.
    */
  val RetainVersions: Int = 96

  /** Another writer committed this version first (optimistic-concurrency
    * loss): re-read the table and rebase the merge onto the new current.
    */
  final class ConcurrentCommitException(root: String, version: Long, detail: String = "")
    extends RuntimeException(
      s"concurrent commit lost at $root: v$version already exists — rebase onto the current manifest$detail")

  /** Rows as [[SnapshotTable.readEntries]] surfaces them: the payload
    * columns, then `lsn` and `op`.
    */
  private[cdc] def changeRowSchema(payload: StructType): StructType =
    payload.add("lsn", LongType, nullable = false).add("op", StringType, nullable = false)

  /** The columns every data file of a snapshot with schema `payload` is
    * read under: the payload, `_lsn`, and `_op`, which only deltas hold
    * (nullable: a base file's reader null-fills it).
    */
  private[cdc] def writtenSchema(payload: StructType): StructType =
    payload.add(Model.LsnCol, LongType, nullable = false).add(Model.OpCol, StringType, nullable = true)

  /** The point-lookup scan's reader: each row the parquet reader yields
    * under `written` ([[writtenSchema]]) becomes its change row if its
    * doc_id is sought, null otherwise — the columns as read, but `_op`
    * coalesced to 'K' for a base file. A task deserializes its own copy,
    * so the projection is built once per task.
    */
  private final class KeyRead(read: PartitionedFile => Iterator[InternalRow], written: StructType,
      sought: Set[UTF8String]) extends Serializable {
    private val keyIdx = written.fieldIndex(Model.KeyCol)
    @transient private lazy val project = UnsafeProjection.create(written.fields.toSeq.zipWithIndex.map {
      case (f, i) =>
        val at = BoundReference(i, f.dataType, nullable = true)
        if (f.name == Model.OpCol) Coalesce(Seq(at, Literal(Model.OpKeep))) else at
    })
    def apply(f: PartitionedFile): Iterator[InternalRow] =
      read(f).map(r => if (sought.contains(r.getUTF8String(keyIdx))) project(r).copy() else null)
  }

  /** Nullability-relaxed copy of a type (DataType.asNullable is
    * private[spark]).
    */
  def relaxNulls(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(relaxNulls(e), containsNull = true)
    case MapType(k, v, _) => MapType(relaxNulls(k), relaxNulls(v), valueContainsNull = true)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = relaxNulls(f.dataType), nullable = true)))
    case x => x
  }

  /** Deterministic bucket of a doc_id. xxhash64 is Spark's codegen'd 64-bit
    * hash — stable across versions/partitionings.
    */
  def bucketOf(docId: Column, numBuckets: Int): Column =
    pmod(xxhash64(docId), lit(numBuckets.toLong)).cast("int")

  /** [[bucketOf]] of one key, on the driver: the same XXH64 over the
    * key's UTF-8 bytes with xxhash64's seed 42, then the same pmod.
    */
  def bucketOfKey(key: String, numBuckets: Int): Int =
    java.lang.Math.floorMod(
      XXH64.hashUTF8String(UTF8String.fromString(key), 42L), numBuckets.toLong).toInt

  /** Additive, case-insensitive schema merge with safe numeric widening —
    * new columns append, Integer→Long and Float→Double widen; anything else
    * incompatible throws.
    */
  def mergeSchemas(table: StructType, batch: StructType): StructType = {
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (IntegerType, LongType) | (LongType, IntegerType) => LongType
      case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
      case (ArrayType(ea, n1), ArrayType(eb, n2)) => ArrayType(widen(ea, eb), n1 || n2)
      case _ => throw new IllegalArgumentException(
        s"incompatible schema evolution: $a vs $b")
    }
    val batchByLower = batch.fields.map(f => f.name.toLowerCase -> f).toMap
    val merged = table.fields.toSeq.map { f =>
      batchByLower.get(f.name.toLowerCase) match {
        case Some(bf) => StructField(f.name, widen(f.dataType, bf.dataType), f.nullable || bf.nullable)
        case None     => f
      }
    }
    val tableLower = table.fields.map(_.name.toLowerCase).toSet
    val added = batch.fields.toSeq
      .filterNot(f => tableLower.contains(f.name.toLowerCase))
      .map(f => f.copy(nullable = true)) // backfilled as null for old rows
    StructType(merged ++ added)
  }
}
