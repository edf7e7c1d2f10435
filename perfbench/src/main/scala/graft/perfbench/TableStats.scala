package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.cdc.{FileEntry, Manifest, SnapshotTable}

/** Per-layer figures read off a snapshot table's committed manifests and
  * its directory, after a run: the engine's own `EpochMetrics`, file
  * counts and read amplification, and commit sizes.
  */
object TableStats {

  /** Highest number of delta files covering any one bucket. */
  def maxDeltaFilesPerBucket(m: Manifest): Int =
    (0 until m.numBuckets).map(b => m.files.count(f => f.isDelta && f.covers(b)))
      .foldLeft(0)(math.max)

  private def dirBytes(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  private def isCompaction(added: Seq[FileEntry], removed: Seq[String]): Boolean =
    removed.nonEmpty && added.nonEmpty && added.forall(!_.isDelta)

  /** Table-shape and write-side figures of `tableDir`; `queryId` selects
    * the epoch metrics of one ingest.
    */
  def of(tableDir: String, queryId: String): Map[String, Double] = {
    val table = new SnapshotTable(tableDir)
    val m = table.manifest.getOrElse(sys.error(s"no table at $tableDir"))
    val steps = Try(table.changesBetween(0L, m.version)).getOrElse(Seq.empty)
    val epochs = m.metrics.filter(_.queryId == queryId)
    val eventsIn = epochs.map(_.eventsIn).sum.toDouble
    val liveBytes = m.files.map(f =>
      if (f.bytes > 0) f.bytes else Try(Files.size(Paths.get(f.path))).getOrElse(0L)).sum
    val manifests = Files.list(Paths.get(tableDir, "manifests")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json")).toSeq
    Map(
      "SnapshotTable.versions" -> m.version.toDouble,
      "SnapshotTable.live_files" -> m.files.size.toDouble,
      "SnapshotTable.delta_files" -> m.files.count(_.isDelta).toDouble,
      "SnapshotTable.max_delta_files_per_bucket" -> maxDeltaFilesPerBucket(m).toDouble,
      "SnapshotTable.space_amp" -> dirBytes(tableDir) / math.max(1.0, liveBytes.toDouble),
      "Manifest.bytes_per_commit" ->
        manifests.map(Files.size).sum / math.max(1.0, manifests.size.toDouble),
      "MergeEngine.compactions" -> steps.count { case (_, a, r) => isCompaction(a, r) }.toDouble,
      "MergeEngine.events_in" -> eventsIn,
      "MergeEngine.below_watermark" -> epochs.map(_.belowWatermark).sum.toDouble,
      "MergeEngine.collapsed_in_batch" -> epochs.map(_.collapsedInBatch).sum.toDouble,
      "MergeEngine.rows_written" -> epochs.map(_.rowsWritten).sum.toDouble,
      "MergeEngine.useful_ratio" ->
        epochs.map(e => e.upserts + e.deletes).sum / math.max(1.0, eventsIn),
      "MergeEngine.touched_buckets_mean" ->
        (if (epochs.isEmpty) 0.0 else epochs.map(_.touchedBuckets).sum.toDouble / epochs.size))
  }
}
