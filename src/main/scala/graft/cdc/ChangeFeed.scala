package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change data feed: the table AS A CHANGE SOURCE for downstream
  * consumers (the Iceberg changelog-scan / Delta CDF analog) — "what
  * changed between snapshot A and snapshot B", with net per-key ops and
  * pre/post images, WITHOUT diffing two full states.
  *
  * The merge-on-read design makes this O(changes): every MOR commit's
  * delta files ARE the change batch (payload + `_lsn` + `_op`, delete
  * tombstones included), so the feed reads exactly the delta files added
  * in the window, nets them per key (last LSN wins — an insert+delete
  * inside the window vanishes; delete+reinsert nets to an update), and
  * joins pre-images only from the DIRTY buckets of the FROM snapshot
  * (manifest bucket pruning). Cost: O(window's changes + touched
  * buckets), never O(table) — a state-diff CDF (two full reads + a
  * full-width join, the q48 shape) is the fallback when windows cross
  * maintenance commits.
  *
  * Window contract (checked, loud): every commit in (fromV, toV] must
  * only ADD files, all of them deltas — i.e. merges. A compaction or
  * purge commit inside the window rewrites history the deltas no longer
  * tell, so the feed refuses rather than under-reporting.
  * (Iceberg's changelog scan has the same constraint; run feeds before
  * maintenance, or between maintenance fences.)
  *
  * Output columns: doc_id, change_op ('I'|'U'|'D'), lsn (the net event's
  * LSN; null for rows only the pre-image knows), pre/post payload structs
  * (null where absent).
  */
object ChangeFeed {

  final class UnsupportedWindowException(msg: String) extends RuntimeException(msg)

  def between(spark: SparkSession, table: SnapshotTable, fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"empty CDF window: v$fromV .. v$toV")
    val mFrom = table.manifestAt(fromV)
    val mTo = table.manifestAt(toV)

    // walk the window; every step must be an append-only merge. The step
    // diffs come straight off each version's record (`changesBetween`):
    // O(epoch files) per version, no per-version full-manifest
    // resolution on deep catch-up.
    var newDeltas = Vector.empty[FileEntry]
    for ((v, added, removed) <- table.changesBetween(fromV, toV)) {
      if (removed.nonEmpty || added.exists(!_.isDelta))
        throw new UnsupportedWindowException(
          s"CDF window v$fromV..v$toV crosses a maintenance commit at v$v " +
            s"(${removed.size} files removed, ${added.count(!_.isDelta)} base files added) — " +
            "the delta files no longer tell the window's history; feed between " +
            "maintenance fences or fall back to a state diff")
      newDeltas ++= added
    }

    val payloadCols = mTo.currentSchema.fieldNames.toSeq

    if (newDeltas.isEmpty) {
      val empty = table.readEntries(spark, mTo, Seq.empty)
      return feedShape(empty, empty, payloadCols).limit(0)
    }

    // net change per key: last event in the window wins
    val changes = table.readEntries(spark, mTo, newDeltas)
    val packed = struct((payloadCols ++ Seq("lsn", "op")).map(col): _*)
    val net = changes.groupBy(col(Model.KeyCol))
      .agg(max_by(packed, col("lsn")).as("e"))
      .select(col(Model.KeyCol) +:
        (payloadCols.filterNot(_ == Model.KeyCol) ++ Seq("lsn", "op"))
          .map(n => col(s"e.$n").as(n)): _*)

    // pre-images: FROM-state rows of the buckets the window touched, its
    // files read under the TO schema (a feed across a schema evolution
    // surfaces pre-images under the evolved shape — widened, new columns
    // null — so pre/post structs always align)
    val dirty: Set[Int] = newDeltas.flatMap(_.coveredBuckets(mFrom.numBuckets)).toSet
    val pre = table.readPruned(spark, mFrom.copy(schema = mTo.schema), Some(dirty))

    feedShape(net, pre, payloadCols)
  }

  /** Join net window events with pre-images and classify the op. */
  private def feedShape(net: DataFrame, pre: DataFrame, payloadCols: Seq[String]): DataFrame = {
    val preImg = pre.select(col(Model.KeyCol),
      struct(payloadCols.filterNot(_ == Model.KeyCol).map(col): _*).as("pre_image"))
    val netEv = net.select(col(Model.KeyCol), col("lsn"), col("op"),
      struct(payloadCols.filterNot(_ == Model.KeyCol).map(col): _*).as("post_image"))
    netEv.join(preImg, Seq(Model.KeyCol), "full_outer")
      .withColumn("change_op",
        when(col("op").isNull, lit(null))                         // untouched pre row
          .when(col("op") === Model.OpDelete,
            when(col("pre_image").isNotNull, lit("D")).otherwise(lit(null))) // net no-op
          .when(col("pre_image").isNotNull, lit("U"))
          .otherwise(lit("I")))
      .filter(col("change_op").isNotNull)
      .select(col(Model.KeyCol), col("change_op"), col("lsn"),
        col("pre_image"),
        when(col("change_op") === "D", lit(null)).otherwise(col("post_image"))
          .as("post_image"))
  }
}
