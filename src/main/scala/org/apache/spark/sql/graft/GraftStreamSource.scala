package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.cdc.{ChangeFeed, Model, SnapshotTable}

/** `readStream.format("graft")` — the snapshot table as a STREAMING
  * change source: the stream's offsets are the table's committed snapshot
  * versions, and every micro-batch is `ChangeFeed.between(lastSeen,
  * current)` — net per-key ops with pre/post images, sourced from the
  * window's MOR delta files (O(changes), never a state diff). This
  * closes the composability loop: a graft table written by one pipeline
  * is the binlog of the next (ingest → table → incremental consumer →
  * table), the same role Delta CDF streams / Iceberg changelog scans
  * play.
  *
  * Semantics and contracts:
  *  - offsets are SNAPSHOT VERSIONS: resume-from-checkpoint is exact (the
  *    next batch starts at the last committed version, and version
  *    windows never overlap);
  *  - `option("startVersion", v)` replays history from v (default: the
  *    current version when the stream first starts — new changes only);
  *  - the retention window (`SnapshotTable.RetainVersions`) must cover
  *    the stream's lag: a checkpointed offset whose manifest has expired
  *    fails loudly, as does a window crossing a compaction or purge commit
  *    ([[graft.cdc.ChangeFeed.UnsupportedWindowException]]) — run
  *    maintenance at stream fences, exactly like Iceberg changelog
  *    consumers must.
  *
  * Lives in the `org.apache.spark.sql` namespace because the V1 `Source`
  * trait and `internalCreateDataFrame` are `private[sql]` (same pattern
  * as [[GraftStreamSink]]).
  */
class GraftStreamSource(
    sqlContext: SQLContext,
    table: SnapshotTable,
    startVersion: Long,
    feedSchema: StructType) extends Source {

  override def schema: StructType = feedSchema

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.toLong
  }

  /** The payload schema the captured `feedSchema`'s image structs were
    * built from — compared per batch against the window's committed
    * schema so mid-stream evolution fails loudly (see [[getBatch]]).
    */
  private val originSchemaJson: String =
    table.manifest.map(_.currentSchemaJson).getOrElse("")

  /** Unconditional: the checkpoint (via `getBatch`'s start offset) is the
    * authority on what has been consumed, and `getBatch` already no-ops
    * on `fromV >= toV`. Filtering by `startVersion` here made a RESTARTED
    * stream (whose createSource recomputed the default startVersion as
    * the then-current version) report "no data" until some future commit
    * — silently skipping everything committed while it was down.
    */
  override def getOffset: Option[Offset] =
    table.currentVersion.map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val spark = sqlContext.sparkSession.asInstanceOf[classic.SparkSession]
    val fromV = start.map(versionOf).getOrElse(startVersion)
    val toV = versionOf(end)
    val batch: DataFrame =
      if (fromV >= toV) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], feedSchema)
      else {
        // schema fence: ChangeFeed reads rows under the TO-version schema,
        // but this source declared `feedSchema` from the schema at stream
        // start — stamping evolved rows onto the stale layout would
        // silently misread columns. Fail loudly instead (Delta CDF makes
        // the same demand: restart the stream after schema evolution).
        val toSchema = table.manifestAt(toV).currentSchemaJson
        if (toSchema != originSchemaJson)
          throw new IllegalStateException(
            s"graft stream source at ${table.root}: table schema evolved " +
              s"between stream start and version $toV — restart the stream " +
              "so the feed schema picks up the new columns")
        ChangeFeed.between(spark, table, fromV, toV)
          .select(feedSchema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*)
      }
    spark.internalCreateDataFrame(
      batch.queryExecution.toRdd, feedSchema, isStreaming = true)
  }

  override def stop(): Unit = ()
}

object GraftStreamSource {

  /** Feed schema for a table's current payload: key + change_op + lsn +
    * pre/post image structs (null where absent).
    */
  def feedSchema(table: SnapshotTable): StructType = {
    val m = table.manifest.getOrElse(sys.error(
      s"graft stream source requires an existing table at ${table.root}"))
    val payload = DataType.fromJson(m.currentSchemaJson).asInstanceOf[StructType]
    val image = StructType(payload.fields.filterNot(_.name == Model.KeyCol)
      .map(f => f.copy(nullable = true)))
    StructType(Seq(
      StructField(Model.KeyCol, StringType, nullable = false),
      StructField("change_op", StringType, nullable = false),
      StructField("lsn", LongType, nullable = true),
      StructField("pre_image", image, nullable = true),
      StructField("post_image", image, nullable = true)))
  }
}
