package org.apache.spark.sql.graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.types.StructType

import graft.cdc.{MergeEngine, Model, SnapshotTable}

/** `writeStream.format("graft")` micro-batch sink: every epoch is a
  * fenced `MergeEngine.merge` with `epochId = batchId`, so the streaming
  * writer API carries the engine's exactly-once contract natively — a
  * micro-batch re-delivered after a checkpoint recovery hits the fence
  * and no-ops, exactly like the library `IngestJob` path.
  *
  * Lives in the `org.apache.spark.sql` namespace (same pattern as
  * [[ColumnBridge]]) because the V1 `Sink` trait and
  * `internalCreateDataFrame` are `private[sql]`: the incoming micro-batch
  * frame is bound to the stream's IncrementalExecution, and general
  * DataFrame ops (the MERGE pipeline) need it re-bound to a fresh batch
  * DataFrame over the same rows first.
  */
class GraftStreamSink(table: SnapshotTable, queryId: String) extends Sink {

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    table.requireNotBelowFence(queryId, batchId)
    val ds = data.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val fresh = graft.sources.GraftSource.prepareBatch(spark.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false))
    table.ensureInitialized(fresh.schema)
    MergeEngine.merge(spark, table, fresh, queryId, batchId)
    ()
  }
}
