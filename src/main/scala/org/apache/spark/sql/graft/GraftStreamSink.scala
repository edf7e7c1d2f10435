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
    // Spark's micro-batch contract only ever re-delivers the LAST
    // uncommitted batch, so a legitimate batchId is always >= the stored
    // fence for this lane. batchId BELOW the fence means the stream was
    // restarted with a fresh checkpoint (batchIds reset to 0) while
    // reusing the queryId — every batch would silently no-op on the fence
    // and the data would be dropped. Fail loudly instead: a queryId must
    // be retired together with its checkpoint.
    table.manifest.flatMap(_.fences.get(queryId)).foreach { fence =>
      if (batchId < fence) throw new IllegalStateException(
        s"graft sink: batchId $batchId is below the committed fence $fence " +
          s"for queryId '$queryId' at ${table.root} — the stream was " +
          "restarted with a fresh checkpoint but a reused queryId, so every " +
          "micro-batch would no-op and be dropped. Either restore the " +
          "original checkpoint or use a new queryId for the new checkpoint.")
    }
    val ds = data.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val fresh = graft.sources.GraftSource.prepareBatch(spark.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false))
    table.ensureInitialized(fresh.schema)
    MergeEngine.merge(spark, table, fresh, queryId, batchId)
    ()
  }
}
