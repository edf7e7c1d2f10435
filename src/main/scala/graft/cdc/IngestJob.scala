package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming ingest: tail the ordered file-based changelog and
  * apply each micro-batch as a fenced MERGE (SURVEY.md §7.2 step 4). This
  * is the Spark-native replacement for the reference's Airflow sync +
  * Snowflake COPY + dbt merge loop (nyc_taxi_sync_dag.py:36-57) and its
  * Kafka→foreachBatch→Redis path (fraud_detector.py:195-310), with the
  * two structural fixes: aggregation stays distributed, and state/metrics
  * commit atomically with the data (exactly-once instead of
  * at-least-once).
  *
  * Resumability: the streaming checkpoint persists source offsets
  * (which log files are consumed); the table manifest persists the
  * (queryId, epochId) fence. After a crash the source replays at most the
  * in-flight epoch, which the fence absorbs — `final state == fold(log)`
  * regardless of where the kill landed.
  *
  * Source contract (WAL/binlog semantics): events of one source partition
  * arrive in non-decreasing LSN order across micro-batches (within a batch
  * any order is fine — dedup is order-insensitive). The file changelog
  * encodes arrival order as file modification time, which FileStreamSource
  * honors. Re-deliveries (lsn ≤ applied watermark) are always safe.
  * Arbitrarily re-ordered *fresh* events across batches would require
  * delete tombstone retention, which this engine intentionally trades away
  * (SURVEY.md §2.9: the reference's Kafka source gives the same
  * per-partition ordering guarantee).
  */
object IngestJob {

  /** What the log-tail loop ([[tail]]) reads from a writer's config. */
  trait LogTail {
    val logDir, tableDir, checkpointDir, queryId: String
    val numBuckets: Int
    val maxFilesPerTrigger: Option[Int]
    val trigger: Trigger
    val schema: StructType
  }

  case class Config(
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      queryId: String = "cdc-ingest",
      numBuckets: Int = 16,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      schema: StructType = Model.changeEventSchema,
      quarantineDir: Option[String] = None,
      writeSplits: Int = 4,
      compaction: CompactionPolicy = CompactionPolicy()) extends LogTail

  /** The corpus-specific validity cap on token count (see [[validExpr]]):
    * the fixture corpus's document-length cap, a constant of the wire
    * contract, not of the engine.
    */
  val DefaultMaxTok: Int = 8192

  /** Row-level validity predicate — the reference's ON_ERROR='CONTINUE'
    * COPY tolerance (nyc_taxi_sync_dag.py:47) and pydantic wire validation
    * (streaming/api/schemas.py:8-34) re-expressed as a quarantine split:
    * invalid rows are diverted, never dropped silently, never poison the
    * table (dbt tests not_null/in_range/positive_value analog,
    * FIXTURES.md §2).
    */
  def validExpr(df: DataFrame): org.apache.spark.sql.Column = {
    val hasTok = df.columns.contains("tokens")
    val base = col("doc_id").isNotNull &&
      col("lsn").isNotNull && col("partition").isNotNull &&
      col("op").isin(Model.OpInsert, Model.OpUpdate, Model.OpDelete)
    val payloadOk = if (hasTok) {
      (col("op") === Model.OpDelete) ||
        (col("tokens").isNotNull && col("n_tok").isNotNull && col("source").isNotNull &&
          col("n_tok") === size(col("tokens")) &&
          col("n_tok").between(1, DefaultMaxTok))
    } else lit(true)
    base && payloadOk
  }

  /** The one log-tail loop of every log-tailing writer: initialize the
    * table with `tableSchema` if absent, tail `cfg.logDir` in a query
    * named `cfg.queryId`, and hand each micro-batch, persisted, to `epoch`.
    */
  private[cdc] def tail(spark: SparkSession, cfg: LogTail, tableSchema: StructType)(
      epoch: (SnapshotTable, DataFrame, Long) => Unit): StreamingQuery = {
    val table = new SnapshotTable(cfg.tableDir, cfg.numBuckets)
    if (!table.exists) table.init(tableSchema)
    var reader = spark.readStream.schema(cfg.schema)
    cfg.maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    reader.parquet(cfg.logDir).writeStream
      .queryName(cfg.queryId)
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(cfg.trigger)
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        table.requireNotBelowFence(cfg.queryId, epochId)
        // foreachBatch hands over an RDD-backed frame (LogicalRDD wrapping
        // the executed source scan), NOT a catalyst file relation: column
        // pruning/pushdown cannot reach the source through it, and every
        // action recomputes the full file read. An epoch runs 2 actions
        // (the stats job + the write) plus, with quarantine enabled, a
        // third (the invalid complement) — so persist the batch once and
        // let every sink read the columnar cache instead of paying 2-3×
        // source I/O per epoch. At a 10^10-event log the source re-read,
        // not the local cache spill, is the expensive side.
        val src = batch.persist()
        try epoch(table, src, epochId)
        finally { val _ = src.unpersist() }
      }
      .start()
  }

  /** Start the streaming ingest; caller awaits termination (AvailableNow)
    * or manages the query lifecycle (ProcessingTime).
    */
  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    val timed = new graft.util.Timed("ingest-timing", "GRAFT_INGEST_TIMING")
    tail(spark, cfg, Model.payloadSchema(cfg.schema)) { (table, src, epochId) =>
      val valid = src.filter(validExpr(src))
      cfg.quarantineDir.foreach { qd =>
        // Epoch-suffixed dir: a replayed epoch overwrites its own quarantine
        // output instead of double-appending (idempotent side channel).
        timed(s"epoch-$epochId quarantine")(src.filter(!validExpr(src))
          .write.mode("overwrite").parquet(s"$qd/epoch=$epochId"))
      }
      timed(s"epoch-$epochId merge")(
        MergeEngine.merge(spark, table, valid, cfg.queryId, epochId))
      // amortized maintenance: fold delta files back into base on a
      // SIZE-based trigger (delta bytes / file count per bucket), not a
      // fixed epoch counter — see [[CompactionPolicy]]. Lineage is
      // untouched, so timing is free to choose.
      if (cfg.compaction.shouldCompact(table, epochId))
        MergeEngine.compact(spark, table, cfg.writeSplits, cfg.compaction.targetFileBytes)
    }
  }

  /** Convenience: replay the whole log to completion (AvailableNow) and
    * return the resulting table.
    */
  def replay(spark: SparkSession, cfg: Config): SnapshotTable = {
    start(spark, cfg.copy(trigger = Trigger.AvailableNow())).awaitTermination()
    new SnapshotTable(cfg.tableDir, cfg.numBuckets)
  }
}
