package graft.cdc

import org.apache.spark.sql.types._

/** Canonical entities of the CDC engine (SURVEY.md §1.3).
  *
  * `TokenDoc` is the snapshot-table row shape pinned by BASELINE.json's
  * input_hint: (doc_id string, tokens array<int32>, n_tok int32, source
  * string). `ChangeEvent` is the ordered change-log record: `op` mirrors the
  * reference's event classes (bulk COPY insert — airflow/dags/
  * nyc_taxi_sync_dag.py:42-47; dbt MERGE update-or-insert —
  * nyc_taxi_dbt/models/marts/core/fct_trips.sql:2-4; voided rows —
  * dim_payment_types.sql:10 → delete). `lsn` generalizes the monotone
  * monthly-file sequence (sync_manager.py:33-36); `partition` generalizes
  * the Kafka key routing (kafka_producer.py:44).
  *
  * Fold semantics (the oracle): events applied in global `lsn` order;
  * 'I' and 'U' both upsert (idempotent MERGE, like the reference's
  * update-or-insert), 'D' removes (no-op if absent).
  */
object Model {

  val OpInsert = "I"
  val OpUpdate = "U"
  val OpDelete = "D"

  /** Snapshot-table user schema. */
  val tokenDocSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)))

  /** Change-log record schema (v1). */
  val changeEventSchema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("n_tok", IntegerType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true)))

  /** The table's key column — what events are keyed by, what buckets hash,
    * and what per-file min/max stats cover for point-lookup skipping.
    */
  val KeyCol = "doc_id"

  /** Internal column carrying the last-applied LSN per row inside snapshot
    * data files — the reconcile key for idempotent re-application.
    */
  val LsnCol = "_lsn"

  /** Internal op column inside DELTA data files (merge-on-read): raw
    * change rows carry their op, including 'D' tombstones, until
    * compaction reconciles them.
    */
  val OpCol = "_op"

  /** Op marker for already-reconciled live rows during reconcile. */
  val OpKeep = "K"

  /** Internal column carrying the hash(doc_id) bucket inside DELTA data
    * files: each file's footer min/max bounds the buckets it touches
    * (file-level dirty-bucket metadata).
    */
  val BucketCol = "_bucket"

  /** Columns that are engine metadata, not payload. */
  val metaCols: Set[String] = Set("lsn", "partition", "op", "ts", LsnCol, OpCol, "_bucket")

  /** The payload (user-table) part of a change-event schema — one
    * definition shared by every init-from-events path (IngestJob, batch
    * writer, streaming sink).
    */
  def payloadSchema(eventSchema: StructType): StructType =
    StructType(eventSchema.fields.filterNot(f => metaCols.contains(f.name.toLowerCase)))
}

case class TokenDoc(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

case class ChangeEvent(
    lsn: Long,
    partition: Int,
    op: String,
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String,
    ts: java.sql.Timestamp)
