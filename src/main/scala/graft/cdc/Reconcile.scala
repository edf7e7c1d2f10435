package graft.cdc

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The shared last-LSN-wins reconcile operator: one salted shuffle on
  * hash(doc_id), a per-partition sort on doc_id, and a streaming
  * winner-per-doc scan ([[Reconcile.pick]]).
  *
  * Input columns: payload… + `lsn` + `op`. Output: the winning row per
  * doc_id with delete winners dropped, plus the `_bucket` column.
  *
  * Why sort-based instead of max_by(struct) aggregation: the aggregation
  * form materializes the full payload struct through hash-agg operators
  * (measured 253 task-seconds + 150 s GC for an epoch the sort form does
  * in a fraction) — sorting compact UnsafeRows and streaming over them
  * allocates almost nothing.
  *
  * Shuffle key = (bucket, hash(doc_id) % writeSplits): all rows of one doc
  * colocate (both parts are functions of doc_id), but a bucket spreads
  * over writeSplits tasks — without the salt, hashing numBuckets ids into
  * numBuckets partitions leaves ~1/3 of cores idle and gives stragglers
  * 2–3 buckets (balls-in-bins); it also caps what a zipf-hot key can pin
  * on one task. This is the north-rule "salted repartition on
  * hash(doc_id)".
  */
object Reconcile {

  /** Rows-per-reduce-task target for the adaptive partition count: with
    * the ~100-400 B/row change-event payloads this engine shuffles, 2M
    * rows ≈ a few hundred MB per task — the guide's §2.2 partition-size
    * band. Only an upper-bound clamp ever derives from it (see below), so
    * a mis-estimate can cost balance, never correctness.
    */
  private val RowsPerTask = 2000000L

  def winners(
      spark: SparkSession,
      df: DataFrame,
      numBuckets: Int,
      writeSplits: Int,
      rowsHint: Option[Long] = None): DataFrame = {

    val withBucket = df.withColumn("_bucket", SnapshotTable.bucketOf(col("doc_id"), numBuckets))
    // Partition count is over-provisioned 4x beyond the distinct
    // (bucket, salt) key count: hashing K keys into exactly K partitions
    // leaves ~1/e of them empty and gives the busiest task 3-4 keys'
    // worth of rows (balls-in-bins) — a 3-4x straggler tail on the one
    // shuffle this engine performs. With 4K partitions two keys rarely
    // collide, so the tail is ~1 key. Empty partitions cost microseconds
    // at cluster scale — but at thousands of buckets a KNOWN-tiny input
    // (manifest row counts, passed as rowsHint) would schedule thousands
    // of empty tasks per reconcile: clamp the count to what the data
    // volume supports (scale-ADAPTIVE, guide §2.2 — the provisioned count
    // still applies whenever the hint is absent or the input is large).
    val provisioned = numBuckets * writeSplits * 4
    val parts = rowsHint match {
      case Some(n) if n >= 0 =>
        val byData = math.max(writeSplits.toLong, n / RowsPerTask + 1)
        math.min(provisioned.toLong, byData).toInt
      case _ => provisioned
    }
    val arranged = withBucket
      .repartition(parts, col("_bucket"),
        pmod(xxhash64(col("doc_id"), lit(7L)), lit(writeSplits.toLong)))
      .sortWithinPartitions(col("doc_id"))

    val schema = arranged.schema
    arranged.mapPartitions(pick(_, schema))(Encoders.row(schema))
  }

  /** The winner rule, defined only here: over rows whose doc_ids arrive
    * adjacent, each doc's row with the highest (lsn, op) wins, and a
    * delete winner drops the doc. Ops compare 'U' > 'K' > 'I' > 'D'
    * lexicographically — ties on lsn can only be exact re-deliveries,
    * where any winner carries the same payload. The reconcile's
    * partition scan and the point lookup's driver-side pick both call
    * this; it holds one row per doc in flight.
    */
  def pick(grouped: Iterator[Row], schema: StructType): Iterator[Row] = {
    val docIdx = schema.fieldIndex("doc_id")
    val lsnIdx = schema.fieldIndex("lsn")
    val opIdx = schema.fieldIndex("op")
    def beats(a: Row, b: Row): Boolean = {
      val (la, lb) = (a.getLong(lsnIdx), b.getLong(lsnIdx))
      la > lb || (la == lb && a.getString(opIdx) > b.getString(opIdx))
    }
    val it = grouped.buffered
    val bestPerDoc = new Iterator[Row] {
      def hasNext: Boolean = it.hasNext
      def next(): Row = {
        var best = it.next()
        val doc = best.getString(docIdx)
        while (it.hasNext && it.head.getString(docIdx) == doc) {
          val r = it.next()
          if (beats(r, best)) best = r
        }
        best
      }
    }
    bestPerDoc.filter(_.getString(opIdx) != Model.OpDelete)
  }
}
