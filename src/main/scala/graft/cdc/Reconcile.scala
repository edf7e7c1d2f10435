package graft.cdc

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.StructType

/** The shared last-LSN-wins reconcile operator: a streaming
  * winner-per-doc scan ([[Reconcile.pick]]) over a frame whose rows the
  * caller's ONE exchange already arranged, so that every doc's rows sit
  * adjacent inside one partition. The caller picks the exchange that also
  * serves what it does next with the winners:
  *
  *  - a read ([[SnapshotTable]]) hash-partitions on doc_id and sorts by
  *    it, at Spark's shuffle-partition count;
  *  - a rewrite ([[MergeEngine]]'s compact and purge) range-partitions on
  *    (_bucket, doc_id) and sorts by both — the clustered layout its base
  *    files are written in, so one exchange feeds both the pick and the
  *    write.
  *
  * Input columns: payload… + `lsn` + `op`, plus any the caller carries
  * (e.g. `_bucket`). Output: the same columns, one winning row per doc_id,
  * delete winners dropped.
  *
  * Why sort-based instead of max_by(struct) aggregation: the aggregation
  * form materializes the full payload struct through hash-agg operators
  * (measured 253 task-seconds + 150 s GC for an epoch the sort form does
  * in a fraction) — sorting compact UnsafeRows and streaming over them
  * allocates almost nothing. A zipf-hot doc's rows all land on one task
  * whatever the key; splitting a hot doc is [[MergeEngine]]'s salted
  * pre-combine's job, on the write side.
  */
object Reconcile {

  /** The winners of `arranged`: [[pick]] run over each partition. */
  def winners(arranged: DataFrame): DataFrame = {
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
