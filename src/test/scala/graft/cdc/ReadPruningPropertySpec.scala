package graft.cdc

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Property law for the manifest-pruned read: for random I/U/D logs split
  * into random batches (two modes: a merge left as deltas, or a merge
  * compacted at once into base files; plus random mid-stream compaction),
  * any bucket subset and LSN floor must satisfy
  *
  *   readBuckets(B, L) == readWithLsn.filter(bucket ∈ B && _lsn >= L)
  *
  * i.e. file skipping is invisible to consumers. (Self-driven
  * deterministic draws — scalatestplus-scalacheck isn't in the offline
  * cache.)
  */
class ReadPruningPropertySpec extends SparkSpec {

  private def mkEvents(n: Int, nDocs: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val doc = s"doc-${rnd.nextInt(nDocs)}"
      val op = rnd.nextInt(10) match {
        case 0 | 1 => Model.OpDelete
        case 2 | 3 | 4 => Model.OpUpdate
        case _ => Model.OpInsert
      }
      val nTok = 1 + rnd.nextInt(8)
      ChangeEvent(
        lsn = i.toLong,
        partition = math.abs(doc.hashCode) % 3,
        op = op,
        doc_id = doc,
        tokens = if (op == Model.OpDelete) null else Array.fill(nTok)(rnd.nextInt(50257)),
        n_tok = nTok,
        source = Seq("web", "books", "code", "wiki")(rnd.nextInt(4)),
        ts = new java.sql.Timestamp(1700000000000L + i))
    }
  }

  test("readBuckets(B, minLsn) == full read filtered, across random logs and modes") {
    import spark.implicits._
    val r = new scala.util.Random(777L)
    (1 to 8).foreach { k =>
      val n = 60 + r.nextInt(200)
      val nDocs = 3 + r.nextInt(30)
      val numBuckets = 4
      val evs = mkEvents(n, nDocs, r.nextLong(100000L))
      val table = new SnapshotTable(tmpDir("rptable").toString, numBuckets)
      table.init(Model.tokenDocSchema)

      val batches = evs.grouped(math.max(1, n / (1 + r.nextInt(4)))).toSeq
      batches.zipWithIndex.foreach { case (b, i) =>
        val baseOnly = r.nextBoolean()
        MergeEngine.merge(spark, table, b.toDF(), "rp", i.toLong)
        if (baseOnly) MergeEngine.compact(spark, table)
        if (r.nextInt(3) == 0) MergeEngine.compact(spark, table)
      }

      val buckets = (0 until numBuckets).filter(_ => r.nextBoolean()).toSet match {
        case s if s.isEmpty => Set(r.nextInt(numBuckets))
        case s => s
      }
      val minLsn = if (r.nextBoolean()) r.nextInt(n).toLong else Long.MinValue

      val got = table.readBuckets(spark, buckets, minLsn)
      val want = table.readWithLsn(spark)
        .filter(SnapshotTable.bucketOf(col("doc_id"), numBuckets).isin(buckets.toSeq: _*))
        .filter(col(Model.LsnCol) >= minLsn)
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      assert(extra == 0 && missing == 0,
        s"case $k buckets=$buckets minLsn=$minLsn: +$extra -$missing rows differ")
    }
  }
}
