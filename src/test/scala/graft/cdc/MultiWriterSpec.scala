package graft.cdc

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** LIVE multi-writer semantics (round-3 "what's missing #5"): two or more
  * concurrent writers on DISTINCT fence lanes must all commit — the
  * optimistic-concurrency loser rebases automatically (re-points its
  * already-written MOR deltas at a higher version) instead of failing
  * back to the caller. Racers on the SAME lane stay exactly-once: only
  * one applies, the other's files are cleaned up as orphans.
  *
  * Thread interleaving is non-deterministic, so every assertion is an
  * INVARIANT that must hold under any schedule (all-applied, union of
  * rows, fences/watermarks merged, schema union) — with enough
  * concurrent writers at least one rebase occurs in practice, and the
  * unique per-attempt write dirs are asserted directly.
  */
class MultiWriterSpec extends SparkSpec {

  import org.apache.spark.sql.functions._

  private val cols = Seq("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source")

  private def batch(partition: Int, lo: Int, n: Int, lsnBase: Long): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (lsnBase + i, partition, "I", s"doc-${lo + i}", Seq(lo + i, lo + i + 1), 2, s"src$partition")
    }.toDF(cols: _*)
  }

  private def freshTable(name: String): SnapshotTable = {
    val t = new SnapshotTable(tmpDir(name).resolve("t").toString, 4)
    t.init(Model.tokenDocSchema)
    t
  }

  private def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    val gate = new CountDownLatch(1)
    try {
      val futs = tasks.map(t => pool.submit { () =>
        gate.await(30, TimeUnit.SECONDS); t()
      })
      gate.countDown()
      futs.map(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow().asScala.foreach(_ => ())
  }

  test("N concurrent writers on distinct lanes all commit; losers rebase, nothing is lost") {
    val t = freshTable("mw-distinct")
    val writers = 4
    val results = concurrently((0 until writers).map { w => () =>
      MergeEngine.merge(spark, t, batch(w, lo = w * 1000, n = 200, lsnBase = w * 10000L),
        queryId = s"lane-$w", epochId = 0L)
    })
    assert(results.forall(_.applied), s"a live writer lost permanently: $results")
    val m = t.manifest.get
    // every lane fenced, every partition's watermark recorded
    assert((0 until writers).forall(w => m.fences.get(s"lane-$w").contains(0L)), m.fences.toString)
    assert((0 until writers).forall(w =>
      m.watermarks.get(w.toString).contains(w * 10000L + 199)), m.watermarks.toString)
    // one commit per writer: version advanced exactly N times
    assert(m.version == writers.toLong, s"expected v$writers, got v${m.version}")
    // union of all batches present, nothing dropped or duplicated
    val rows = t.read(spark)
    assert(rows.count() == writers * 200L)
    assert(rows.select(countDistinct(col("doc_id"))).head().getLong(0) == writers * 200L)
    // unique per-attempt write dirs (the thing that makes the race safe:
    // two writers can never clobber each other's data/v{N+1})
    val dataDirs = graft.util.Tables.listClosed(
      java.nio.file.Paths.get(t.root, "data"))(_.map(_.getFileName.toString).toSeq)
    assert(dataDirs.forall(_.matches("v\\d+-[0-9a-f]{8}")), dataDirs.mkString(","))
    // every manifest-referenced file exists (no loser deleted a winner's data)
    m.files.foreach(f => assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f.path)), f.path))
  }

  test("racers on the SAME lane stay exactly-once: one applies, orphan files cleaned") {
    val t = freshTable("mw-samelane")
    val b = batch(0, lo = 0, n = 300, lsnBase = 0L)
    val results = concurrently(Seq.fill(3)(() =>
      MergeEngine.merge(spark, t, b, queryId = "lane", epochId = 7L)))
    assert(results.count(_.applied) == 1,
      s"same-lane epoch applied ${results.count(_.applied)} times: $results")
    assert(t.read(spark).count() == 300L)
    val m = t.manifest.get
    assert(m.fences == Map("lane" -> 7L))
    // losers' written files must be gone (cleanup on fence-covered rebase)
    val referenced = m.files.map(_.path).toSet
    val onDisk = graft.util.Tables.walkClosed(
      java.nio.file.Paths.get(t.root, "data"))(_.toSeq)
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-"))
      .map(_.toString).toSet
    assert(onDisk == referenced,
      s"orphans left behind: ${(onDisk -- referenced).take(3)} … (+${(onDisk -- referenced).size})")
  }

  test("concurrent schema evolution composes: each writer's column survives the race") {
    import spark.implicits._
    val t = freshTable("mw-schema")
    val withLang = Seq((1L, 0, "I", "a", Seq(1), 1, "s", "en"))
      .toDF(cols :+ "lang": _*)
    val withScore = Seq((2L, 1, "I", "b", Seq(2), 1, "s", 0.5))
      .toDF(cols :+ "score": _*)
    val results = concurrently(Seq(
      () => MergeEngine.merge(spark, t, withLang, "lang-writer", 0L),
      () => MergeEngine.merge(spark, t, withScore, "score-writer", 0L)))
    assert(results.forall(_.applied))
    val out = t.read(spark)
    assert(out.columns.contains("lang") && out.columns.contains("score"),
      out.columns.mkString(","))
    assert(out.filter($"doc_id" === "a" && $"lang" === "en").count() == 1)
    assert(out.filter($"doc_id" === "b" && $"score" === 0.5).count() == 1)
    // the cross columns are null-backfilled, not corrupted
    assert(out.filter($"doc_id" === "a" && $"score".isNull).count() == 1)
    assert(out.filter($"doc_id" === "b" && $"lang".isNull).count() == 1)
    // the rebased writer's file lacks the other writer's column: a lookup
    // and the graft source's key read map it by name, as the read does
    def rows(df: DataFrame) = df.orderBy("doc_id").collect().toSeq
    val keyed = t.readWithLsn(spark).filter($"doc_id".isin("a", "b"))
    assert(rows(t.lookupKeys(spark, Seq("a", "b"))) === rows(keyed.drop(Model.LsnCol)))
    val viaSource = spark.read.format("graft").load(t.root).filter($"doc_id".isin("a", "b"))
    assert(viaSource.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    assert(rows(viaSource) === rows(keyed))
  }

  test("racing writers on OVERLAPPING docs both apply; last-LSN-wins holds across the race") {
    val t = freshTable("mw-overlap")
    // seed, then two concurrent merges updating overlapping docs 50-99
    MergeEngine.merge(spark, t, batch(0, lo = 0, n = 100, lsnBase = 0L), "seed", 0L)
    val results = concurrently(Seq(
      () => MergeEngine.merge(spark, t, batch(1, lo = 0, n = 100, lsnBase = 20000L),
        "lane-a", 0L),
      () => MergeEngine.merge(spark, t, batch(2, lo = 50, n = 100, lsnBase = 40000L),
        "lane-b", 0L)))
    assert(results.forall(_.applied), results.toString)
    val rows = t.read(spark).collect()
    assert(rows.length == 150, s"expected 150 docs, got ${rows.length}")
    // last-LSN-wins held across the race: docs 50-99 carry lane-b's LSNs
    val withLsn = t.readWithLsn(spark)
    assert(withLsn.filter(col(Model.LsnCol) >= 40000L).count() == 100)
    assert(withLsn.filter(col(Model.LsnCol).between(20000L, 20049L)).count() == 50)
  }
}
