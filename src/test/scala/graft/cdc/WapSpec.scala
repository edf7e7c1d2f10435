package graft.cdc

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Write-audit-publish laws: staged epochs are invisible until published,
  * publish is equivalent to a direct merge, a failing audit + abandon
  * leaves the table untouched (and the files deleted), replayed epochs
  * fence, and a publish that loses a commit race rebases.
  */
class WapSpec extends SparkSpec {
  import spark.implicits._

  private def ev(lsn: Long, doc: String, toks: Seq[Int], op: String = Model.OpInsert) =
    (lsn, math.abs(doc.hashCode) % 3, op, doc, toks, toks.size, "web",
      null.asInstanceOf[java.sql.Timestamp])

  private val cols = Seq("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source", "ts")

  private def baseEvents = (0 until 40).map(i => ev(i.toLong, s"k$i", Seq(i))).toDF(cols: _*)

  private def freshTable(name: String): SnapshotTable = {
    val t = new SnapshotTable(tmpDir(name).resolve("t").toString, 4)
    t.init(Model.tokenDocSchema)
    MergeEngine.merge(spark, t, baseEvents, "base", 0L)
    t
  }

  test("staged epoch is invisible; publish makes it visible; state == direct merge") {
    val t = freshTable("wap-eq")
    val twin = freshTable("wap-eq-twin")
    val batch = Seq(
      ev(100L, "k3", Seq(103), Model.OpUpdate),
      ev(101L, "k99", Seq(99)),
      ev(102L, "k7", Nil, Model.OpDelete)).toDF(cols: _*)

    val vBefore = t.currentVersion.get
    val staged = Wap.stage(spark, t, batch, "base", 1L)
    assert(t.currentVersion.get === vBefore, "stage must not commit")
    assert(t.read(spark).count() === 40L, "staged rows must be invisible")

    assert(Wap.audit(spark, t, staged).passed)
    val res = Wap.publish(t, staged)
    assert(res.applied)

    MergeEngine.merge(spark, twin, batch, "base", 1L)
    val a = t.read(spark).select("doc_id", "tokens", "n_tok").as[(String, Seq[Int], Int)]
      .collect().toSet
    val b = twin.read(spark).select("doc_id", "tokens", "n_tok").as[(String, Seq[Int], Int)]
      .collect().toSet
    assert(a === b, "publish must equal a direct merge")
    assert(t.manifest.get.watermarks === twin.manifest.get.watermarks)
    assert(t.manifest.get.fences === twin.manifest.get.fences)
  }

  test("audit catches poison; abandon leaves no trace") {
    val t = freshTable("wap-poison")
    val vBefore = t.currentVersion.get
    val poison = Seq(
      ev(100L, "k1", Seq(1, 2, 3)).copy(_6 = 2),            // n_tok != size(tokens)
      ev(101L, "k2", Seq.fill(9000)(1)).copy(_6 = 9000),    // n_tok out of range
      ev(102L, "k3", Seq(9))).toDF(cols: _*)
    val staged = Wap.stage(spark, t, poison, "base", 1L)
    val report = Wap.audit(spark, t, staged)
    assert(!report.passed)
    assert(report.failures.map(_._1).toSet === Set("n_tok_consistent", "n_tok_in_range"))

    val dir = staged.outcome.asInstanceOf[MergeEngine.Step].dataDir.get
    Wap.abandon(staged)
    assert(!Files.exists(dir), "abandon must delete the staged files")
    assert(t.currentVersion.get === vBefore)
    assert(t.read(spark).filter($"doc_id" === "k99").count() === 0L)
    assert(t.read(spark).count() === 40L)
  }

  test("clean epoch passes audit") {
    val t = freshTable("wap-clean")
    val batch = Seq(ev(100L, "k3", Seq(303), Model.OpUpdate)).toDF(cols: _*)
    val staged = Wap.stage(spark, t, batch, "base", 1L)
    assert(Wap.audit(spark, t, staged).passed)
    Wap.abandon(staged)
  }

  test("replayed epoch stages as fence-covered; publish is a no-op") {
    val t = freshTable("wap-fence")
    val staged = Wap.stage(spark, t,
      Seq(ev(5L, "k5", Seq(5))).toDF(cols: _*), "base", 0L) // epoch 0 already applied
    assert(staged.outcome === MergeEngine.FenceCovered)
    val res = Wap.publish(t, staged)
    assert(!res.applied)
  }

  test("publish rebases over a concurrent commit instead of losing it") {
    val t = freshTable("wap-race")
    val staged = Wap.stage(spark, t,
      Seq(ev(100L, "kA", Seq(1))).toDF(cols: _*), "base", 1L)
    // another writer lands an epoch between stage and publish
    MergeEngine.merge(spark, t,
      Seq(ev(101L, "kB", Seq(2))).toDF(cols: _*), "other", 0L)
    val res = Wap.publish(t, staged)
    assert(res.applied)
    val docs = t.read(spark).filter($"doc_id".isin("kA", "kB")).count()
    assert(docs === 2L, "both the racer's and the staged rows must survive")
  }

  test("a stage outlives the table's own expiry while another writer crosses a checkpoint") {
    val t = freshTable("wap-expire")
    val twin = freshTable("wap-expire-twin")
    val batch = Seq(ev(100L, "k3", Seq(103), Model.OpUpdate), ev(101L, "kA", Seq(1))).toDF(cols: _*)
    val staged = Wap.stage(spark, t, batch, "base", 1L)
    val stagedPaths = staged.outcome.asInstanceOf[MergeEngine.Step].added.map(_.path)
    // an audit that ran past the GC grace
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis - 2 * SnapshotTable.GcGraceMs)
    stagedPaths.foreach(p => Files.setLastModifiedTime(Paths.get(p), old))
    // another writer lands an epoch, then carries the table across the
    // v112 checkpoint: the stage's dir number falls below the cut
    val other = Seq(ev(102L, "kB", Seq(2))).toDF(cols: _*)
    MergeEngine.merge(spark, t, other, "other", 0L)
    val racer = new SnapshotTable(t.root, 4)
    while (racer.currentVersion.get < 112L) {
      val m = racer.manifest.get
      racer.commit(m.copy(version = m.version + 1, parentVersion = m.version))
    }
    assert(!Files.exists(Paths.get(t.root, "manifests", "v0.json")), "the table did not expire itself")
    stagedPaths.foreach(p => assert(Files.exists(Paths.get(p)), s"expiry deleted staged $p"))

    assert(Wap.audit(spark, t, staged).passed)
    assert(Wap.publish(t, staged).applied)
    // the twin applies the same epochs in stage order
    MergeEngine.merge(spark, twin, batch, "base", 1L)
    MergeEngine.merge(spark, twin, other, "other", 0L)
    def state(tb: SnapshotTable) =
      tb.read(spark).select("doc_id", "tokens").as[(String, Seq[Int])].collect().toMap
    assert(state(t) === state(twin))
  }

  test("a schema evolution committed between stage and audit: audit and publish read under it") {
    val t = freshTable("wap-evolve")
    // the staged batch brings its own new column `d` ...
    val batch = Seq(ev(100L, "k3", Seq(103), Model.OpUpdate), ev(101L, "kA", Seq(1)))
      .toDF(cols: _*).withColumn("d", lit("staged"))
    val staged = Wap.stage(spark, t, batch, "base", 1L)
    // ... and another lane commits column `c` before the audit
    val other = Seq(ev(102L, "kB", Seq(2))).toDF(cols: _*).withColumn("c", lit(7))
    MergeEngine.merge(spark, t, other, "other", 0L)

    val rows = Wap.stagedRows(spark, t, staged).get
      .select("doc_id", "c", "d").as[(String, Option[Int], Option[String])].collect().toSet
    assert(rows === Set(("k3", None, Some("staged")), ("kA", None, Some("staged"))))
    assert(Wap.audit(spark, t, staged).passed)
    assert(Wap.publish(t, staged).applied)

    val got = t.read(spark)
    assert(got.columns.toSeq === Seq("doc_id", "tokens", "n_tok", "source", "c", "d"))
    val want = FoldOracle.finalState(spark, Seq(other, batch).foldLeft(baseEvents)(
      _.unionByName(_, allowMissingColumns = true))).select(got.columns.toSeq.map(col): _*)
    assert(FoldOracle.diff(got, want) === ((0L, 0L)))
  }
}
