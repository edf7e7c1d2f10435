package graft.cdc

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Time travel + snapshot expiry: historical versions read under their
  * own schema (SURVEY §7.5 item 4); expiry garbage-collects exactly the
  * files no retained snapshot references while the live read is
  * untouched.
  */
class TimeTravelSpec extends SparkSpec {

  private def ev(lsn: Long, doc: String, toks: Seq[Int]) =
    (lsn, math.abs(doc.hashCode) % 3, Model.OpInsert, doc, toks, toks.size, "web",
      null.asInstanceOf[java.sql.Timestamp])

  private val cols = Seq("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source", "ts")

  test("readVersion returns each snapshot's rows under its own schema") {
    import spark.implicits._
    val table = new SnapshotTable(tmpDir("tt").toString, 4)
    table.init(Model.tokenDocSchema)

    // v1: two docs
    MergeEngine.merge(spark, table,
      Seq(ev(1, "a", Seq(1, 2)), ev(2, "b", Seq(3))).toDF(cols: _*), "tt", 0L)
    val v1 = table.currentVersion.get

    // v2: schema evolution — a new column arrives with a third doc
    val evolved = Seq((3L, 0, "I", "c", Seq(7, 8), 2, "web",
      null.asInstanceOf[java.sql.Timestamp], "en"))
      .toDF(cols :+ "lang": _*)
    MergeEngine.merge(spark, table, evolved, "tt", 1L)
    val v2 = table.currentVersion.get

    // time travel: v1 has 2 rows and NO lang column
    val old = table.readVersion(spark, v1)
    assert(old.count() == 2)
    assert(!old.columns.contains("lang"), old.columns.mkString(","))
    // current: 3 rows, lang present (null-backfilled for old rows)
    val cur = table.read(spark)
    assert(cur.count() == 3 && cur.columns.contains("lang"))
    assert(cur.filter($"doc_id" === "c" && $"lang" === "en").count() == 1)
    assert(cur.filter($"doc_id" =!= "c" && $"lang".isNull).count() == 2)
    assert(v2 > v1)
  }

  test("expireSnapshots deletes only unreferenced files; live read unchanged; expired version fails fast") {
    import spark.implicits._
    val table = new SnapshotTable(tmpDir("exp").toString, 4)
    table.init(Model.tokenDocSchema)
    MergeEngine.merge(spark, table,
      Seq(ev(1, "a", Seq(1)), ev(2, "b", Seq(2))).toDF(cols: _*), "exp", 0L)
    val vOld = table.currentVersion.get
    // rewrite everything (compact folds deltas into fresh base files)
    MergeEngine.compact(spark, table)
    MergeEngine.merge(spark, table,
      Seq(ev(3, "c", Seq(3))).toDF(cols: _*), "exp", 1L)
    MergeEngine.compact(spark, table)

    val before = table.read(spark).orderBy("doc_id").collect()
    val liveFiles = table.manifest.get.files.map(_.path).toSet
    // the DEFAULT minAgeMs (= claim TTL) must refuse to delete fresh
    // unreferenced files: a live rebasing loser's data could look exactly
    // like this seconds-old garbage
    val (mDel, fDelGuarded) = table.expireSnapshots(keepLast = 1)
    assert(mDel > 0, "expected expired manifests")
    assert(fDelGuarded == 0, "default-age GC deleted files younger than the claim TTL")
    // single-writer maintenance: explicit minAgeMs=0 reclaims immediately
    val (_, fDel) = table.expireSnapshots(keepLast = 1, minAgeMs = 0L)
    assert(fDel > 0, "expected garbage data files deleted")
    // every live file still present; live read identical
    liveFiles.foreach(p => assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)), p))
    assert(table.read(spark).orderBy("doc_id").collect().sameElements(before))
    // expired time travel fails with a clear error
    val e = intercept[IllegalArgumentException](table.readVersion(spark, vOld))
    assert(e.getMessage.contains("expired") || e.getMessage.contains("no snapshot"))
  }

  test("expireSnapshots skips data dirs above the current version (in-flight writer guard)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = tmpDir("gc-guard").toString
    val table = new SnapshotTable(root, 4)
    table.init(Model.tokenDocSchema)
    MergeEngine.merge(spark, table,
      Seq(ev(1, "a", Seq(1))).toDF(cols: _*), "gc", 0L)
    MergeEngine.compact(spark, table)
    // simulate a concurrent writer's not-yet-committed output: a data dir
    // numbered ABOVE the current version
    val inflight = Paths.get(root, "data/v999/_bucket=0")
    Files.createDirectories(inflight)
    val orphan = inflight.resolve("part-inflight-00000.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    val (mDel, _) = table.expireSnapshots(keepLast = 1)
    assert(mDel > 0)
    assert(Files.exists(orphan), "GC deleted an in-flight writer's uncommitted file")
    assert(table.read(spark).count() == 1)
  }
}
