package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Change-feed laws: net per-key ops across multi-epoch windows
  * (insert+delete vanishes, delete+reinsert nets to U), pre/post images
  * from the right snapshots, O(changes) sourcing from the window's delta
  * files only, and loud refusal when the window crosses a maintenance
  * commit (compaction or purge).
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def ev(lsn: Long, doc: String, toks: Seq[Int], op: String = Model.OpInsert) =
    (lsn, math.abs(doc.hashCode) % 3, op, doc, toks, toks.size, "web",
      null.asInstanceOf[java.sql.Timestamp])

  private val cols = Seq("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source", "ts")

  test("net ops + pre/post images across a three-epoch window") {
    val t = new SnapshotTable(tmpDir("cdf").resolve("t").toString, 4)
    t.init(Model.tokenDocSchema)
    MergeEngine.merge(spark, t,
      (0 until 30).map(i => ev(i.toLong, s"k$i", Seq(i))).toDF(cols: _*), "q", 0L) // v1
    MergeEngine.merge(spark, t, Seq(
      ev(100L, "k1", Seq(101), Model.OpUpdate),
      ev(101L, "k2", Nil, Model.OpDelete),
      ev(102L, "k30", Seq(30))).toDF(cols: _*), "q", 1L)                           // v2
    MergeEngine.merge(spark, t, Seq(
      ev(200L, "k40", Seq(40)),
      ev(201L, "k40", Nil, Model.OpDelete),   // insert+delete inside window → no row
      ev(202L, "k3", Nil, Model.OpDelete)).toDF(cols: _*), "q", 2L)                // v3
    MergeEngine.merge(spark, t, Seq(
      ev(300L, "k3", Seq(333))).toDF(cols: _*), "q", 3L)                           // v4

    val feed = ChangeFeed.between(spark, t, 1L, 4L)
      .select($"doc_id", $"change_op", $"lsn",
        $"pre_image.tokens".as("pre_toks"), $"post_image.tokens".as("post_toks"))
      .as[(String, String, java.lang.Long, Seq[Int], Seq[Int])]
      .collect().map(r => r._1 -> r).toMap

    assert(feed.keySet === Set("k1", "k2", "k3", "k30"), s"got ${feed.keySet}")
    assert(feed("k1") === ("k1", "U", 100L, Seq(1), Seq(101)))
    assert(feed("k2")._2 === "D" && feed("k2")._4 === Seq(2) && feed("k2")._5 === null)
    assert(feed("k3") === ("k3", "U", 300L, Seq(3), Seq(333)),
      "delete+reinsert must net to an update")
    assert(feed("k30")._2 === "I" && feed("k30")._4 === null && feed("k30")._5 === Seq(30))

    // replaying the feed onto the FROM state reproduces the TO state
    val from = t.readVersion(spark, 1L).select("doc_id", "tokens")
      .as[(String, Seq[Int])].collect().toMap
    val applied = (from -- ChangeFeed.between(spark, t, 1L, 4L)
        .filter($"change_op" === "D").select("doc_id").as[String].collect()) ++
      ChangeFeed.between(spark, t, 1L, 4L).filter($"change_op" =!= "D")
        .select($"doc_id", $"post_image.tokens".as("t")).as[(String, Seq[Int])].collect()
    val to = t.read(spark).select("doc_id", "tokens").as[(String, Seq[Int])].collect().toMap
    assert(applied === to, "feed ∘ from-state must equal to-state")
  }

  test("a feed across a schema evolution conforms pre-images to the evolved shape") {
    val t = new SnapshotTable(tmpDir("cdf-evo").resolve("t").toString, 4)
    t.init(Model.tokenDocSchema)
    MergeEngine.merge(spark, t,
      (0 until 10).map(i => ev(i.toLong, s"k$i", Seq(i))).toDF(cols: _*), "q", 0L) // v1
    // the evolving epoch: widened n_tok + new lang column
    val evolved = Seq((100L, 0, "U", "k1", Seq(11), 1L, "web",
      null.asInstanceOf[java.sql.Timestamp], "en"))
      .toDF("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source", "ts", "lang")
    MergeEngine.merge(spark, t, evolved, "q", 1L)                                  // v2

    val feed = ChangeFeed.between(spark, t, 1L, 2L)
      .select($"doc_id", $"change_op",
        $"pre_image.lang".as("pre_lang"), $"post_image.lang".as("post_lang"),
        $"pre_image.n_tok".as("pre_n"), $"post_image.n_tok".as("post_n"))
      .as[(String, String, String, String, java.lang.Long, java.lang.Long)]
      .collect()
    assert(feed.toSeq === Seq(("k1", "U", null, "en", 1L, 1L)),
      s"pre-image must conform to the evolved schema (lang null, n_tok widened): ${feed.toSeq}")
  }

  test("deep catch-up window: step-annotated walk, no per-version resolution") {
    val root = tmpDir("cdf-deep").resolve("t").toString
    val t = new SnapshotTable(root, 4)
    t.init(Model.tokenDocSchema)
    // 24 epochs → v1..v24, crossing the v16 full-checkpoint manifest
    (0 until 24).foreach { i =>
      val batch = Seq(
        ev(i * 10L, s"k$i", Seq(i)),
        ev(i * 10L + 1, s"k${math.max(0, i - 1)}", Seq(i, i), Model.OpUpdate))
      MergeEngine.merge(spark, t, batch.toDF(cols: _*), "q", i.toLong)
    }

    // A FRESH handle (cold manifest cache): after resolving only the two
    // endpoint states — which any feed needs — the window walk itself
    // must resolve NOTHING (delta manifests and the step-annotated v16
    // checkpoint carry their own diffs), so deep catch-up is O(window
    // epochs), not O(window × table files).
    val t2 = new SnapshotTable(root, 4)
    t2.manifestAt(24L); t2.manifestAt(1L)
    val resolvesBefore = t2.fullResolutions.get
    val steps = t2.changesBetween(1L, 24L)
    assert(t2.fullResolutions.get === resolvesBefore,
      "changesBetween must not resolve any intermediate manifest")
    assert(steps.map(_._1) === (24L to 2L by -1L), "newest-first, one step per commit")

    // law: the step diffs equal the resolved per-version diffs
    val byResolve = (24L to 2L by -1L).map { v =>
      val c = t2.manifestAt(v); val p = t2.manifestAt(v - 1)
      val pp = p.files.map(_.path).toSet
      val cp = c.files.map(_.path).toSet
      (v, c.files.filterNot(f => pp(f.path)).toSet, p.files.map(_.path).filterNot(cp).toSet)
    }
    assert(steps.map(s => (s._1, s._2.toSet, s._3.toSet)) === byResolve)

    // and the feed over the deep window still satisfies the replay law
    val from = t2.readVersion(spark, 1L).select("doc_id", "tokens")
      .as[(String, Seq[Int])].collect().toMap
    val feed = ChangeFeed.between(spark, t2, 1L, 24L)
    val applied = (from -- feed.filter($"change_op" === "D")
        .select("doc_id").as[String].collect()) ++
      feed.filter($"change_op" =!= "D")
        .select($"doc_id", $"post_image.tokens".as("t")).as[(String, Seq[Int])].collect()
    val to = t2.read(spark).select("doc_id", "tokens").as[(String, Seq[Int])].collect().toMap
    assert(applied === to, "deep-window feed ∘ from-state must equal to-state")
  }

  test("a window crossing compaction or purge refuses loudly") {
    val t = new SnapshotTable(tmpDir("cdf-ref").resolve("t").toString, 4)
    t.init(Model.tokenDocSchema)
    MergeEngine.merge(spark, t,
      (0 until 10).map(i => ev(i.toLong, s"k$i", Seq(i))).toDF(cols: _*), "q", 0L) // v1
    MergeEngine.merge(spark, t,
      Seq(ev(100L, "k1", Seq(11), Model.OpUpdate)).toDF(cols: _*), "q", 1L)        // v2
    MergeEngine.compact(spark, t)                                                  // v3
    MergeEngine.merge(spark, t,
      Seq(ev(200L, "k2", Seq(22), Model.OpUpdate)).toDF(cols: _*), "q", 2L)        // v4

    intercept[ChangeFeed.UnsupportedWindowException](
      ChangeFeed.between(spark, t, 1L, 4L))
    // a window strictly after the compaction still works
    val ok = ChangeFeed.between(spark, t, 3L, 4L)
      .select($"doc_id", $"change_op").as[(String, String)].collect().toSeq
    assert(ok === Seq(("k2", "U")))

    // a purge rewrites files too → same refusal
    val purged = MergeEngine.purgeKeys(spark, t, Seq("k3").toDF("doc_id"))         // v5
    assert(purged.map(_.version) === Some(5L))
    intercept[ChangeFeed.UnsupportedWindowException](
      ChangeFeed.between(spark, t, 4L, 5L))
  }
}
