package graft.cdc

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Manifest-record laws (one record per commit, carrying its own file
  * step): between checkpoints a commit's record bytes scale with the
  * EPOCH, not the table; every record's step is the diff of resolved
  * states and only checkpoints (the cadence, compaction and purge) carry
  * `files`; resolution through the chain reproduces the exact full state
  * (fresh handles included); snapshot expiry cuts at a checkpoint, so
  * every retained record resolves and change walks inside retention are
  * unchanged.
  */
class ManifestDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def ev(lsn: Long, doc: String, toks: Seq[Int], op: String = Model.OpInsert) =
    (lsn, math.abs(doc.hashCode) % 3, op, doc, toks, toks.size, "web",
      null.asInstanceOf[java.sql.Timestamp])

  private val cols = Seq("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source", "ts")

  private def manifestBytes(t: SnapshotTable, v: Long): Long =
    Files.size(Paths.get(t.root).resolve(s"manifests/v$v.json"))

  private def rawJson(t: SnapshotTable, v: Long): String =
    new String(Files.readAllBytes(Paths.get(t.root).resolve(s"manifests/v$v.json")),
      StandardCharsets.UTF_8)

  test("per-epoch manifest bytes are O(epoch), not O(table); cadence checkpoints") {
    val t = new SnapshotTable(tmpDir("mdelta").resolve("t").toString, 8,
      manifestCheckpointEvery = 4)
    t.init(Model.tokenDocSchema)
    // a table with MANY base files (v1 bulk insert, v2 tiny-target
    // compact), then single-key epochs: a delta manifest must not carry
    // the accumulated file list a checkpoint does
    MergeEngine.merge(spark, t,
      (0 until 300).map(i => ev(i.toLong, f"doc-$i%04d", Seq(i))).toDF(cols: _*),
      "q", 1L)
    MergeEngine.compact(spark, t, targetFileBytes = 512)
    (2 to 9).foreach { k =>
      MergeEngine.merge(spark, t,
        Seq(ev(1000L + k, s"new-$k", Seq(k))).toDF(cols: _*), "q", k.toLong)
    }
    val m = t.manifest.get
    assert(m.version === 10L)
    assert(m.files.size > 30, s"fixture should carry many files, got ${m.files.size}")
    // delta versions carry filesAdded; checkpoint versions (the v2
    // compaction, 4, 8) carry files
    (1L to 10L).foreach { v =>
      val isCkpt = v % 4 == 0 || v == 2L
      assert(Manifest.fromJson(rawJson(t, v)).files.isDefined === isCkpt,
        s"v$v expected ${if (isCkpt) "checkpoint" else "delta"}")
    }
    // the single-key delta at v10 must be a sliver of the v8 checkpoint,
    // which carries the whole file list (metrics overhead is shared)
    assert(manifestBytes(t, 10L) < manifestBytes(t, 8L) / 2,
      s"delta v10 ${manifestBytes(t, 10L)} B vs checkpoint v8 ${manifestBytes(t, 8L)} B: " +
        "delta size must not track accumulated file count")
  }

  test("fresh handles resolve the chain to the identical state") {
    val dir = tmpDir("mdelta-res").resolve("t").toString
    val t = new SnapshotTable(dir, 8, manifestCheckpointEvery = 4)
    t.init(Model.tokenDocSchema)
    // per-partition LSNs stay monotone: epoch k inserts doc-k at 10k and
    // updates doc-(k-1) at 10k+1
    (1 to 7).foreach { k =>
      MergeEngine.merge(spark, t,
        Seq(ev(10L * k, s"doc-$k", Seq(k)),
          ev(10L * k + 1, s"doc-${k - 1}", Seq(k * 10), Model.OpUpdate)).toDF(cols: _*),
        "q", k.toLong)
    }
    MergeEngine.compact(spark, t)
    val fresh = new SnapshotTable(dir, 8, manifestCheckpointEvery = 4)
    assert(fresh.manifest.get.files.map(_.path).sorted ===
      t.manifest.get.files.map(_.path).sorted)
    val got = fresh.read(spark).select("doc_id", "tokens").as[(String, Seq[Int])]
      .collect().toMap
    (1 to 6).foreach(k => assert(got(s"doc-$k") === Seq((k + 1) * 10), s"doc-$k"))
    assert(got("doc-0") === Seq(10) && got("doc-7") === Seq(7))
    // time travel through delta versions works (after epoch 3: docs 0..3)
    assert(fresh.readVersion(spark, 3L).count() === 4L)
  }

  test("expiry cuts at a checkpoint: fresh handles resolve, expired time travel fails fast") {
    val dir = tmpDir("mdelta-exp").resolve("t").toString
    val t = new SnapshotTable(dir, 8, manifestCheckpointEvery = 4)
    t.init(Model.tokenDocSchema)
    (1 to 7).foreach { k =>
      MergeEngine.merge(spark, t,
        Seq(ev(k.toLong, s"doc-$k", Seq(k))).toDF(cols: _*), "q", k.toLong)
    }
    // keepLast 2 asks for v6..v7; the cut is the v4 checkpoint below them
    t.expireSnapshots(keepLast = 2, minAgeMs = 0L)
    assert(records(dir).map(_.version) === (4L to 7L))
    assert(!Files.exists(Paths.get(dir).resolve("manifests/chain")))
    intercept[IllegalArgumentException](t.manifestAt(3L))
    // a FRESH handle (cold cache) resolves current from the retained checkpoint
    val fresh = new SnapshotTable(dir, 8, manifestCheckpointEvery = 4)
    assert(fresh.read(spark).count() === 7L)

    // the next checkpoint moves the cut up to it
    (8 to 9).foreach { k =>
      MergeEngine.merge(spark, fresh,
        Seq(ev(k.toLong, s"doc-$k", Seq(k))).toDF(cols: _*), "q", k.toLong)
    }
    fresh.expireSnapshots(keepLast = 2, minAgeMs = 0L)
    assert(records(dir).map(_.version) === (8L to 9L))
    intercept[IllegalArgumentException](fresh.manifestAt(7L))
    assert(new SnapshotTable(dir, 8).read(spark).count() === 9L)
  }

  test("a carried entry that changed fails the commit loudly; an honest step round-trips") {
    val t = new SnapshotTable(tmpDir("mdelta-fb").resolve("t").toString, 8)
    t.init(Model.tokenDocSchema)
    MergeEngine.merge(spark, t,
      Seq(ev(1L, "a", Seq(1))).toDF(cols: _*), "q", 1L)
    val m = t.manifest.get
    val mutated = m.copy(version = m.version + 1, parentVersion = m.version,
      files = m.files.map(_.copy(rows = 999L)))
    intercept[IllegalStateException](Manifest.toJson(mutated, m.files, checkpoint = false))
    intercept[IllegalStateException](t.commit(mutated))
    assert(t.currentVersion.contains(m.version), "the failed commit must publish nothing")
    // and an honest child step round-trips through resolve()
    val child = m.copy(version = m.version + 1, parentVersion = m.version,
      files = m.files :+ m.files.head.copy(path = m.files.head.path + ".x"))
    val js = Manifest.toJson(child, m.files, checkpoint = false)
    val resolved = Manifest.fromJson(js).resolve(v => { assert(v === m.version); m })
    assert(resolved.files.toSet === child.files.toSet)
    assert(resolved.fences === child.fences && resolved.watermarks === child.watermarks)
  }

  /** Every record on disk as raw JSON. */
  private def recordJsons(root: String): Seq[String] =
    graft.util.Tables.listClosed(Paths.get(root).resolve("manifests"))(_.toSeq)
      .filter(p => p.getFileName.toString.matches("v\\d+\\.json"))
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  /** Every record on disk by version. */
  private def records(root: String): Seq[Manifest.Record] =
    recordJsons(root).map(Manifest.fromJson).sortBy(_.version)

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  test("format law: every record's step is the resolved diff; only checkpoints carry files") {
    val dir = tmpDir("mdelta-law").resolve("t").toString
    val t = new SnapshotTable(dir, 4, manifestCheckpointEvery = 4)
    t.init(Model.tokenDocSchema)
    // merges, a compaction and a purge: every kind of commit
    (1 to 9).foreach { k =>
      MergeEngine.merge(spark, t,
        Seq(ev(10L * k, s"doc-$k", Seq(k)),
          ev(10L * k + 1, s"doc-${k - 1}", Seq(k * 10), Model.OpUpdate)).toDF(cols: _*),
        "q", k.toLong)
      if (k == 4) MergeEngine.compact(spark, t)
      if (k == 7) MergeEngine.purgeKeys(spark, t, Seq("doc-2").toDF("doc_id"))
    }
    val cur = t.currentVersion.get
    assert(cur === 11L)
    // the law's reference: the diff of each version's resolved state
    // against its parent's, taken before expiry retires any of them
    val diffs = (0L to cur).map { v =>
      val child = t.manifestAt(v).files
      val parent = if (v == 0L) Seq.empty else t.manifestAt(v - 1).files
      val (pp, cp) = (parent.map(_.path).toSet, child.map(_.path).toSet)
      v -> ((child.filterNot(f => pp(f.path)).toSet, parent.map(_.path).filterNot(cp).toSet))
    }.toMap
    // keepLast 7 asks for v5..v11: the v5 compaction is a checkpoint, so
    // the cut is exactly there and every retained kind of commit is checked
    t.expireSnapshots(keepLast = 7, minAgeMs = 0L)
    val recs = records(dir)
    assert(recs.map(_.version) === (5L to cur))
    recs.foreach { r =>
      val v = r.version
      // v5 compaction and v9 purge are checkpoint records too
      assert(r.files.isDefined === (v % 4 == 0 || v == 5L || v == 9L),
        s"v$v: files only at checkpoints")
      assert(r.parentVersion === v - 1)
      assert((r.filesAdded.toSet, r.filesRemoved.toSet) === diffs(v), s"v$v step")
    }
    // file entries carry their declared fields only (no derived `delta`
    // getter), and a field the record does not declare fails the parse
    val trees = recordJsons(dir).map(js => Json.readTree(js))
    val entries = trees.flatMap(tr => Seq("filesAdded", "files")
      .flatMap(k => Option(tr.get(k)).toSeq.flatMap(_.elements().asScala)))
    assert(entries.nonEmpty && entries.forall(!_.has("delta")),
      s"an entry serializes a `delta` property: ${entries.find(_.has("delta"))}")
    val extra = trees.last.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("bogus", 1).toString
    intercept[com.fasterxml.jackson.databind.exc.UnrecognizedPropertyException](
      Manifest.fromJson(extra))
  }

  test("a long-lived handle's resolved-manifest cache stays bounded") {
    val t = new SnapshotTable(tmpDir("mdelta-lru").resolve("t").toString, 4)
    t.init(Model.tokenDocSchema)
    (1 to 40).foreach { k =>
      val m = t.manifest.get
      t.commit(m.copy(version = m.version + 1, parentVersion = m.version,
        files = m.files :+ FileEntry(s"${t.root}/data/v$k/part-$k.parquet", k % 4,
          k.toLong, k.toLong, 1L, FileEntry.Base)))
    }
    // time travel across every version through the same handle
    (0L to 40L).foreach(v => assert(t.manifestAt(v).files.size.toLong === v))
    assert(t.resolvedCacheSize <= SnapshotTable.DefaultCheckpointEvery,
      s"cache holds ${t.resolvedCacheSize} resolved versions")
  }

  test("a change walk inside retention returns the same steps after expiry") {
    val dir = tmpDir("mdelta-walk").resolve("t").toString
    val t = new SnapshotTable(dir, 4, manifestCheckpointEvery = 4)
    t.init(Model.tokenDocSchema)
    (1 to 7).foreach { k =>
      MergeEngine.merge(spark, t,
        Seq(ev(k.toLong, s"doc-$k", Seq(k))).toDF(cols: _*), "q", k.toLong)
    }
    val before = t.changesBetween(3L, 7L)
    // keepLast 2 cuts at the v4 checkpoint: v4..v7 stay, v0..v3 expire
    t.expireSnapshots(keepLast = 2, minAgeMs = 0L)
    assert((0 to 3).forall(v => !Files.exists(Paths.get(dir, "manifests", s"v$v.json"))))
    val fresh = new SnapshotTable(dir, 4, manifestCheckpointEvery = 4)
    assert(fresh.changesBetween(3L, 7L) === before)
    // v3 expired: a walk that needs its step fails as expired
    val e = intercept[IllegalArgumentException](fresh.changesBetween(2L, 7L))
    assert(e.getMessage.contains("expired"))
  }
}
