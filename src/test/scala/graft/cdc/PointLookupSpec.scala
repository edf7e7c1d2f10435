package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Point-lookup laws (q77's engine path): base files are written
  * clustered (key-sorted within bucket) so their manifest key ranges are
  * tight and DISJOINT per bucket; `lookupKeys` prunes to the one range
  * file per bucket plus the delta tail; pruning never loses a row —
  * results equal the full-scan filter under updates, deletes, same-LSN
  * re-deliveries and unknown (legacy) stats, in one Spark job per lookup.
  */
class PointLookupSpec extends SparkSpec {
  import spark.implicits._

  private def ev(lsn: Long, doc: String, toks: Seq[Int], op: String = Model.OpInsert) =
    (lsn, math.abs(doc.hashCode) % 3, op, doc, toks, toks.size, "web",
      null.asInstanceOf[java.sql.Timestamp])

  private val cols = Seq("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source", "ts")

  /** 200 keys in 4 buckets, compacted to tiny files → several clustered
    * base files per bucket.
    */
  private def fixture(name: String): SnapshotTable = {
    val t = new SnapshotTable(tmpDir(name).resolve("t").toString, 4)
    t.init(Model.tokenDocSchema)
    val docs = (0 until 200).map(i => f"k$i%04d")
    MergeEngine.merge(spark, t,
      docs.zipWithIndex.map { case (d, i) => ev(i.toLong, d, Seq(i)) }.toDF(cols: _*),
      "p", 0L)
    MergeEngine.compact(spark, t, targetFileBytes = 256)
    t
  }

  test("clustered layout: key ranges are recorded and disjoint within a bucket") {
    val t = fixture("lookup-layout")
    val m = t.manifest.get
    val bases = m.files.filterNot(_.isDelta)
    assert(bases.forall(f => f.minKey != null && f.maxKey != null),
      "every base file must carry footer key bounds")
    m.files.filterNot(_.isDelta).groupBy(_.bucket).foreach { case (b, fs) =>
      assert(fs.size > 1, s"bucket $b should split into multiple files (got ${fs.size})")
      val sorted = fs.sortBy(_.minKey)
      sorted.sliding(2).foreach {
        case Seq(a, c) =>
          assert(FileEntry.utf8Leq(a.maxKey, c.minKey) && a.maxKey != c.minKey,
            s"overlapping key ranges in bucket $b: [${a.minKey},${a.maxKey}] vs [${c.minKey},${c.maxKey}]")
        case _ => ()
      }
    }
  }

  test("lookup prunes to a sliver and equals the full-scan filter") {
    val t = fixture("lookup-prune")
    val m = t.manifest.get
    val keys = Seq("k0003", "k0117", "k0199")
    val byBucket = keys.groupBy(SnapshotTable.bucketOfKey(_, m.numBuckets))
    val buckets = byBucket.keySet
    val coveringAll = m.files.count(f => buckets.exists(f.covers))
    val selected = t.pruneForKeys(m, byBucket)
    assert(selected.size < coveringAll,
      s"key-range pruning ineffective: $coveringAll covering, ${selected.size} selected")
    assert(selected.size <= keys.size, "at most one clustered file per sought key")

    val got = t.lookupKeys(spark, keys).select("doc_id", "n_tok").as[(String, Int)]
      .collect().toSet
    val want = t.read(spark).filter($"doc_id".isin(keys: _*))
      .select("doc_id", "n_tok").as[(String, Int)].collect().toSet
    assert(got === want)
    assert(got.map(_._1) === keys.toSet)
  }

  test("lookup sees MOR updates and tombstones; unknown stats read conservatively") {
    val t = fixture("lookup-mor")
    MergeEngine.merge(spark, t,
      Seq(ev(500L, "k0003", Seq(9999), Model.OpUpdate),
        ev(501L, "k0117", Nil, Model.OpDelete)).toDF(cols: _*),
      "p", 1L)
    val got = t.lookupKeys(spark, Seq("k0003", "k0117", "k0042"))
      .select("doc_id", "tokens").as[(String, Seq[Int])].collect().toMap
    assert(got("k0003") === Seq(9999), "MOR update must win the lookup")
    assert(!got.contains("k0117"), "tombstone must drop the key")
    assert(got("k0042") === Seq(42))

    // legacy manifests (no key stats) are conservative, never wrong
    val m = t.manifest.get
    val noStats = m.copy(files = m.files.map(_.copy(minKey = null, maxKey = null)))
    val b42 = SnapshotTable.bucketOfKey("k0042", m.numBuckets)
    val conservative = t.pruneForKeys(noStats, Map(b42 -> Seq("k0042")))
    assert(conservative.size === m.files.count(_.covers(b42)),
      "unknown key ranges must keep every bucket-covering file")
  }

  test("lookup law: lookupKeys(ks) == read.filter(isin(ks)) over MOR deltas, in one job") {
    val t = fixture("lookup-law")
    // epoch 1: an update, a tombstone, and a delete of a key that
    // epoch 2 re-inserts
    MergeEngine.merge(spark, t,
      Seq(ev(500L, "k0003", Seq(9999), Model.OpUpdate),
        ev(501L, "k0117", Nil, Model.OpDelete),
        ev(502L, "k0042", Nil, Model.OpDelete)).toDF(cols: _*),
      "p", 1L)
    // epoch 2: the re-insert, plus a same-LSN re-delivery of epoch 1's
    // update on a source partition with no watermark yet, so it lands in
    // a second delta file and ties with the first on lsn
    val redelivered = ev(500L, "k0003", Seq(9999), Model.OpUpdate).copy(_2 = 7)
    MergeEngine.merge(spark, t,
      Seq(ev(503L, "k0042", Seq(4242)), redelivered).toDF(cols: _*), "p", 2L)
    assert(t.manifest.get.files.count(_.isDelta) >= 2, "fixture must stay merge-on-read")

    val keySets = Seq(
      Seq("k0003", "k0117", "k0042"),
      Seq("k0117"),
      Seq("k0042", "k0042", "k0199", "absent"),
      (0 until 200 by 13).map(i => f"k$i%04d") :+ "k0003")
    val m = t.manifest.get
    keySets.foreach { ks =>
      val (stats, got) = jobStatsOf(t.lookupKeys(spark, ks).collect())
      val want = t.read(spark).filter($"doc_id".isin(ks: _*)).collect()
      assert(got.map(_.toString).sorted.toSeq === want.map(_.toString).sorted.toSeq, s"keys $ks")
      assert(stats.jobs === 1, s"lookup of $ks ran ${stats.jobs} jobs")
      // the scan's tasks report the rows they read, never more than the
      // pruned files hold
      val fileRows = t.pruneForKeys(m, ks.groupBy(SnapshotTable.bucketOfKey(_, m.numBuckets)))
        .map(_.rows).sum
      assert(stats.recordsRead > 0 && stats.recordsRead <= fileRows,
        s"lookup of $ks read ${stats.recordsRead} records from files of $fileRows rows")
    }
    val state = t.lookupKeys(spark, Seq("k0003", "k0117", "k0042"))
      .select("doc_id", "tokens").as[(String, Seq[Int])].collect().toMap
    assert(state === Map("k0003" -> Seq(9999), "k0042" -> Seq(4242)))
  }

  test("lookup over an evolved schema equals the filtered read, current and time travel") {
    val t = fixture("lookup-evolved")
    // epoch 1 under the first schema: a delta file without `lang`, n_tok int
    MergeEngine.merge(spark, t,
      Seq(ev(500L, "k0003", Seq(9999), Model.OpUpdate),
        ev(501L, "k0117", Nil, Model.OpDelete)).toDF(cols: _*),
      "p", 1L)
    val before = t.currentVersion.get
    // epoch 2: `lang` appears and n_tok arrives as long
    MergeEngine.merge(spark, t,
      Seq(ev(502L, "k0042", Seq(4, 2)), ev(503L, "k0150", Seq(7), Model.OpUpdate))
        .toDF(cols: _*).withColumn("n_tok", $"n_tok".cast("long")).withColumn("lang", lit("fr")),
      "p", 2L)
    val m = t.manifest.get
    assert(t.schema.get("n_tok").dataType === LongType)
    assert(t.schema.get.fieldNames.last === "lang")
    // the fixture holds files of two schemas, as their footers tell: the
    // first epoch's base and delta files lack `lang` and hold n_tok as int
    val firstEpoch = t.manifestAt(before).files
    assert(firstEpoch.map(_.isDelta).toSet === Set(false, true),
      "the first schema must hold base and delta files")
    firstEpoch.foreach { f =>
      val footer = spark.read.parquet(f.path).schema
      assert(!footer.fieldNames.contains("lang") && footer("n_tok").dataType === IntegerType,
        s"fixture must hold files of two schemas: ${f.path} has $footer")
    }
    val later = m.files.filterNot(firstEpoch.contains)
    assert(later.nonEmpty && later.forall(f => spark.read.parquet(f.path).schema.fieldNames.contains("lang")),
      "the second epoch's files hold `lang`")

    val keys = Seq("k0003", "k0042", "k0117", "k0150", "k0199", "absent")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect().toSeq
    val current = rows(t.read(spark).filter($"doc_id".isin(keys: _*)))
    assert(current.map(_.getAs[String]("doc_id")) === Seq("k0003", "k0042", "k0150", "k0199"))
    assert(rows(t.lookupKeys(spark, keys)) === current)
    val viaSource = spark.read.format("graft").load(t.root).filter($"doc_id".isin(keys: _*))
    assert(viaSource.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    assert(rows(viaSource) === rows(t.readWithLsn(spark).filter($"doc_id".isin(keys: _*))))
    // time travel reads the version before the evolution under its own schema
    val old = spark.read.format("graft").option("version", before).load(t.root)
      .filter($"doc_id".isin(keys: _*))
    assert(old.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    val oldWant = rows(t.readVersionWithLsn(spark, before).filter($"doc_id".isin(keys: _*)))
    assert(!oldWant.head.schema.fieldNames.contains("lang"))
    assert(rows(old) === oldWant)
  }

  test("bucketOfKey equals bucketOf over ASCII, non-ASCII and empty keys") {
    val rnd = new scala.util.Random(77L)
    def draw(codePoint: => Int): String = {
      val sb = new java.lang.StringBuilder
      (0 until rnd.nextInt(24)).foreach(_ => sb.appendCodePoint(codePoint))
      sb.toString
    }
    val ascii = Seq.fill(300)(draw(32 + rnd.nextInt(95)))
    // Latin-1, CJK and supplementary-plane (surrogate pair) code points
    val wide = Seq.fill(300)(draw(rnd.nextInt(3) match {
      case 0 => 0xA0 + rnd.nextInt(0x60)
      case 1 => 0x4E00 + rnd.nextInt(0x5000)
      case _ => 0x10000 + rnd.nextInt(0x10000)
    }))
    val keys = ("" +: "\uD83D\uDE00" +: (ascii ++ wide)).distinct
    assert(keys.exists(k => k.codePointCount(0, k.length) < k.length), "no surrogate pair drawn")
    Seq(1, 4, 16, 1000).foreach { n =>
      val viaSpark = keys.toDF("doc_id")
        .select($"doc_id", SnapshotTable.bucketOf($"doc_id", n))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      keys.foreach { k =>
        assert(SnapshotTable.bucketOfKey(k, n) === viaSpark(k), s"key '$k' with $n buckets")
      }
    }
  }

  test("manifest key bounds survive a JSON round-trip (and null for legacy)") {
    val t = fixture("lookup-json")
    val m = t.manifest.get
    val rt = Manifest.fromJson(Manifest.toJson(m, Nil, checkpoint = true)).resolve(_ => m)
    assert(rt.files.map(f => (f.path, f.minKey, f.maxKey)) ===
      m.files.map(f => (f.path, f.minKey, f.maxKey)))
    // a pre-round-5 manifest JSON (no minKey/maxKey fields) parses to null
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Manifest.toJson(m, Nil, checkpoint = true))
    Seq("filesAdded", "files").foreach(k => tree.get(k).elements().forEachRemaining(e =>
      e.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove(
        java.util.Arrays.asList("minKey", "maxKey"))))
    val legacy = tree.toString
    assert(!legacy.contains("minKey") && !legacy.contains("maxKey"))
    val lm = Manifest.fromJson(legacy).resolve(_ => m)
    assert(lm.files.forall(f => f.minKey == null && f.maxKey == null))
  }
}
