package graft.cdc

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Streaming SCD2 maintenance: the foreachBatch fold must reproduce the
  * one-shot rebuild over the deduped log, refuse re-deliveries by
  * per-partition watermark (including the deleted-key resurrection), and
  * fence fresh-checkpoint restarts loudly.
  */
class Scd2StreamSpec extends SparkSpec {
  import spark.implicits._

  // three epochs over two source partitions; epoch 2 re-delivers two
  // epoch-1 events (one of them an insert of a key DELETED in epoch 1 —
  // the resurrection case a key-level watermark cannot catch)
  private def epochs: Seq[DataFrame] = {
    def df(rows: (String, Long, Int, String, String)*) =
      rows.toDF("doc_id", "lsn", "partition", "op", "payload")
    Seq(
      df(("a", 1L, 0, "I", "a1"), ("b", 2L, 1, "I", "b2"), ("c", 3L, 0, "I", "c3")),
      df(("a", 4L, 0, "U", "a4"), ("b", 5L, 1, "D", null), ("d", 6L, 1, "I", "d6")),
      df(("b", 2L, 1, "I", "b2"), // resurrection attempt: b was deleted
        ("a", 4L, 0, "U", "a4"),  // plain re-delivery
        ("c", 7L, 0, "U", "c7"), ("e", 8L, 1, "I", "e8")))
  }

  private def schema = epochs.head.schema

  private def writeLog(dir: String, n: Int = epochs.size): Unit = {
    Files.createDirectories(Paths.get(dir))
    val t0 = System.currentTimeMillis()
    epochs.take(n).zipWithIndex.foreach { case (e, k) =>
      ChangelogGen.writeSingleFile(
        e.orderBy("lsn"), Paths.get(dir), f"chunk-$k%05d.parquet", Some(t0 + k * 1000L))
    }
  }

  private def canon(d: DataFrame): Seq[String] =
    d.select("doc_id", "valid_from_lsn", "valid_to_lsn", "is_current", "payload")
      .collect().map(_.toString).sorted.toSeq

  // the rebuild over the unique fresh events (re-deliveries out)
  private def oracle: Seq[String] = canon(Scd2.fromChangelog(
    epochs.head.unionByName(epochs(1)).unionByName(epochs(2).filter($"lsn" > 6)),
    Seq("doc_id"), "lsn"))

  private def config(work: String) = Scd2Stream.Config(
    logDir = s"$work/log", tableDir = s"$work/table",
    checkpointDir = s"$work/ckpt", schema = schema,
    maxFilesPerTrigger = Some(1))

  test("streamed fold equals the one-shot rebuild; resurrection refused") {
    val work = tmpDir("scd2stream").toString
    writeLog(s"$work/log")
    val cfg = config(work)
    Scd2Stream.start(spark, cfg).awaitTermination()

    assert(canon(Scd2Stream.read(spark, s"$work/table")) === oracle)
    // b stayed dead: one closed version, nothing current
    val b = Scd2Stream.read(spark, s"$work/table").filter($"doc_id" === "b")
    assert(b.count() === 1L && b.filter($"is_current").count() === 0L)
  }

  test("every epoch's record carries its EpochMetrics; a re-delivered epoch no-ops on the fence") {
    val work = tmpDir("scd2metrics").toString
    writeLog(s"$work/log")
    val cfg = config(work)
    Scd2Stream.start(spark, cfg).awaitTermination()
    val table = new SnapshotTable(cfg.tableDir)
    // (eventsIn, belowWatermark, upserts, deletes) per epoch: epoch 2's
    // two re-deliveries are at or below their partitions' watermarks
    val want = Seq((3L, 0L, 3L, 0L), (3L, 0L, 2L, 1L), (4L, 2L, 2L, 0L))
    want.zipWithIndex.foreach { case (w, e) =>
      val v = e + 1L
      val em = table.manifestAt(v).metrics.last
      assert((em.queryId, em.epochId) === ((cfg.queryId, e.toLong)))
      assert((em.eventsIn, em.belowWatermark, em.upserts, em.deletes) === w, s"epoch $e: $em")
      val added = table.changesBetween(v - 1, v).head._2
      assert(em.rowsWritten === added.map(_.rows).sum && em.rowsWritten > 0, s"epoch $e: $em")
    }

    // re-delivering the last epoch writes and commits nothing
    val dataDirs = () => graft.util.Tables.listClosed(Paths.get(s"${cfg.tableDir}/data"))(_.toSet)
    val (version, dirs) = (table.currentVersion, dataDirs())
    Scd2Stream.epoch(spark, cfg, table, epochs(2), epochId = 2L)
    assert(table.currentVersion === version && dataDirs() === dirs)
    assert(canon(Scd2Stream.read(spark, cfg.tableDir)) === oracle)
  }

  test("an epoch that loses the commit race deletes its write; no reader sees it; the replay lands") {
    val work = tmpDir("scd2race").toString
    writeLog(s"$work/log", n = 2)
    val cfg = config(work)
    Scd2Stream.start(spark, cfg).awaitTermination()
    val before = canon(Scd2Stream.read(spark, cfg.tableDir))

    // a racer links the next version while epoch 2 writes; epoch 2
    // touches c's bucket, so its step removes c's prior open entry
    var written = Option.empty[java.nio.file.Path]
    val racing = new SnapshotTable(cfg.tableDir) {
      override def newDataDir(v: Long): java.nio.file.Path = {
        val cur = manifest.get
        commit(cur.copy(version = cur.version + 1, parentVersion = cur.version))
        written = Some(super.newDataDir(v))
        written.get
      }
    }
    intercept[SnapshotTable.ConcurrentCommitException] {
      Scd2Stream.epoch(spark, cfg, racing, epochs(2), epochId = 2L)
    }
    assert(written.exists(d => !Files.exists(d)), s"the lost epoch's write survived: $written")
    assert(racing.manifest.get.fences(cfg.queryId) === 1L)
    assert(canon(Scd2Stream.read(spark, cfg.tableDir)) === before)

    // the replayed epoch commits on the racer's version
    val table = new SnapshotTable(cfg.tableDir)
    Scd2Stream.epoch(spark, cfg, table, epochs(2), epochId = 2L)
    assert(table.manifest.get.fences(cfg.queryId) === 2L)
    assert(canon(Scd2Stream.read(spark, cfg.tableDir)) === oracle)
  }

  test("bucketed open set: untouched buckets carry forward by file identity; emptied buckets drop") {
    val work = tmpDir("scd2buckets").toString
    writeLog(s"$work/log")
    val nb = 8
    val cfg = Scd2Stream.Config(
      logDir = s"$work/log", tableDir = s"$work/table",
      checkpointDir = s"$work/ckpt", schema = schema,
      maxFilesPerTrigger = Some(1), numBuckets = nb)
    Scd2Stream.start(spark, cfg).awaitTermination()

    def bucketOf(key: String): Int = SnapshotTable.bucketOfKey(key, nb)
    // fresh (watermark-surviving) keys per epoch — the epoch-2
    // re-deliveries of a and b are refused, so they touch nothing
    val freshKeys = Seq(0 -> Seq("a", "b", "c"), 1 -> Seq("a", "b", "d"), 2 -> Seq("c", "e"))
    // epoch e commits version e + 1 (v0 is the empty init)
    val lastTouched: Map[Int, Long] = freshKeys
      .flatMap { case (e, ks) => ks.map(k => bucketOf(k) -> (e + 1L)) }
      .groupMapReduce(_._1)(_._2)(math.max)
    // final open keys: a (a4), c (c7), d (d6), e (e8); b closed by delete
    val openBuckets = Seq("a", "c", "d", "e").map(bucketOf).toSet
    val expected = lastTouched.filter { case (b, _) => openBuckets.contains(b) }

    val table = new SnapshotTable(s"$work/table")
    val m = table.manifest.get
    assert(m.version === 3L && m.fences(cfg.queryId) === 2L)
    // each open entry maps its bucket to the version whose data dir wrote it
    val versionOf = """/data/v(\d+)-""".r
    val open = m.files.filter(_.bucket >= 0)
    val bucketMap = open.map(f =>
      f.bucket -> versionOf.findFirstMatchIn(f.path).get.group(1).toLong).toMap
    assert(open.size === bucketMap.size, s"one open file per bucket: ${open.map(_.path)}")
    assert(bucketMap === expected,
      s"bucket map law violated: got $bucketMap, want $expected")
    // carry-forward is by FILE IDENTITY: a bucket last touched before the
    // current version is served from the data dir that wrote it
    val carried = open.filter(f => bucketMap(f.bucket) < m.version)
    assert(carried.nonEmpty, "fixture should leave at least one carried-forward bucket")
    carried.foreach(f => assert(Files.isRegularFile(Paths.get(f.path)), s"carried file missing: $f"))
    // and the bucketed layout still reproduces the one-shot rebuild
    val before = canon(Scd2Stream.read(spark, s"$work/table"))
    assert(before === oracle)

    // GC: superseded open files go, every referenced file stays, reads unchanged
    val referenced = m.files.map(_.path).toSet
    val superseded = graft.util.Tables.walkClosed(Paths.get(s"$work/table/data"))(
      _.map(_.toString).filter(p => p.contains("/_bucket=") && !p.contains("/_bucket=-1/") &&
        Paths.get(p).getFileName.toString.startsWith("part-")).toSeq)
      .filterNot(referenced)
    assert(superseded.nonEmpty, "fixture should supersede at least one open file")
    // expiry cuts at a checkpoint record: metadata-only commits bring the
    // table to the next one (v16), which names exactly v3's files
    while (table.currentVersion.get % table.manifestCheckpointEvery != 0) {
      val cur = table.manifest.get
      table.commit(cur.copy(version = cur.version + 1, parentVersion = cur.version))
    }
    table.expireSnapshots(keepLast = 1, minAgeMs = 0L)
    superseded.foreach(p => assert(!Files.exists(Paths.get(p)), s"superseded file survived GC: $p"))
    referenced.foreach(p => assert(Files.exists(Paths.get(p)), s"GC deleted a live file: $p"))
    assert(canon(Scd2Stream.read(spark, s"$work/table")) === before)
  }

  test("a bucket emptied by deletes leaves the map; part-less dirs never poison reads") {
    val work = tmpDir("scd2empty").toString
    val dir = s"$work/log"
    Files.createDirectories(Paths.get(dir))
    val t0 = System.currentTimeMillis()
    def df(rows: (String, Long, Int, String, String)*) =
      rows.toDF("doc_id", "lsn", "partition", "op", "payload")
    ChangelogGen.writeSingleFile(df(("x", 1L, 0, "I", "x1")).orderBy("lsn"),
      Paths.get(dir), "chunk-00000.parquet", Some(t0))
    ChangelogGen.writeSingleFile(df(("x", 2L, 0, "D", null)).orderBy("lsn"),
      Paths.get(dir), "chunk-00001.parquet", Some(t0 + 1000L))
    val cfg = Scd2Stream.Config(
      logDir = dir, tableDir = s"$work/table", checkpointDir = s"$work/ckpt",
      schema = schema, maxFilesPerTrigger = Some(1), numBuckets = 4)
    Scd2Stream.start(spark, cfg).awaitTermination()
    val m = new SnapshotTable(s"$work/table").manifest.get
    assert(m.fences(cfg.queryId) === 1L)
    val xb = SnapshotTable.bucketOfKey("x", 4)
    assert(!m.files.exists(_.bucket == xb), s"deleted-out bucket still has an open entry: ${m.files}")
    val t = Scd2Stream.read(spark, s"$work/table")
    assert(t.count() === 1L && t.filter($"is_current").count() === 0L)
  }

  test("uncommitted closed dir (crash between data write and meta move) is invisible") {
    val work = tmpDir("scd2crash").toString
    writeLog(s"$work/log")
    val cfg = config(work)
    Scd2Stream.start(spark, cfg).awaitTermination()
    val before = canon(Scd2Stream.read(spark, s"$work/table"))
    // simulate the crash window: an epoch's closed rows written into its
    // data dir, the manifest never committed
    Scd2Stream.read(spark, s"$work/table").filter(!$"is_current").limit(1)
      .write.parquet(s"$work/table/data/v99-crash/_bucket=-1")
    assert(canon(Scd2Stream.read(spark, s"$work/table")) === before,
      "phantom rows from an uncommitted epoch leaked into the read")
  }

  test("fresh checkpoint against an existing table fails loudly, not silently") {
    val work = tmpDir("scd2fence").toString
    writeLog(s"$work/log")
    val cfg = config(work)
    Scd2Stream.start(spark, cfg).awaitTermination()
    val before = canon(Scd2Stream.read(spark, s"$work/table"))
    val restarted = Scd2Stream.start(spark, cfg.copy(checkpointDir = s"$work/ckpt2"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      restarted.awaitTermination()
    }
    assert(ex.getMessage.contains("below the committed fence") ||
      Option(ex.getCause).exists(_.getMessage.contains("below the committed fence")))
    // and the table is untouched
    assert(canon(Scd2Stream.read(spark, s"$work/table")) === before)
  }
}
