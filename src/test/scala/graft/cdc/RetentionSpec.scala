package graft.cdc

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.Trigger

/** One retention policy, owned by the table: every checkpoint commit
  * expires the table to [[SnapshotTable.RetainVersions]] versions, every
  * cut lands on a checkpoint record, so `manifests/` stays bounded, its
  * oldest record always carries the full file list, and every writer's
  * table obeys the same bound.
  */
class RetentionSpec extends SparkSpec {
  import spark.implicits._

  private val Bound = SnapshotTable.RetainVersions + SnapshotTable.DefaultCheckpointEvery

  private def versions(root: String): Seq[Long] =
    graft.util.Tables.listClosed(Paths.get(root, "manifests"))(_.map(_.getFileName.toString)
      .filter(_.matches("v\\d+\\.json")).map(_.drop(1).stripSuffix(".json").toLong).toSeq).sorted

  private def record(root: String, v: Long): Manifest.Record =
    Manifest.fromJson(new String(Files.readAllBytes(Paths.get(root, "manifests", s"v$v.json")),
      java.nio.charset.StandardCharsets.UTF_8))

  /** `manifests/` holds at most `Bound` records, the oldest a checkpoint. */
  private def assertBounded(root: String, what: String): Seq[Long] = {
    val vs = versions(root)
    assert(vs.size <= Bound, s"$what: ${vs.size} records (${vs.head}..${vs.last})")
    assert(record(root, vs.head).files.isDefined, s"$what: oldest record v${vs.head} has no files")
    assert(!Files.exists(Paths.get(root, "manifests", "chain")), s"$what: manifests/chain exists")
    vs
  }

  test("retention law: 520 commits keep a bounded, resolvable, checkpoint-rooted manifests/") {
    val root = tmpDir("retain").resolve("t").toString
    val t = new SnapshotTable(root, 4)
    t.init(Model.tokenDocSchema)
    val now = System.currentTimeMillis
    // one real part file per write dir, with the checksum and `_SUCCESS`
    // marker a Spark write leaves; ages alternate across the GC grace
    def partFile(dir: Path, k: Int): Path = {
      val p = dir.resolve(s"_bucket=${k % 4}/part-$k.parquet")
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte](1))
      Files.write(p.resolveSibling(s".part-$k.parquet.crc"), Array[Byte](1))
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      val age = if (k % 2 == 0) -2 * SnapshotTable.GcGraceMs else SnapshotTable.GcGraceMs
      Files.setLastModifiedTime(p, FileTime.fromMillis(now + age))
      p
    }
    val written = (1 to 520).map { k =>
      val m = t.manifest.get
      val entry = FileEntry(partFile(t.dataDir(k), k).toString, k % 4, k.toLong, k.toLong, 1L,
        FileEntry.Base)
      // every 50th commit is a rewrite: its file replaces every live one,
      // committed as a checkpoint record like compact and purge
      val next = m.copy(version = m.version + 1, parentVersion = m.version,
        files = if (k % 50 == 0) Seq(entry) else m.files :+ entry)
      t.commit(next, checkpoint = k % 50 == 0)

      val vs = assertBounded(root, s"after commit $k")
      assert(vs.last === k.toLong && vs === (vs.head to vs.last))
      val fresh = new SnapshotTable(root, 4)
      vs.foreach(v => assert(fresh.manifestAt(v).files.map(_.path).toSet ===
        t.manifestAt(v).files.map(_.path).toSet, s"after commit $k: v$v resolves differently"))
      if (vs.head > 0) {
        val e = intercept[IllegalArgumentException](fresh.manifestAt(vs.head - 1))
        assert(e.getMessage.contains("expired"))
      }
      entry.path
    }
    assert(versions(root).head > 400L, "the table never expired its early versions")

    // the table's own expiry deletes every committed file no retained
    // version names, whatever its age, with its write dir
    val referenced = versions(root).flatMap(v => t.manifestAt(v).files.map(_.path)).toSet
    written.zipWithIndex.foreach { case (p, i) =>
      val k = i + 1
      if (referenced(p)) assert(Files.exists(Paths.get(p)), s"GC deleted referenced part-$k")
      else assert(!Files.exists(t.dataDir(k)), s"write dir of unreferenced part-$k survived")
    }
    // files no record ever named (a crashed or unpublished writer's) are
    // left to an explicit call, which takes only those past the grace
    val orphans = (1 to 4).map(k => partFile(t.newDataDir(k.toLong), k))
    val mid = t.manifest.get
    t.commit(mid.copy(version = mid.version + 1, parentVersion = mid.version), checkpoint = true)
    orphans.foreach(p => assert(Files.exists(p), s"the table's own expiry swept orphan $p"))
    t.expireSnapshots(keepLast = SnapshotTable.RetainVersions)
    orphans.zipWithIndex.foreach { case (p, i) =>
      if (i % 2 == 1) assert(!Files.exists(p.getParent.getParent), s"orphan past the grace survived: $p")
      else assert(Files.exists(p), s"orphan inside the grace was deleted: $p")
    }
    versions(root).flatMap(v => t.manifestAt(v).files.map(_.path)).foreach(p =>
      assert(Files.exists(Paths.get(p)), s"explicit sweep deleted referenced $p"))
  }

  /** Events of epoch `k`: doc `d$k` inserted, doc `d${k - 1}` updated. */
  private def events(k: Int): DataFrame =
    (Seq(ChangeEvent(10L * k + 1, 0, Model.OpInsert, s"d$k", Array(k), 1, "web",
      new java.sql.Timestamp(1700000000000L + k))) ++
      (if (k == 0) Seq.empty else Seq(ChangeEvent(10L * k + 2, 0, Model.OpUpdate, s"d${k - 1}",
        Array(-k), 1, "web", new java.sql.Timestamp(1700000000000L + k))))).toDF()

  private def appendLog(log: Path, k: Int): Unit = {
    Files.createDirectories(log)
    ChangelogGen.writeSingleFile(events(k), log, f"chunk-$k%05d.parquet",
      Some(1700000000000L + k * 1000L))
  }

  test("every writer is bounded by the same rule when it commits across a retention boundary") {
    val writers: Seq[(String, Path => Int => Unit)] = Seq(
      "IngestJob.replay" -> { work => k =>
        appendLog(work.resolve("log"), k)
        IngestJob.replay(spark, IngestJob.Config(logDir = work.resolve("log").toString,
          tableDir = work.resolve("t").toString, checkpointDir = work.resolve("ckpt").toString,
          numBuckets = 4, maxFilesPerTrigger = Some(1)))
      },
      "write.format(graft)" -> { work => k =>
        events(k).write.format("graft").option("queryId", "w").option("epochId", k.toLong)
          .mode(SaveMode.Append).save(work.resolve("t").toString)
      },
      "writeStream.format(graft)" -> { work => k =>
        appendLog(work.resolve("log"), k)
        spark.readStream.schema(Model.changeEventSchema).parquet(work.resolve("log").toString)
          .writeStream.format("graft")
          .option("path", work.resolve("t").toString).option("queryId", "s")
          .option("checkpointLocation", work.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      },
      "Wap.publish" -> { work => k =>
        val t = new SnapshotTable(work.resolve("t").toString, 4)
        t.ensureInitialized(Model.changeEventSchema)
        Wap.publish(t, Wap.stage(spark, t, events(k), "wap", k.toLong))
      },
      "Scd2Stream.start" -> { work => k =>
        appendLog(work.resolve("log"), k)
        Scd2Stream.start(spark, Scd2Stream.Config(logDir = work.resolve("log").toString,
          tableDir = work.resolve("t").toString, checkpointDir = work.resolve("ckpt").toString,
          maxFilesPerTrigger = Some(1), numBuckets = 4)).awaitTermination()
      })
    writers.foreach { case (name, writer) =>
      val work = tmpDir("retain-writer")
      val root = work.resolve("t").toString
      val write = writer(work)
      write(0)
      // metadata-only commits up to just below the boundary at which the
      // first expiry retires records
      val t = new SnapshotTable(root)
      while (t.currentVersion.get < Bound - 1) {
        val m = t.manifest.get
        t.commit(m.copy(version = m.version + 1, parentVersion = m.version))
      }
      assert(versions(root).size === Bound, name)
      write(1)
      val vs = assertBounded(root, name)
      assert(vs.last >= Bound && vs.head > 0L, s"$name: ${vs.head}..${vs.last}")
      if (name.startsWith("Scd2")) {
        def canon(d: DataFrame): Seq[String] =
          d.select("doc_id", "valid_from_lsn", "valid_to_lsn", "is_current", "tokens")
            .collect().map(_.toString).sorted.toSeq
        assert(canon(Scd2Stream.read(spark, root)) ===
          canon(Scd2.fromChangelog(events(0).unionByName(events(1)), Seq("doc_id"), "lsn")), name)
      } else {
        val state = t.read(spark).select("doc_id", "tokens").as[(String, Seq[Int])].collect().toMap
        assert(state === Map("d0" -> Seq(-1), "d1" -> Seq(1)), name)
      }
    }
  }
}
