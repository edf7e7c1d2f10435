package graft.cdc

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Optimistic-concurrency commit semantics (the round-2 "silent lost
  * update" advisory): linking a version's record is the commit, so a
  * commit racing a linked version loses loudly with
  * ConcurrentCommitException and leaves the winner's record intact; a
  * record linked by a writer that then died is committed, and its epoch
  * replays as a fence no-op.
  */
class CommitRaceSpec extends SparkSpec {

  private def freshTable(): SnapshotTable = {
    val t = new SnapshotTable(tmpDir("race").resolve("t").toString, 4)
    t.init(Model.tokenDocSchema)
    t
  }

  private def manifestV(t: SnapshotTable, v: Long): Manifest =
    t.manifest.get.copy(version = v, parentVersion = v - 1)

  test("committing an already-published version throws and preserves the winner") {
    val t = freshTable()
    val winner = manifestV(t, 1L).copy(fences = Map("w" -> 0L))
    t.commit(winner)
    assert(t.currentVersion.contains(1L))

    val loser = manifestV(t, 1L).copy(fences = Map("l" -> 99L))
    intercept[SnapshotTable.ConcurrentCommitException] { t.commit(loser) }
    // winner's manifest content untouched, pointer unchanged
    assert(t.currentVersion.contains(1L))
    assert(t.manifest.get.fences == Map("w" -> 0L))

    // the loser rebases onto the published current and succeeds at v2
    val rebased = manifestV(t, 2L).copy(fences = Map("w" -> 0L, "l" -> 99L))
    t.commit(rebased)
    assert(t.currentVersion.contains(2L))
    assert(t.manifest.get.fences("l") == 99L)
  }

  test("a commit skipping a version is refused and leaves the table unchanged") {
    val t = freshTable()
    t.commit(manifestV(t, 1L).copy(fences = Map("w" -> 1L)))
    val manifests = Paths.get(t.root, "manifests")
    def records = graft.util.Tables.listClosed(manifests)(_.map(_.getFileName.toString).toSeq).sorted
    val before = records
    Seq(t.manifest.get.copy(version = 3L, parentVersion = 1L),
        t.manifest.get.copy(version = 2L, parentVersion = 0L)).foreach { gap =>
      intercept[IllegalArgumentException] { t.commit(gap) }
    }
    assert(records === before && t.currentVersion.contains(1L))
    assert(new SnapshotTable(t.root, 4).manifest.get.fences == Map("w" -> 1L))
  }

  test("claim primitive: hard-link creation fails atomically on an existing target") {
    // The platform assumption the arbiter rests on: link(2) is
    // no-replace (EEXIST), unlike rename(2) which silently replaces — an
    // ATOMIC_MOVE-based claim would be dead code on POSIX.
    val d = tmpDir("claim")
    val a = d.resolve("a"); val b = d.resolve("b"); val t = d.resolve("t")
    Files.write(a, "x".getBytes(StandardCharsets.UTF_8))
    Files.write(b, "y".getBytes(StandardCharsets.UTF_8))
    Files.createLink(t, a)
    intercept[java.nio.file.FileAlreadyExistsException] { Files.createLink(t, b) }
    assert(new String(Files.readAllBytes(t), StandardCharsets.UTF_8) == "x")
  }

  test("a writer that died after linking has committed: its epoch replays as a fence no-op") {
    import spark.implicits._
    val t = freshTable()
    // what a writer that died right after its link leaves behind: a
    // complete v1 record fencing q at epoch 1, with no file step
    val v0 = t.manifest.get
    val linked = manifestV(t, 1L).copy(fences = Map("q" -> 1L))
    Files.write(Paths.get(t.root, "manifests", "v1.json"),
      Manifest.toJson(linked, v0.files, checkpoint = false).getBytes(StandardCharsets.UTF_8))

    val fresh = new SnapshotTable(t.root, 4)
    assert(fresh.currentVersion.contains(1L), "a linked record is the current version at once")
    assert(fresh.manifest.get.fences == Map("q" -> 1L))

    def batch(lsn: Long, doc: String) =
      Seq((lsn, 0, Model.OpInsert, doc, Seq(1, 2), 2, "web")).toDF(
        "lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source")
    // Spark re-delivers the dead writer's epoch: the fence makes it a no-op
    val replay = MergeEngine.merge(spark, fresh, batch(1L, "a"), "q", 1L)
    assert(!replay.applied && fresh.currentVersion.contains(1L))
    // and the next epoch commits on top of it
    val next = MergeEngine.merge(spark, fresh, batch(2L, "b"), "q", 2L)
    assert(next.applied && fresh.currentVersion.contains(2L))
    assert(fresh.manifest.get.fences == Map("q" -> 2L))
    assert(fresh.read(spark).collect().map(_.getAs[String]("doc_id")).toSeq == Seq("b"))
  }

  test("a linked record is never replaced: a losing commit leaves its bytes unchanged") {
    val t = freshTable()
    t.commit(manifestV(t, 1L).copy(fences = Map("first" -> 1L)))
    val mp = Paths.get(t.root, "manifests", "v1.json")
    val before = Files.readAllBytes(mp)

    // a second handle with a stale view of the table loses the version
    val other = new SnapshotTable(t.root, 4)
    val stale = manifestV(t, 1L).copy(fences = Map("second" -> 1L))
    intercept[SnapshotTable.ConcurrentCommitException] { other.commit(stale) }
    assert(java.util.Arrays.equals(Files.readAllBytes(mp), before), "the linked record changed")
    assert(other.manifest.get.fences == Map("first" -> 1L))
    // the loser leaves no staging file behind
    assert(graft.util.Tables.listClosed(Paths.get(t.root))(
      _.map(_.getFileName.toString).filter(_.startsWith("_manifest.tmp")).toSeq).isEmpty)
  }

  test("two DISTINCT handles racing a fresh version: exactly one links it") {
    (1 to 20).foreach { trial =>
      val root = tmpDir(s"link-race-$trial").resolve("t").toString
      val a = new SnapshotTable(root, 4)
      a.init(Model.tokenDocSchema)
      val b = new SnapshotTable(root, 4)

      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = Seq("A" -> a, "B" -> b).map { case (who, t) =>
          pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] = {
              gate.await()
              try {
                t.commit(t.manifest.get.copy(version = 1L, parentVersion = 0L,
                  fences = Map(who -> 1L)))
                Some(who)
              }
              catch { case _: SnapshotTable.ConcurrentCommitException => None }
            }
          })
        }
        gate.countDown()
        val winners = futs.flatMap(_.get())
        assert(winners.size == 1, s"trial $trial: winners = $winners")
        assert(a.currentVersion.contains(1L))
        assert(a.manifest.get.fences == Map(winners.head -> 1L),
          s"trial $trial: published ${a.manifest.get.fences}, winner ${winners.head}")
      } finally pool.shutdownNow()
    }
  }

  test("expireSnapshots racing ~100 commits expires only versions below the current one") {
    import spark.implicits._
    val t = freshTable()
    val gc = new SnapshotTable(t.root, 4)
    val events = (1 to 100).map(i =>
      ChangeEvent(lsn = i.toLong, partition = i % 37 % 3, op = Model.OpInsert,
        doc_id = s"doc-${i % 37}", tokens = Array(i), n_tok = 1, source = "web",
        ts = new java.sql.Timestamp(1700000000000L + i)))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def recordErrors(body: => Unit): Unit =
      try body
      catch {
        case _: SnapshotTable.ConcurrentCommitException =>
        case e: Throwable => errors.add(e)
      }
    val committer = new Thread(() =>
      try recordErrors(events.zipWithIndex.foreach { case (e, i) =>
        MergeEngine.merge(spark, t, Seq(e).toDF(), "q", i.toLong)
      }) finally done.set(true))
    val expirer = new Thread(() =>
      while (!done.get) recordErrors(gc.expireSnapshots(keepLast = 1, minAgeMs = 0L)))
    committer.start(); expirer.start()
    committer.join(); expirer.join()
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("\n"))
    val (a, b) = FoldOracle.diff(new SnapshotTable(t.root, 4).read(spark),
      FoldOracle.finalState(spark, events.toDF()))
    assert(a == 0 && b == 0, s"+$a -$b")
  }

  test("overlapping expiries with different keepLast never throw and never delete live data") {
    val t = new SnapshotTable(tmpDir("race-gc").resolve("t").toString, 4,
      manifestCheckpointEvery = 4)
    t.init(Model.tokenDocSchema)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // 400 metadata-only commits, each naming one real part file; every
    // 10th is a rewrite (a checkpoint record) whose file replaces all
    // live ones, leaving garbage for the expirers to race on
    val committer = new Thread(() =>
      try (1 to 400).foreach { k =>
        val p = t.dataDir(k).resolve(s"_bucket=${k % 4}/part-$k.parquet")
        Files.createDirectories(p.getParent)
        Files.write(p, Array[Byte](1))
        val e = FileEntry(p.toString, k % 4, k.toLong, k.toLong, 1L, FileEntry.Base)
        val m = t.manifest.get
        t.commit(m.copy(version = k.toLong, parentVersion = k - 1L,
          files = if (k % 10 == 0) Seq(e) else m.files :+ e), checkpoint = k % 10 == 0)
      } catch { case e: Throwable => errors.add(e) }
      finally done.set(true))
    val expirers = Seq(1, 6).map { keep =>
      val gc = new SnapshotTable(t.root, 4)
      new Thread(() =>
        while (!done.get)
          try gc.expireSnapshots(keepLast = keep, minAgeMs = 0L)
          catch { case e: Throwable => errors.add(e) })
    }
    (committer +: expirers).foreach(_.start())
    (committer +: expirers).foreach(_.join())
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("\n"))
    val fresh = new SnapshotTable(t.root, 4)
    assert(fresh.currentVersion.contains(400L))
    fresh.manifest.get.files.foreach(f =>
      assert(Files.exists(Paths.get(f.path)), s"GC deleted live file ${f.path}"))
  }

  test("two threads on one SHARED handle cannot both win a version") {
    // Regression for the shared-handle lost update: two threads of one
    // handle must not both report success for one version, with one
    // writer's manifest content silently gone. The link decides between
    // them exactly as between two handles. 20 interleaving trials; the
    // invariant must hold on every schedule.
    (1 to 20).foreach { trial =>
      val t = freshTable()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = Seq("A", "B").map { who =>
          pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] = {
              gate.await()
              try { t.commit(manifestV(t, 1L).copy(fences = Map(who -> 1L))); Some(who) }
              catch { case _: SnapshotTable.ConcurrentCommitException => None }
            }
          })
        }
        gate.countDown()
        val winners = futs.flatMap(_.get())
        assert(winners.size == 1, s"trial $trial: both committed v1: $winners")
        // the published manifest is the winner's, byte-consistent
        assert(t.manifest.get.fences == Map(winners.head -> 1L),
          s"trial $trial: published ${t.manifest.get.fences}, winner ${winners.head}")
      } finally pool.shutdownNow()
    }
  }
}
