package graft.cdc

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import graft.SparkSpec

/** Optimistic-concurrency commit semantics (the round-2 "silent lost
  * update" advisory): a commit racing a PUBLISHED version loses loudly
  * with ConcurrentCommitException and leaves the winner's state intact;
  * an UNPUBLISHED orphan (crash between claim and publish) is reclaimed
  * on resume; the current pointer never moves backwards.
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

  test("unpublished DEAD claim (older than the TTL) is reclaimed; pointer never regresses") {
    val t = freshTable()
    // simulate a writer that died between claim and publish: v1 manifest
    // exists on disk with a foreign writerId, the pointer still says v0,
    // and the claim is old enough to be provably dead
    val orphan = manifestV(t, 1L).copy(fences = Map("dead" -> 1L), writerId = "dead-writer")
    val mp = Paths.get(t.root, "manifests", "v1.json")
    Files.write(mp, Manifest.toJson(orphan, Nil, checkpoint = true).getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(mp, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis - 2 * t.orphanClaimTtlMs))
    assert(t.currentVersion.contains(0L))

    // the resumed (fenced) writer re-commits v1 with its recomputed state
    val resumed = manifestV(t, 1L).copy(fences = Map("resumed" -> 1L))
    t.commit(resumed)
    assert(t.currentVersion.contains(1L))
    assert(t.manifest.get.fences == Map("resumed" -> 1L), "orphan not reclaimed")

    // a stale commit below the published current can never regress state
    intercept[SnapshotTable.ConcurrentCommitException] {
      t.commit(manifestV(t, 1L).copy(fences = Map("stale" -> 7L)))
    }
    assert(t.manifest.get.fences == Map("resumed" -> 1L))
  }

  test("unpublished FRESH foreign claim is a live writer: commit fails instead of replacing it") {
    // the round-3 advisory: without the lease check, two live writers at
    // the same unpublished version both "won" (the second silently
    // replaced the first's claim)
    val t = freshTable()
    val claim = manifestV(t, 1L).copy(fences = Map("live" -> 1L), writerId = "other-live-writer")
    val mp = Paths.get(t.root, "manifests", "v1.json")
    Files.write(mp, Manifest.toJson(claim, Nil, checkpoint = true).getBytes(StandardCharsets.UTF_8))

    val e = intercept[SnapshotTable.ConcurrentCommitException] {
      t.commit(manifestV(t, 1L).copy(fences = Map("me" -> 1L)))
    }
    assert(e.getMessage.contains("may be mid-publish"), e.getMessage)
    // the live claimant's manifest is untouched and can still publish
    assert(Manifest.fromJson(new String(Files.readAllBytes(mp),
      StandardCharsets.UTF_8)).fences == Map("live" -> 1L))
    assert(t.currentVersion.contains(0L))
  }

  test("a writer's OWN fresh unpublished claim is resumable regardless of age") {
    val t = freshTable()
    // this handle claims v1 but "crashes" before publish: simulate by
    // writing the claim with this handle's writerId, pointer untouched
    val mine = manifestV(t, 1L).copy(fences = Map("mine" -> 1L), writerId = t.writerId)
    val mp = Paths.get(t.root, "manifests", "v1.json")
    Files.write(mp, Manifest.toJson(mine, Nil, checkpoint = true).getBytes(StandardCharsets.UTF_8))

    // same handle retries immediately (claim is seconds old) — allowed
    t.commit(manifestV(t, 1L).copy(fences = Map("mine" -> 2L)))
    assert(t.currentVersion.contains(1L))
    assert(t.manifest.get.fences == Map("mine" -> 2L))
  }

  test("two DISTINCT handles racing one EXPIRED orphan claim: exactly one reclaims") {
    // The round-4 advisory: both handles see the same >=TTL-old foreign
    // claim, both pass the age gate, and without arbitration both
    // REPLACE_EXISTING it and report success — the last mover silently
    // wins and the other writer's commit is lost. The reclaim lease +
    // post-publish writerId verification must leave exactly one winner on
    // every schedule.
    (1 to 20).foreach { trial =>
      val root = tmpDir(s"reclaim-race-$trial").resolve("t").toString
      val a = new SnapshotTable(root, 4)
      a.init(Model.tokenDocSchema)
      val b = new SnapshotTable(root, 4) // distinct handle = distinct writerId
      val orphan = a.manifest.get.copy(version = 1L, parentVersion = 0L,
        fences = Map("dead" -> 1L), writerId = "dead-writer")
      val mp = Paths.get(root, "manifests", "v1.json")
      Files.write(mp, Manifest.toJson(orphan, Nil, checkpoint = true).getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(mp, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 2 * a.orphanClaimTtlMs))

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

  test("two threads on one SHARED handle cannot both win a version") {
    // Regression for the shared-handle lost update: both threads carry
    // the same writerId, so without per-handle serialization the second
    // claimer reads the first's mid-publish claim as its OWN resumable
    // attempt and atomically replaces it — both report success, one
    // writer's manifest content is silently gone. 20 interleaving trials;
    // the invariant must hold on every schedule.
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
