package graft.cdc

import graft.SparkSpec

/** Property-based merge laws (SURVEY.md §5.2 item 5): for random I/U/D
  * interleavings split into arbitrary batches, engine merge == sequential
  * fold; re-merging a replayed suffix is idempotent. (Self-driven
  * deterministic draws — scalatestplus-scalacheck isn't in the offline
  * cache, so the property loop is explicit.)
  */
class MergePropertySpec extends SparkSpec {

  private def mkEvents(n: Int, nDocs: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val doc = s"doc-${rnd.nextInt(nDocs)}"
      val op = rnd.nextInt(10) match {
        case 0 | 1 => Model.OpDelete
        case 2 | 3 | 4 => Model.OpUpdate
        case _ => Model.OpInsert
      }
      val nTok = 1 + rnd.nextInt(8)
      val toks = Array.fill(nTok)(rnd.nextInt(50257))
      ChangeEvent(
        lsn = i.toLong,
        partition = math.abs(doc.hashCode) % 3,
        op = op,
        doc_id = doc,
        tokens = if (op == Model.OpDelete) null else toks,
        n_tok = nTok,
        source = Seq("web", "books", "code", "wiki")(rnd.nextInt(4)),
        ts = new java.sql.Timestamp(1700000000000L + i))
    }
  }

  private val cases: Seq[(Int, Int, Long, Int)] = {
    val r = new scala.util.Random(4242L)
    (1 to 12).map(_ => (20 + r.nextInt(140), 2 + r.nextInt(23), r.nextLong(10000L), 1 + r.nextInt(5)))
  }

  test("merge(batched log) == fold(log) for random interleavings; replay suffix is no-op") {
    import spark.implicits._
    cases.foreach { case (n, nDocs, seed, nBatches) =>
      val evs = mkEvents(n, nDocs, seed)
      val table = new SnapshotTable(tmpDir("ptable").toString, 4)
      table.init(Model.tokenDocSchema)

      val per = math.max(1, n / nBatches)
      val batches = evs.grouped(per).toSeq
      batches.zipWithIndex.foreach { case (b, i) =>
        MergeEngine.merge(spark, table, b.toDF(), "prop", i.toLong)
      }

      val want = FoldOracle.finalState(spark, evs.toDF())
      val (a, b) = FoldOracle.diff(table.read(spark), want)
      assert(a == 0 && b == 0, s"n=$n docs=$nDocs seed=$seed batches=$nBatches: +$a -$b")

      // duplicate-delivery idempotence: replay the last batch as a fresh
      // epoch — watermark filter must absorb it entirely
      val v = table.currentVersion.get
      MergeEngine.merge(spark, table, batches.last.toDF(), "prop", batches.size.toLong)
      val (a2, b2) = FoldOracle.diff(table.read(spark), want)
      assert(a2 == 0 && b2 == 0, "suffix replay changed state")
      val last = table.manifest.get.metrics.last
      assert(last.rowsWritten == 0 && last.upserts == 0, "suffix replay not metadata-only")
    }
  }

  test("saltedPreDedup hot-key pre-combine is state-equivalent to the plain path") {
    import spark.implicits._
    // duplicate-heavy, few docs — the storm the salted two-phase
    // per-(key, salt) max-LSN pre-combine exists for; both paths must
    // land the identical final state
    cases.take(4).foreach { case (n, _, seed, nBatches) =>
      val evs = mkEvents(n * 3, nDocs = 3, seed)
      val per = math.max(1, evs.size / math.max(1, nBatches))
      val batches = evs.grouped(per).toSeq

      def run(salted: Boolean): org.apache.spark.sql.DataFrame = {
        val t = new SnapshotTable(tmpDir(s"salt-$salted").toString, 4)
        t.init(Model.tokenDocSchema)
        batches.zipWithIndex.foreach { case (b, i) =>
          MergeEngine.merge(spark, t, b.toDF(), "salt", i.toLong, saltedPreDedup = salted)
        }
        t.read(spark)
      }

      val (a, b) = FoldOracle.diff(run(salted = true), run(salted = false))
      assert(a == 0 && b == 0, s"salted pre-dedup diverged: +$a -$b (seed=$seed)")
    }
  }
}
