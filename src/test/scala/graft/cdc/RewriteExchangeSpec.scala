package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** One exchange per rewrite: compact and purge move the table's rows
  * through ONE range exchange on (_bucket, doc_id), which both arranges
  * each doc's rows for the last-LSN-wins pick and lays out the clustered
  * base files — every bucket's files cover disjoint key ranges, and the
  * read still equals the sequential fold.
  */
class RewriteExchangeSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = ChangelogGen.Config(numEvents = 8000, numDocs = 2000, numFiles = 4)

  private lazy val logDir: String = {
    val d = tmpDir("rx-log").toString
    ChangelogGen.writeLog(spark, cfg, d)
    d
  }

  /** The replayed log as delta files only, over 8 buckets. */
  private def deltaTable(name: String): SnapshotTable = {
    val t = IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir, tableDir = tmpDir(s"rx-$name").toString,
      checkpointDir = tmpDir(s"rx-$name-ckpt").toString,
      maxFilesPerTrigger = Some(2), numBuckets = 8, compaction = CompactionPolicy.Never))
    assert(t.manifest.get.files.forall(_.isDelta))
    t
  }

  /** The exchanges the table's rows cross: those with a file scan below
    * them (a shuffle or broadcast of the purge's key list moves no row).
    */
  private def rowExchanges(plans: Seq[SparkPlan]): Seq[Exchange] =
    plans.flatMap(SparkSpec.nodes).collect {
      case e: Exchange if SparkSpec.nodes(e.child).exists(_.isInstanceOf[FileSourceScanExec]) => e
    }

  private def assertOneRangeExchange(plans: Seq[SparkPlan]): Unit = {
    val xs = rowExchanges(plans)
    assert(xs.size === 1, s"${xs.size} exchanges:\n${plans.mkString("\n")}")
    assert(xs.head.outputPartitioning.isInstanceOf[RangePartitioning], s"${xs.head}")
  }

  private def assertDisjointPerBucket(t: SnapshotTable): Unit = {
    val bases = t.manifest.get.files.filterNot(_.isDelta)
    assert(bases.nonEmpty && bases.size === t.manifest.get.files.size, "deltas left")
    bases.groupBy(_.bucket).foreach { case (b, fs) =>
      fs.sortBy(_.minKey).sliding(2).foreach {
        case Seq(a, c) =>
          assert(FileEntry.utf8Leq(a.maxKey, c.minKey) && a.maxKey != c.minKey,
            s"bucket $b: [${a.minKey},${a.maxKey}] overlaps [${c.minKey},${c.maxKey}]")
        case _ => ()
      }
    }
  }

  private def fold = FoldOracle.finalState(spark, ChangelogGen.events(spark, cfg))

  test("compact runs one range exchange; buckets' files are disjoint; read equals the fold") {
    val t = deltaTable("compact")
    // a small target splits buckets into several files
    val (plans, v) = plansOf(MergeEngine.compact(spark, t, targetFileBytes = 16L << 10))
    assert(v.nonEmpty)
    assertOneRangeExchange(plans)
    assert(t.manifest.get.files.groupBy(_.bucket).exists(_._2.size > 1), "no bucket split")
    assertDisjointPerBucket(t)
    assert(FoldOracle.diff(t.read(spark), fold) === ((0L, 0L)))
  }

  test("purgeKeys runs one range exchange; buckets' files are disjoint; read equals the fold") {
    val t = deltaTable("purge")
    val keys = t.read(spark).select("doc_id").orderBy("doc_id").as[String].collect()
      .grouped(97).map(_.head).toSeq
    val (plans, res) = plansOf(MergeEngine.purgeKeys(spark, t, keys.toDF("doc_id")))
    assert(res.nonEmpty)
    assertOneRangeExchange(plans)
    assertDisjointPerBucket(t)
    assert(FoldOracle.diff(t.read(spark), fold.filter(!col("doc_id").isin(keys: _*))) ===
      ((0L, 0L)))
  }
}
