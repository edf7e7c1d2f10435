package graft.cdc

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The north-star correctness gate (BASELINE.json:6): full streaming
  * replay of a generated changelog must reproduce the sequential-fold
  * oracle byte-for-byte, including element-wise token-array equality.
  */
class ReplayEqualitySpec extends SparkSpec {

  test("full replay equals sequential fold oracle (zipf skew, dups, I/U/D; both modes)") {
    val cfg = ChangelogGen.Config(numEvents = 20000, numDocs = 3000, numFiles = 8)
    val logDir = tmpDir("log")
    ChangelogGen.writeLog(spark, cfg, logDir.toString)
    val want = FoldOracle.finalState(spark, ChangelogGen.events(spark, cfg))

    // two compaction modes: every 3rd epoch (base + deltas mid-stream),
    // or every epoch (the table is base-only after each one)
    for (every <- Seq(3, 1)) {
      val table = IngestJob.replay(spark, IngestJob.Config(
        logDir = logDir.toString,
        tableDir = tmpDir(s"table-$every").toString,
        checkpointDir = tmpDir(s"ckpt-$every").toString,
        maxFilesPerTrigger = Some(2), // several epochs, not one
        compaction = CompactionPolicy.counter(every)))

      val got = table.read(spark)
      assert(got.columns.toSeq == Seq("doc_id", "tokens", "n_tok", "source"))
      val (onlyGot, onlyWant) = FoldOracle.diff(got, want)
      assert(onlyGot == 0 && onlyWant == 0,
        s"every=$every replay != fold oracle: +$onlyGot only in engine, -$onlyWant only in oracle")

      // dbt-test analogs (FIXTURES.md §2): unique + not-null keys, invariants
      assert(got.groupBy("doc_id").count().filter(col("count") > 1).isEmpty, "doc_id not unique")
      assert(got.filter(col("doc_id").isNull || col("tokens").isNull ||
        col("n_tok").isNull || col("source").isNull).isEmpty, "null payload")
      assert(got.filter(col("n_tok") =!= size(col("tokens"))).isEmpty, "n_tok != size(tokens)")
      assert(got.filter(!col("source").isin("web", "books", "code", "wiki")).isEmpty)
      assert(got.filter(!col("n_tok").between(1, 8192)).isEmpty)

      if (every == 1) {
        assert(!table.manifest.get.files.exists(_.isDelta), "per-epoch compaction left deltas")
      } else {
        // final compaction: all deltas fold into base files, state unchanged
        MergeEngine.compact(spark, table)
        assert(!table.manifest.get.files.exists(_.isDelta), "compaction left deltas")
        val (a2, b2) = FoldOracle.diff(table.read(spark), want)
        assert(a2 == 0 && b2 == 0, "compaction changed table state")
      }
    }
  }

  test("duplicate re-delivery is absorbed (metrics account for every event)") {
    val cfg = ChangelogGen.Config(numEvents = 5000, numDocs = 800, numFiles = 6, dupPerMille = 100)
    val logDir = tmpDir("log")
    ChangelogGen.writeLog(spark, cfg, logDir.toString)

    val table = IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir.toString,
      tableDir = tmpDir("table").toString,
      checkpointDir = tmpDir("ckpt").toString,
      maxFilesPerTrigger = Some(1)))

    val m = table.manifest.get
    val nDups = ChangelogGen.duplicates(spark, cfg).count()
    val ms = m.metrics
    assert(ms.map(_.eventsIn).sum == cfg.numEvents + nDups, "every event seen")
    assert(ms.map(m => m.belowWatermark + m.collapsedInBatch).sum >= nDups,
      "all re-deliveries dropped by level 1+2")
    // lineage: per-partition watermark == max lsn routed to that partition
    val wantWm = ChangelogGen.events(spark, cfg)
      .groupBy("partition").agg(max("lsn")).collect()
      .map(r => r.getInt(0).toString -> r.getLong(1)).toMap
    assert(m.watermarks == wantWm, "per-partition lineage watermarks")
  }
}
