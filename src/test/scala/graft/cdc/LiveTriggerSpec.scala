package graft.cdc

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger

/** The live (ProcessingTime) trigger path of IngestJob — the reference's
  * actual production trigger (fraud_detector.py:309, processingTime="5
  * seconds"); every other spec replays with AvailableNow. Covers: start
  * against a partial log, feed new files while the query is RUNNING,
  * fences/watermarks advance per micro-batch, clean stop.
  */
class LiveTriggerSpec extends SparkSpec {

  private val cols = Seq("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source", "ts")

  private def ev(lsn: Long, part: Int, doc: String, toks: Seq[Int]) =
    (lsn, part, Model.OpInsert, doc, toks, toks.size, "web",
      null.asInstanceOf[java.sql.Timestamp])

  test("ProcessingTime trigger: fences advance as log files arrive while running; clean stop") {
    import spark.implicits._
    val work = tmpDir("live")
    val logDir = work.resolve("log")
    Files.createDirectories(logDir)
    val t0 = System.currentTimeMillis()
    ChangelogGen.writeSingleFile(
      Seq(ev(1, 0, "a", Seq(1, 2)), ev(2, 1, "b", Seq(3))).toDF(cols: _*),
      logDir, "chunk-00000.parquet", Some(t0))

    val cfg = IngestJob.Config(
      logDir = logDir.toString,
      tableDir = work.resolve("table").toString,
      checkpointDir = work.resolve("ckpt").toString,
      numBuckets = 4,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    val q = IngestJob.start(spark, cfg)
    val table = new SnapshotTable(cfg.tableDir, 4)
    try {
      q.processAllAvailable()
      assert(table.read(spark).count() == 2)
      val fence1 = table.manifest.get.fences(cfg.queryId)
      val wm1 = table.manifest.get.watermarks

      // feed the RUNNING query two more events (one update, one new doc)
      ChangelogGen.writeSingleFile(
        Seq(ev(3, 0, "a", Seq(9, 9, 9)), ev(4, 1, "c", Seq(4))).toDF(cols: _*),
        logDir, "chunk-00001.parquet", Some(t0 + 1500L))
      q.processAllAvailable()

      val m2 = table.manifest.get
      assert(m2.fences(cfg.queryId) > fence1,
        s"epoch fence did not advance: ${m2.fences(cfg.queryId)} <= $fence1")
      assert(m2.watermarks("0") > wm1("0") && m2.watermarks("1") > wm1("1"),
        s"per-partition watermarks did not advance: $wm1 -> ${m2.watermarks}")
      val rows = table.read(spark).orderBy("doc_id").collect()
      assert(rows.length == 3)
      assert(rows.head.getSeq[Int](rows.head.fieldIndex("tokens")).toList == List(9, 9, 9),
        "live update not applied")
    } finally q.stop()
    q.awaitTermination(10000)
    assert(!q.isActive, "query did not stop cleanly")
  }
}
