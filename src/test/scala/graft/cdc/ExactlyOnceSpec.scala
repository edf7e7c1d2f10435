package graft.cdc

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Exactly-once fault tests (SURVEY.md §5.2 item 3): epoch re-delivery,
  * kill/restart from checkpoint, and full source re-replay must never
  * change the final state.
  */
class ExactlyOnceSpec extends SparkSpec {

  private val cfg = ChangelogGen.Config(numEvents = 4000, numDocs = 600, numFiles = 8)

  test("re-delivered epoch is a no-op (fence)") {
    val logDir = tmpDir("log"); val tableDir = tmpDir("table")
    ChangelogGen.writeLog(spark, cfg, logDir.toString)
    val table = new SnapshotTable(tableDir.toString, 8)
    table.init(Model.tokenDocSchema)

    val batch = spark.read.schema(Model.changeEventSchema).parquet(logDir.toString)
    val r1 = MergeEngine.merge(spark, table, batch, "q", epochId = 0)
    assert(r1.applied)
    val v1 = table.currentVersion.get
    val rows1 = table.read(spark).collect().map(_.toString).sorted

    // foreachBatch replay: same (queryId, epochId) delivered again
    val r2 = MergeEngine.merge(spark, table, batch, "q", epochId = 0)
    assert(!r2.applied, "replayed epoch must be fenced")
    assert(table.currentVersion.get == v1, "no new snapshot on replay")
    assert(table.read(spark).collect().map(_.toString).sorted.sameElements(rows1))
  }

  test("kill mid-stream, resume from checkpoint → state equals fold oracle") {
    val logDir = tmpDir("log"); val tableDir = tmpDir("table"); val ckpt = tmpDir("ckpt")
    val full = tmpDir("fulllog")
    ChangelogGen.writeLog(spark, cfg, full.toString)
    val sorted = {
      import scala.jdk.CollectionConverters._
      Files.list(full).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    }

    // deliver only the first half of the log, run to completion ("crash"
    // = the stream simply stops; checkpoint holds consumed offsets)
    Files.createDirectories(logDir)
    sorted.take(sorted.size / 2).foreach { p =>
      Files.copy(p, logDir.resolve(p.getFileName.toString),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val ingCfg = IngestJob.Config(
      logDir = logDir.toString, tableDir = tableDir.toString,
      checkpointDir = ckpt.toString, maxFilesPerTrigger = Some(2), numBuckets = 8)
    IngestJob.replay(spark, ingCfg)
    val midRows = new SnapshotTable(tableDir.toString, 8).read(spark).count()
    assert(midRows > 0)

    // deliver the rest, restart from the same checkpoint
    sorted.drop(sorted.size / 2).foreach { p =>
      Files.copy(p, logDir.resolve(p.getFileName.toString),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val table = IngestJob.replay(spark, ingCfg)

    val want = FoldOracle.finalState(spark, ChangelogGen.events(spark, cfg))
    val (a, b) = FoldOracle.diff(table.read(spark), want)
    assert(a == 0 && b == 0, s"resume mismatch: +$a -$b")
  }

  test("fresh checkpoint + reused queryId fails loudly; the table is unchanged") {
    val logDir = tmpDir("log"); val tableDir = tmpDir("table")
    ChangelogGen.writeLog(spark, cfg, logDir.toString)
    val logFiles = graft.util.Tables.listClosed(logDir)(
      _.count(_.getFileName.toString.endsWith(".parquet")))
    val ing = IngestJob.Config(
      logDir = logDir.toString, tableDir = tableDir.toString,
      checkpointDir = tmpDir("ckpt1").toString, numBuckets = 8,
      maxFilesPerTrigger = Some((logFiles + 1) / 2))
    val table = IngestJob.replay(spark, ing)
    assert(table.manifest.get.fences(ing.queryId) === 1L, "fixture runs two triggers")
    val v = table.currentVersion.get
    val rows = table.read(spark).collect().map(_.toString).sorted

    // same queryId, new checkpoint: batch ids restart at 0, below the fence
    val restarted = IngestJob.start(spark, ing.copy(checkpointDir = tmpDir("ckpt2").toString))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      restarted.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(ex).exists(_.contains("below the committed fence")), messages(ex))
    assert(table.currentVersion.get === v, "a refused batch must commit nothing")
    assert(table.read(spark).collect().map(_.toString).sorted.sameElements(rows))
  }

  test("full re-replay with fresh checkpoint → watermark filter absorbs everything") {
    val logDir = tmpDir("log"); val tableDir = tmpDir("table")
    ChangelogGen.writeLog(spark, cfg, logDir.toString)
    val ing1 = IngestJob.Config(
      logDir = logDir.toString, tableDir = tableDir.toString,
      checkpointDir = tmpDir("ckpt1").toString, numBuckets = 8, queryId = "run1")
    val table = IngestJob.replay(spark, ing1)
    val v1 = table.currentVersion.get
    val rows1 = table.read(spark).collect().map(_.toString).sorted

    // operator re-points a NEW query at the same source from offset zero:
    // every event is ≤ the per-partition watermark → fence-only commits,
    // zero rows rewritten
    val ing2 = ing1.copy(checkpointDir = tmpDir("ckpt2").toString, queryId = "run2")
    IngestJob.replay(spark, ing2)
    val m = table.manifest.get
    assert(table.read(spark).collect().map(_.toString).sorted.sameElements(rows1))
    val run2 = m.metrics.filter(_.queryId == "run2")
    assert(run2.nonEmpty && run2.forall(e => e.rowsWritten == 0 && e.upserts == 0),
      "re-replay must be metadata-only")
    assert(run2.map(_.belowWatermark).sum == run2.map(_.eventsIn).sum)
  }
}
