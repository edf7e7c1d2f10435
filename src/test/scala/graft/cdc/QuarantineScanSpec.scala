package graft.cdc

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The ingest loop must not multiply source I/O. foreachBatch hands the
  * sink an RDD-backed frame, so every action on it re-runs the full file
  * read — and one epoch takes 2 actions (stats job + write), 3 with the
  * quarantine split. The log-tail loop persists every batch, so the
  * split's extra action reads the cache, not the log.
  *
  * Plan inspection cannot see this (the read hides inside LogicalRDD
  * recomputation), so the spec measures what actually matters: bytes read
  * through the local filesystem, via Hadoop's global per-scheme storage
  * statistics — local[n] runs every task in this JVM, so the counter
  * captures executor-side reads too.
  */
class QuarantineScanSpec extends SparkSpec {

  private def fileBytesRead(): Long =
    FileSystem.getGlobalStorageStatistics.get("file") match {
      case null => 0L
      case s => Option(s.getLong("bytesRead")).map(_.longValue).getOrElse(0L)
    }

  /** A changelog where ~1/7 of events violate the n_tok == size(tokens)
    * invariant (quarantined by the ingest validity predicate).
    */
  private def makeLog(marker: String): String = {
    val staging = tmpDir(s"$marker-staging")
    ChangelogGen.writeLog(spark,
      ChangelogGen.Config(numEvents = 6000, numDocs = 1200, numFiles = 3), staging.toString)
    val out = tmpDir(marker).resolve("log").toString
    spark.read.parquet(staging.toString)
      .withColumn("n_tok",
        when(pmod(col("lsn"), lit(7L)) === 0, col("n_tok") + 1).otherwise(col("n_tok")))
      .repartition(3)
      .write.parquet(out)
    out
  }

  /** Bytes read from disk during a replay, with or without quarantine. */
  private def measuredReplay(logDir: String, marker: String, quarantine: Boolean): (Long, String, String) = {
    val tableDir = tmpDir(s"$marker-table").toString
    val quarDir = tmpDir(s"$marker-quar").toString
    val before = fileBytesRead()
    IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir, tableDir = tableDir,
      checkpointDir = tmpDir(s"$marker-ckpt").toString,
      maxFilesPerTrigger = Some(1),
      numBuckets = 4,
      quarantineDir = Option.when(quarantine)(quarDir),
      compaction = CompactionPolicy.Never))
    (fileBytesRead() - before, tableDir, quarDir)
  }

  test("the quarantine split reads the cached batch, not the log again") {
    val logDir = makeLog("qscan")
    // warm the path once so JIT/footer-cache effects don't skew the pair
    measuredReplay(logDir, "qscan-warm", quarantine = true)

    val (bytesSplit, tableDir, quarDir) = measuredReplay(logDir, "qscan-on", quarantine = true)
    val (bytesPlain, _, _) = measuredReplay(logDir, "qscan-off", quarantine = false)

    // Identical log, identical merge: the split's third action per epoch
    // must read the cache. Re-reading the log would add half again the
    // plain replay's 2 reads per epoch (~1.5x); the 1.25x bound leaves
    // room for fixed overheads like checkpoint and footer reads.
    assert(bytesSplit > 0 && bytesPlain > 0, s"counter dead: $bytesSplit / $bytesPlain")
    val ratio = bytesSplit.toDouble / bytesPlain
    info(f"file bytes read: split $bytesSplit%d, plain $bytesPlain%d (ratio $ratio%.2f)")
    assert(ratio <= 1.25,
      f"the quarantine split re-read the log: split $bytesSplit%d vs plain $bytesPlain%d (ratio $ratio%.2f)")

    // the split is semantically intact: invalid rows landed in quarantine
    // only, valid rows in the table only
    val quarantined = spark.read.parquet(quarDir)
    assert(quarantined.count() > 0)
    assert(quarantined.filter(col("n_tok") === size(col("tokens"))).count() == 0)
    val table = new SnapshotTable(tableDir, 4).read(spark)
    assert(table.count() > 0)
    assert(table.filter(col("n_tok") =!= size(col("tokens"))).count() == 0)
  }
}
