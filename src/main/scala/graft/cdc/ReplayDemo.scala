package graft.cdc

import org.apache.spark.sql.SparkSession

/** End-to-end drive of the CDC engine: generate a changelog, stream-replay
  * it into a snapshot table, print lineage/metrics, and check the result
  * against the sequential fold oracle.
  *
  * Usage: runMain graft.cdc.ReplayDemo [numEvents] [numDocs] [workDir]
  *
  * Without `workDir` the run works in a fresh temp dir and deletes it
  * before it exits, whatever the outcome.
  */
object ReplayDemo {
  def main(args: Array[String]): Unit = {
    val numEvents = args.lift(0).map(_.toLong).getOrElse(100000L)
    val numDocs = args.lift(1).map(_.toLong).getOrElse(15000L)
    val named = args.lift(2)
    val work = named.getOrElse(java.nio.file.Files.createTempDirectory("graft-replay").toString)
    val ok = try run(numEvents, numDocs, work)
      finally if (named.isEmpty) graft.util.Tables.deleteRecursively(work)
    if (!ok) sys.exit(1)
  }

  /** The demo over `work`; true iff the table equals the fold oracle. */
  private def run(numEvents: Long, numDocs: Long, work: String): Boolean = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-replay-demo")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = ChangelogGen.Config(numEvents = numEvents, numDocs = numDocs, numFiles = 16)
    println(s"[demo] writing changelog: $numEvents events, $numDocs docs → $work/log")
    ChangelogGen.writeLog(spark, cfg, s"$work/log")

    val t0 = System.nanoTime()
    val table = IngestJob.replay(spark, IngestJob.Config(
      logDir = s"$work/log",
      tableDir = s"$work/table",
      checkpointDir = s"$work/ckpt",
      maxFilesPerTrigger = Some(4),
      numBuckets = 16))
    val secs = (System.nanoTime() - t0) / 1e9

    val m = table.manifest.get
    println(f"[demo] replay done in $secs%.1f s  (${(numEvents / secs)}%.0f events/s end-to-end)")
    println(s"[demo] snapshot v${m.version}: ${m.files.size} files, " +
      s"${m.files.map(_.rows).sum} rows, watermarks=${m.watermarks.toSeq.sortBy(_._1)}")
    m.metrics.takeRight(3).foreach(e => println(s"[demo] epoch ${e.epochId}: in=${e.eventsIn} " +
      s"belowWm=${e.belowWatermark} collapsed=${e.collapsedInBatch} upserts=${e.upserts} " +
      s"deletes=${e.deletes} rows=${e.rowsWritten} buckets=${e.touchedBuckets}"))

    table.read(spark).show(5, truncate = 60)

    val want = FoldOracle.finalState(spark, ChangelogGen.events(spark, cfg))
    val (a, b) = FoldOracle.diff(table.read(spark), want)
    println(s"[demo] fold-oracle diff: onlyEngine=$a onlyOracle=$b " +
      (if (a == 0 && b == 0) "OK" else "MISMATCH"))
    spark.stop()
    a == 0 && b == 0
  }
}
