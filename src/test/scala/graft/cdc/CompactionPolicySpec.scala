package graft.cdc

import graft.SparkSpec

/** Size-based compaction: the long-run guarantee that a sustained stream
  * of tiny epochs cannot pile up delta files (read amplification stays
  * bounded per bucket), plus target-file-size splitting on rewrite.
  */
class CompactionPolicySpec extends SparkSpec {

  private def replayLog(events: Long, docs: Long, files: Int): String = {
    val logDir = tmpDir("cpol-log").toString
    ChangelogGen.writeLog(spark,
      ChangelogGen.Config(numEvents = events, numDocs = docs, numFiles = files), logDir)
    logDir
  }

  test("maxCoverage counts overlapping delta ranges per bucket") {
    def delta(lo: Int, hi: Int) =
      FileEntry("p", -1, 0, 0, 1, FileEntry.Delta, lo, hi)
    val p = CompactionPolicy()
    assert(p.maxCoverage(Seq.empty, 8) == 0)
    assert(p.maxCoverage(Seq(delta(0, 7)), 8) == 1)
    // [0,3] [2,5] [2,2] overlap at bucket 2-3 → 3; base file adds its own bucket
    val mixed = Seq(delta(0, 3), delta(2, 5), delta(2, 2))
    assert(p.maxCoverage(mixed, 8) == 3)
    // unbounded legacy range clamps to numBuckets
    assert(p.maxCoverage(Seq(delta(0, Int.MaxValue), delta(7, Int.MaxValue)), 8) == 2)
  }

  test("long run of tiny epochs: per-bucket delta coverage stays within the policy bound") {
    val logDir = replayLog(events = 20000, docs = 4000, files = 10)
    val bound = 3
    val tableDir = tmpDir("cpol-table").toString
    IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir, tableDir = tableDir,
      checkpointDir = tmpDir("cpol-ckpt").toString,
      maxFilesPerTrigger = Some(1), // one log file per epoch → 10+ epochs
      numBuckets = 8,
      compaction = CompactionPolicy(
        maxDeltaBytes = Long.MaxValue, maxDeltaFilesPerBucket = bound)))

    val table = new SnapshotTable(tableDir, 8)
    val cur = table.currentVersion.get
    // Every COMMITTED snapshot in the run's history obeys the bound: the
    // merge that reaches `bound` is the peak, and the compaction that
    // follows it commits before the next epoch's merge.
    val peak = (0L to cur).map { v =>
      val m = table.manifestAt(v)
      CompactionPolicy().maxCoverage(m.files.filter(_.isDelta), m.numBuckets)
    }.max
    assert(peak <= bound, s"read amplification exceeded the policy bound: $peak > $bound")
    // and compaction genuinely fired (history contains non-merge commits:
    // more versions than epochs+init)
    val epochs = table.manifest.get.fences.values.max + 1
    assert(cur > epochs, s"no compaction commit in $cur versions over $epochs epochs")
    // commit metadata now records file bytes (drives the byte trigger)
    assert(table.manifest.get.files.forall(_.bytes > 0))
    // state unchanged by maintenance: replay equality vs a never-compacting run
    val never = tmpDir("cpol-never").toString
    IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir, tableDir = never,
      checkpointDir = tmpDir("cpol-never-ckpt").toString,
      maxFilesPerTrigger = Some(1), numBuckets = 8,
      compaction = CompactionPolicy.Never))
    val (a, b) = FoldOracle.diff(table.read(spark), new SnapshotTable(never, 8).read(spark))
    assert(a == 0 && b == 0, s"compaction changed table state: +$a -$b")
  }

  test("control: without the policy the same run exceeds the bound (trigger is load-bearing)") {
    val logDir = replayLog(events = 20000, docs = 4000, files = 10)
    val tableDir = tmpDir("cpol-ctl").toString
    IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir, tableDir = tableDir,
      checkpointDir = tmpDir("cpol-ctl-ckpt").toString,
      maxFilesPerTrigger = Some(1), numBuckets = 8,
      compaction = CompactionPolicy.Never))
    val m = new SnapshotTable(tableDir, 8).manifest.get
    val cov = CompactionPolicy().maxCoverage(m.files.filter(_.isDelta), m.numBuckets)
    assert(cov > 3, s"control run unexpectedly clean (coverage $cov) — test is vacuous")
  }

  test("byte trigger: tiny maxDeltaBytes compacts every epoch (final table base-only)") {
    val logDir = replayLog(events = 5000, docs = 1000, files = 4)
    val tableDir = tmpDir("cpol-bytes").toString
    IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir, tableDir = tableDir,
      checkpointDir = tmpDir("cpol-bytes-ckpt").toString,
      maxFilesPerTrigger = Some(1), numBuckets = 8,
      compaction = CompactionPolicy(maxDeltaBytes = 1, maxDeltaFilesPerBucket = Int.MaxValue)))
    val m = new SnapshotTable(tableDir, 8).manifest.get
    assert(m.files.forall(!_.isDelta), "byte trigger did not drain deltas")
  }

  test("rewrite honors targetFileBytes: small target splits, large target coalesces") {
    def build(target: Long): Seq[FileEntry] = {
      val tableDir = tmpDir(s"cpol-tfb-$target").toString
      IngestJob.replay(spark, IngestJob.Config(
        logDir = replayLog(events = 30000, docs = 30000, files = 2),
        tableDir = tableDir,
        checkpointDir = tmpDir(s"cpol-tfb-ckpt-$target").toString,
        numBuckets = 4, compaction = CompactionPolicy.Never))
      MergeEngine.compact(spark, new SnapshotTable(tableDir, 4), targetFileBytes = target)
      new SnapshotTable(tableDir, 4).manifest.get.files
    }
    val small = build(64L << 10) // 64 KiB
    val large = build(1L << 30)  // 1 GiB
    assert(small.size > large.size,
      s"no size-driven splitting: ${small.size} files at 64KiB target vs ${large.size} at 1GiB")
    // estimation slack: delta bytes/row (extra _op column, encoding drift
    // at tiny file sizes) vs rewritten base — allow 4x
    val worst = small.map(_.bytes).max
    assert(worst <= (64L << 10) * 4,
      s"a rewritten file blew past the target: $worst bytes for a 64KiB target")
  }
}
