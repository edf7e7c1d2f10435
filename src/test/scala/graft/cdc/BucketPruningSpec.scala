package graft.cdc

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** File-level bucket metadata end-to-end: a bucket-targeted MOR epoch
  * produces narrow-range delta files, compaction rewrites only the dirty
  * buckets' base files (O(dirty buckets), not O(table)), the read path
  * reconciles only dirty buckets, and manifest-pruned reads skip clean
  * files entirely.
  */
class BucketPruningSpec extends SparkSpec {

  /** Ingest a broad epoch (all buckets), compact to base-only, then merge
    * a batch confined to ONE bucket. Returns (table, that bucket).
    */
  private def tableWithTargetedDelta(): (SnapshotTable, Int) = {
    import spark.implicits._
    val cfg = ChangelogGen.Config(numEvents = 8000, numDocs = 1500, numFiles = 4)
    val logDir = tmpDir("log")
    ChangelogGen.writeLog(spark, cfg, logDir.toString)
    val table = IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir.toString,
      tableDir = tmpDir("table").toString,
      checkpointDir = tmpDir("ckpt").toString,
      numBuckets = 16))
    MergeEngine.compact(spark, table)
    assert(!table.manifest.get.files.exists(_.isDelta))

    // pick a doc_id and find its bucket, then send an update batch of
    // ONLY doc_ids hashing to that same bucket
    val n = table.manifest.get.numBuckets
    val docs = table.read(spark).select($"doc_id")
      .withColumn("b", SnapshotTable.bucketOf($"doc_id", n))
    val target = docs.groupBy("b").count().orderBy(desc("count")).head().getInt(0)
    val targetDocs = docs.filter($"b" === target).limit(50).select("doc_id")
    val batch = targetDocs
      .withColumn("lsn", lit(10000000L) + monotonically_increasing_id())
      .withColumn("partition", lit(0))
      .withColumn("op", lit(Model.OpUpdate))
      // token 999999 is outside ChangelogGen's vocab (50257) — a
      // collision-proof marker for "row came from the targeted batch"
      .withColumn("tokens", array(lit(999999), lit(2), lit(3)))
      .withColumn("n_tok", lit(3))
      .withColumn("source", lit("web"))
    MergeEngine.merge(spark, table, batch, "targeted", 0L)
    (table, target)
  }

  test("bucket-targeted epoch yields narrow delta ranges; compact rewrites only that bucket") {
    val (table, target) = tableWithTargetedDelta()
    val m = table.manifest.get
    val deltas = m.files.filter(_.isDelta)
    assert(deltas.nonEmpty)
    assert(deltas.forall(f => f.bucketLo == target && f.bucketHi == target),
      s"expected single-bucket delta range [$target,$target], got " +
        deltas.map(f => (f.bucketLo, f.bucketHi)).mkString(","))

    val before = table.read(spark).orderBy("doc_id").collect()
    val basePathsBefore = m.files.filterNot(_.isDelta).map(f => f.bucket -> f.path)
    MergeEngine.compact(spark, table)
    val m2 = table.manifest.get
    assert(!m2.files.exists(_.isDelta), "compaction left deltas")
    val basePathsAfter = m2.files.map(f => f.bucket -> f.path)
    // every clean bucket's files carried forward untouched; target rewritten
    val carriedClean = basePathsBefore.filter(_._1 != target).toSet
    assert(carriedClean.subsetOf(basePathsAfter.toSet),
      "compaction rewrote files of clean buckets")
    assert(!basePathsBefore.filter(_._1 == target).toSet.subsetOf(basePathsAfter.toSet),
      "target bucket was not rewritten")
    // state unchanged by compaction
    val after = table.read(spark).orderBy("doc_id").collect()
    assert(before.sameElements(after), "compaction changed table state")
  }

  test("read path reconciles only dirty buckets (clean base files scan straight through)") {
    val (table, target) = tableWithTargetedDelta()
    import spark.implicits._
    val n = table.manifest.get.numBuckets
    // updated docs must surface the new payload without a full-table shuffle
    val updated = table.read(spark)
      .filter(SnapshotTable.bucketOf($"doc_id", n) === target)
      .filter(array_contains($"tokens", 999999))
    assert(updated.count() == 50, "targeted updates not visible through MOR read")
    // total row count unchanged (updates, no inserts/deletes)
    val plan = table.read(spark).queryExecution.executedPlan.toString
    // exactly one Exchange subtree (the dirty-bucket reconcile); the clean
    // union branch must be shuffle-free
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"clean buckets appear to shuffle too:\n$plan")
  }

  test("manifest-pruned read skips clean files and honors an LSN floor") {
    val (table, target) = tableWithTargetedDelta()
    val m = table.manifest.get
    val other = (0 until m.numBuckets).find(b => b != target && m.files.exists(_.bucket == b)).get

    // bucket pruning: selecting one clean bucket reads only its files
    val pruned = table.pruneEntries(m, Some(Set(other)), Long.MinValue)
    assert(pruned.nonEmpty && pruned.size < m.files.size,
      s"no file-skipping: ${pruned.size} of ${m.files.size}")
    assert(pruned.forall(f => f.covers(other)))

    // result equality vs filtering the full read
    import spark.implicits._
    val n = m.numBuckets
    val got = table.readBuckets(spark, Set(other)).drop(Model.LsnCol)
    val want = table.read(spark).filter(SnapshotTable.bucketOf($"doc_id", n) === other)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // LSN floor: only the targeted batch (lsn >= 10M) survives, and the
    // clean bucket's files are all skipped by their maxLsn
    val changed = table.readBuckets(spark, Set(target, other), minLsn = 10000000L)
    assert(changed.count() == 50)
    val prunedLsn = table.pruneEntries(m, Some(Set(target, other)), 10000000L)
    assert(prunedLsn.forall(_.maxLsn >= 10000000L))
    assert(prunedLsn.size < table.pruneEntries(m, Some(Set(target, other)), Long.MinValue).size,
      "LSN floor skipped no files")
  }
}
