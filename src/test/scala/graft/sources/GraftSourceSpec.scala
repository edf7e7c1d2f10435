package graft.sources

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.cdc.{ChangelogGen, IngestJob, MergeEngine, Model, SnapshotTable}

/** `format("graft")` data source: reads must equal the library read path
  * (current, changed-since floor, time travel), column pruning must reach
  * the underlying parquet scan, and the `_lsn` floor must be PUSHED — both
  * visible in the scan node and absent from Spark's residual filters.
  */
class GraftSourceSpec extends SparkSpec {

  private lazy val table: SnapshotTable = {
    val cfg = ChangelogGen.Config(numEvents = 6000, numDocs = 1200, numFiles = 4)
    val logDir = tmpDir("gsrc-log")
    ChangelogGen.writeLog(spark, cfg, logDir.toString)
    val t = IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir.toString,
      tableDir = tmpDir("gsrc-table").toString,
      checkpointDir = tmpDir("gsrc-ckpt").toString,
      numBuckets = 16))
    MergeEngine.compact(spark, t)
    t
  }

  private def viaSource = spark.read.format("graft").load(table.root)

  test("format(\"graft\") current read equals the library read") {
    val a = viaSource.drop(Model.LsnCol).orderBy("doc_id").collect()
    val b = table.read(spark).orderBy("doc_id").collect()
    assert(a.length == b.length && a.sameElements(b),
      s"source read diverges: ${a.length} vs ${b.length} rows")
  }

  test("_lsn floor filter equals readBuckets and reaches the parquet scan") {
    import spark.implicits._
    val floor = 3000L
    val viaFilter = viaSource.filter($"${Model.LsnCol}" >= floor)
    val expected = table.readBuckets(spark, (0 until 16).toSet, floor)
      .orderBy("doc_id").collect()
    val got = viaFilter.orderBy("doc_id").collect()
    assert(got.sameElements(expected), s"${got.length} vs ${expected.length} rows")

    // under the substitution rule the relation becomes the engine's own
    // parquet plan; the floor must still be pushed into the file scans
    // (manifest-level file skip is asserted separately below)
    val plan = viaFilter.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(_lsn"),
      s"floor not pushed into the parquet scans:\n$plan")
  }

  test("no Row round-trip: the read plan is the engine's parquet plan, not an RDD[Row] scan") {
    // the round-3 perf-weak item: V1 PrunedFilteredScan forced every row
    // through an InternalRow→Row→InternalRow wall. With GraftExtensions
    // the optimizer substitutes the library read plan, so the executed
    // plan must show parquet file scans and no V1 row-relation scan.
    Seq(viaSource, viaSource.select("doc_id", "n_tok"),
        viaSource.filter(col(Model.LsnCol) >= 3000L)).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
        s"no parquet scan in the substituted plan:\n$plan")
      assert(!plan.contains("GraftRelation") && !plan.contains("Scan ExistingRDD"),
        s"RDD[Row] source boundary still present:\n$plan")
    }
  }

  test("column pruning reaches the parquet ReadSchema through the source") {
    val df = viaSource.select("doc_id", "n_tok")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val reads = "ReadSchema: [^\n]+".r.findAllIn(plan).mkString("\n")
    assert(!reads.contains("tokens"), s"unpruned scan through the source:\n$reads")
  }

  /** The tasks of the lookup's scan job for `keys`: the partitions of its
    * `FileScanRDD`. The job reads no file index and plans no
    * `FileSourceScanExec`, so the executed plans show none of its files.
    */
  private def lookupTasks(keys: Seq[String]): Seq[FilePartition] =
    table.lookupScan(spark, table.manifest.get, keys).toSeq.flatMap(_.filePartitions)

  /** Data files the given tasks open, as absolute paths. */
  private def opened(tasks: Seq[FilePartition]): Set[String] =
    tasks.flatMap(_.files).map(_.filePath.toPath.toUri.getPath).toSet

  private def prunedFiles(keys: Seq[String]): Set[String] = {
    val m = table.manifest.get
    table.pruneForKeys(m, keys.groupBy(SnapshotTable.bucketOfKey(_, m.numBuckets)))
      .map(f => java.nio.file.Paths.get(f.path).toUri.getPath).toSet
  }

  test("doc_id point lookup is pushed to the manifest: fewer files, same rows") {
    import spark.implicits._
    val keys = table.read(spark).select("doc_id").orderBy("doc_id")
      .limit(3).as[String].collect().toSeq
    // equality pushdown: reads exactly the files the manifest prune keeps
    val (stats, got) = jobStatsOf(
      viaSource.filter($"doc_id" === keys.head).select("doc_id", "n_tok").collect().toSeq)
    val tasks = lookupTasks(keys.take(1))
    val read = opened(tasks)
    val expectOne = table.read(spark).filter($"doc_id" === keys.head)
      .select("doc_id", "n_tok").collect().toSeq
    assert(got === expectOne)
    assert(read.nonEmpty && read === prunedFiles(keys.take(1)), s"read $read")
    assert(read.size < table.manifest.get.files.size, "nothing pruned")
    assert(stats.jobs === 1 && stats.tasks === tasks.size, s"$stats")
    // IN-list pushdown
    val many = viaSource.filter($"doc_id".isin(keys: _*))
      .select("doc_id").as[String].collect().toSet
    assert(many === keys.toSet)
    // contradictory conjuncts must yield zero rows, not a dropped filter
    assert(viaSource.filter($"doc_id" === keys.head && $"doc_id" === keys(1)).count() === 0L)
  }

  test("an IN list of more than 10 keys (InSet) is one pruned scan job with no Exchange") {
    import spark.implicits._
    val all = table.read(spark).select("doc_id").orderBy("doc_id").as[String].collect().toSeq
    val keys = all.indices.by(all.size / 12).take(12).map(all) :+ "absent-key"
    // more literals than OptimizeIn's threshold: the optimizer sees InSet
    assert(keys.size > spark.conf.get("spark.sql.optimizer.inSetConversionThreshold").toInt)
    val (plans, got) = plansOf(viaSource.filter($"doc_id".isin(keys: _*))
      .collect().sortBy(_.getAs[String]("doc_id")).toSeq)
    val tasks = lookupTasks(keys)
    val read = opened(tasks)
    val want = table.readWithLsn(spark).filter($"doc_id".isin(keys: _*))
      .orderBy("doc_id").collect().toSeq
    assert(got.size === 12 && got === want)
    assert(read === prunedFiles(keys), s"read ${read.size} files")
    assert(read.size < table.manifest.get.files.size, "nothing pruned")
    val exchanges = plans.flatMap(SparkSpec.nodes).collect { case e: Exchange => e }
    assert(exchanges.isEmpty, s"lookup plans hold an Exchange:\n${plans.mkString("\n")}")
    val (stats, _) = jobStatsOf(viaSource.filter($"doc_id".isin(keys: _*)).collect())
    assert(stats.jobs === 1 && stats.tasks === tasks.size, s"$stats")
  }

  test("an IN list holding a null stays unpushed and still returns the right rows") {
    import spark.implicits._
    val all = table.read(spark).select("doc_id").orderBy("doc_id").as[String].collect().toSeq
    Seq(all.take(3), all.take(12)).foreach { keys =>
      val withNull = viaSource.filter($"doc_id".isin(keys :+ null: _*))
      val got = withNull.drop(Model.LsnCol).orderBy("doc_id").collect().toSeq
      val want = table.read(spark).filter($"doc_id".isin(keys: _*)).orderBy("doc_id").collect().toSeq
      assert(got === want)
      val optimized = withNull.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("LocalRelation"), s"null IN list was pushed:\n$optimized")
    }
  }

  test("V1 fallback scan handles doc_id filters it declares handled") {
    import org.apache.spark.sql.sources
    val rel = GraftRelation(spark.sqlContext, table, None)
    val k = table.read(spark).select("doc_id").orderBy("doc_id").head().getString(0)
    val got = rel.buildScan(Array("doc_id", "n_tok"), Array(sources.EqualTo("doc_id", k)))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    val want = table.read(spark).filter(col("doc_id") === k)
      .select("doc_id", "n_tok").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got === want)
    // contradictory handled conjuncts → empty scan, never a full read
    val none = rel.buildScan(Array("doc_id"),
      Array(sources.EqualTo("doc_id", k), sources.EqualTo("doc_id", k + "-other")))
      .collect()
    assert(none.isEmpty)
  }

  test("option(\"version\") time travel equals readVersion") {
    val v = table.currentVersion.get - 1
    val a = spark.read.format("graft").option("version", v).load(table.root)
      .drop(Model.LsnCol).orderBy("doc_id").collect()
    val b = table.readVersion(spark, v).orderBy("doc_id").collect()
    assert(a.sameElements(b), s"${a.length} vs ${b.length} rows at v$v")
  }

  test("version + doc_id filter: time travel goes through the same lookup") {
    import spark.implicits._
    val v = table.currentVersion.get - 1
    val keys = table.readVersion(spark, v).select("doc_id").orderBy("doc_id")
      .as[String].collect().toSeq.take(11) :+ "absent-key"
    val viaVersion = spark.read.format("graft").option("version", v).load(table.root)
      .filter($"doc_id".isin(keys: _*))
    assert(viaVersion.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    val expected = table.readVersionWithLsn(spark, v).filter($"doc_id".isin(keys: _*))
      .orderBy("doc_id").collect()
    assert(viaVersion.orderBy("doc_id").collect().sameElements(expected))
    // the V1 fallback takes the same path
    import org.apache.spark.sql.sources
    val rel = GraftRelation(spark.sqlContext, table, Some(v))
    val v1 = rel.buildScan(Array("doc_id", Model.LsnCol), Array(sources.In("doc_id", keys.toArray)))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(v1 === expected.map(r => (r.getAs[String]("doc_id"), r.getAs[Long](Model.LsnCol))).toSeq)
  }

  test("version + _lsn floor: the handled filter is still applied on the time-travel path") {
    import spark.implicits._
    val v = table.currentVersion.get - 1
    val floor = 3000L
    val got = spark.read.format("graft").option("version", v).load(table.root)
      .filter($"${Model.LsnCol}" >= floor).orderBy("doc_id").collect()
    val expected = table.readVersionWithLsn(spark, v)
      .filter(col(Model.LsnCol) >= floor).orderBy("doc_id").collect()
    assert(got.nonEmpty && got.sameElements(expected),
      s"${got.length} vs ${expected.length} rows at v$v floor=$floor")
    // and rows below the floor really are gone (the filter was declared
    // handled, so only the relation can have applied it)
    assert(got.forall(_.getAs[Long](Model.LsnCol) >= floor))
  }

  test("version + _lsn floor: the time-travel read opens only the manifest-pruned files") {
    val v = table.currentVersion.get - 1
    val m = table.manifestAt(v)
    val floor = m.files.map(_.maxLsn).sorted.apply(m.files.size / 2)
    val want = table.pruneEntries(m, None, floor)
      .map(f => java.nio.file.Paths.get(f.path).toUri.getPath).toSet
    assert(want.nonEmpty && want.size < m.files.size, s"floor $floor prunes nothing useful")
    val (plans, got) = plansOf(spark.read.format("graft").option("version", v).load(table.root)
      .filter(col(Model.LsnCol) >= floor).collect())
    val read = plans.flatMap(SparkSpec.nodes).collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }.flatten.map(f => new java.net.URI(f).getPath).toSet
    assert(got.nonEmpty)
    assert(read === want, s"read ${read.size} of ${m.files.size} files at v$v, want ${want.size}")
  }

  test("SQL-text access: CREATE TEMPORARY VIEW ... USING graft") {
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW graft_t USING graft OPTIONS (path '${table.root}')")
    val n = spark.sql("SELECT count(*) AS n FROM graft_t").head().getLong(0)
    assert(n == table.read(spark).count())
    val floored = spark.sql(
      s"SELECT count(*) AS n FROM graft_t WHERE ${Model.LsnCol} >= 3000").head().getLong(0)
    assert(floored > 0 && floored < n)
    spark.sql("DROP VIEW graft_t")
  }

  test("floor skips clean files at the manifest level (file pruning, not just row filter)") {
    // a floor above every base file's maxLsn leaves nothing to read
    val maxLsn = table.manifest.get.files.map(_.maxLsn).max
    val none = viaSource.filter(col(Model.LsnCol) > maxLsn)
    assert(none.count() == 0)
    // sanity: the relation resolves rows>0 below the max
    assert(viaSource.filter(col(Model.LsnCol) >= maxLsn).count() > 0)
  }

  test("streaming sink: writeStream.format(\"graft\") equals the library ingest state") {
    import org.apache.spark.sql.streaming.Trigger
    // same generated changelog as the read fixture, driven through the
    // PUBLIC streaming writer instead of IngestJob — final state must
    // match the library-built table exactly
    val cfg = ChangelogGen.Config(numEvents = 6000, numDocs = 1200, numFiles = 4)
    val logDir = tmpDir("gss-log")
    ChangelogGen.writeLog(spark, cfg, logDir.toString)
    val sinkDir = tmpDir("gss-table").resolve("t").toString
    val q = spark.readStream.schema(Model.changeEventSchema)
      .option("maxFilesPerTrigger", 1).parquet(logDir.toString)
      .writeStream.format("graft")
      .option("path", sinkDir).option("queryId", "ssink")
      .option("checkpointLocation", tmpDir("gss-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val viaSink = spark.read.format("graft").load(sinkDir)
      .drop(Model.LsnCol).orderBy("doc_id").collect()
    val viaLib = table.read(spark).orderBy("doc_id").collect()
    assert(viaSink.length == viaLib.length && viaSink.sameElements(viaLib),
      s"sink state diverges from library ingest: ${viaSink.length} vs ${viaLib.length}")
    // fences advanced one epoch per micro-batch file
    val fences = new SnapshotTable(sinkDir).manifest.get.fences
    assert(fences.get("ssink").exists(_ >= 3), fences.toString)
  }

  test("streaming sink: fresh checkpoint + reused queryId fails loudly, not as silent no-ops") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    // a table whose 'lane1' fence is already well ahead (epoch 5)
    val dir = tmpDir("gss-fence").resolve("t").toString
    Seq((1L, "I", "a", Seq(1), 1, "web"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
      .write.format("graft").option("queryId", "lane1").option("epochId", 5)
      .mode(SaveMode.Append).save(dir)

    // restarting 'lane1' with a FRESH checkpoint resets batchId to 0 —
    // below the stored fence, every batch would silently no-op. The sink
    // must fail the query instead of dropping data.
    val logDir = tmpDir("gss-fence-log")
    ChangelogGen.writeLog(spark,
      ChangelogGen.Config(numEvents = 100, numDocs = 20, numFiles = 1), logDir.toString)
    val q = spark.readStream.schema(Model.changeEventSchema)
      .parquet(logDir.toString)
      .writeStream.format("graft")
      .option("path", dir).option("queryId", "lane1")
      .option("checkpointLocation", tmpDir("gss-fence-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("below the committed fence")),
      s"expected the fence guard to fire, got: ${messages(e).mkString(" | ")}")
    // and the table state is untouched
    assert(spark.read.format("graft").load(dir).count() == 1)
  }

  test("write path: fenced change-batch append creates, merges, and fences") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val dir = tmpDir("gsink").resolve("t").toString
    def batch(rows: Seq[(Long, String, String, Seq[Int])]) =
      rows.map { case (lsn, op, doc, toks) => (lsn, op, doc, toks, toks.size, "web") }
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")

    // epoch 0: creation + inserts through the writer API
    batch(Seq((1, "I", "a", Seq(1, 2)), (2, "I", "b", Seq(3))))
      .write.format("graft").option("queryId", "api").option("epochId", 0)
      .mode(SaveMode.Append).save(dir)
    val read0 = spark.read.format("graft").load(dir)
    assert(read0.count() == 2)

    // epoch 1: update a, delete b — standard MERGE semantics
    batch(Seq((3, "U", "a", Seq(9)), (4, "D", "b", Seq())))
      .write.format("graft").option("queryId", "api").option("epochId", 1)
      .mode(SaveMode.Append).save(dir)
    val state = spark.read.format("graft").load(dir)
      .select("doc_id", "tokens").as[(String, Seq[Int])].collect().toMap
    assert(state == Map("a" -> Seq(9)), state.toString)

    // re-delivered epoch 1 with DIFFERENT payload is a fenced no-op
    batch(Seq((5, "U", "a", Seq(777))))
      .write.format("graft").option("queryId", "api").option("epochId", 1)
      .mode(SaveMode.Append).save(dir)
    val after = spark.read.format("graft").load(dir)
      .select("doc_id", "tokens").as[(String, Seq[Int])].collect().toMap
    assert(after == Map("a" -> Seq(9)), "fence did not stop the re-delivered epoch")

    // unfenced writes and Overwrite are rejected loudly
    intercept[RuntimeException] {
      batch(Seq((9, "I", "z", Seq(1)))).write.format("graft")
        .mode(SaveMode.Append).save(dir)
    }
    intercept[RuntimeException] {
      batch(Seq((9, "I", "z", Seq(1)))).write.format("graft")
        .option("queryId", "api").option("epochId", 2)
        .mode(SaveMode.Overwrite).save(dir)
    }

    // additive schema evolution through the writer API: a later epoch
    // brings a new column; the table widens and earlier rows null-fill
    Seq((6L, "I", "c", Seq(4, 5), 2, "web", "en"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source", "lang")
      .write.format("graft").option("queryId", "api").option("epochId", 2)
      .mode(SaveMode.Append).save(dir)
    val evolved = spark.read.format("graft").load(dir)
      .select("doc_id", "lang").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(evolved == Map("a" -> None, "c" -> Some("en")),
      s"schema evolution through the writer diverged: $evolved")
  }
}
