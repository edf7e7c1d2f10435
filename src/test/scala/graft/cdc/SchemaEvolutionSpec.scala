package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Additive schema evolution (SURVEY.md §4.3 item 4, north_rule: "new
  * columns / widened n_tok"): a `lang` column appears and `n_tok` widens
  * int→long mid-log; old snapshots stay readable, old rows backfill null.
  * Every read path maps old files onto the evolved schema: float→double,
  * array<int>→array<bigint> and upper-case column names included.
  */
class SchemaEvolutionSpec extends SparkSpec {

  test("mergeSchemas: additive + widening, rejects incompatible") {
    val base = Model.tokenDocSchema
    val evolved = StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("tokens", ArrayType(IntegerType, containsNull = false)),
      StructField("n_tok", LongType),
      StructField("source", StringType),
      StructField("lang", StringType)))
    val merged = SnapshotTable.mergeSchemas(base, evolved)
    assert(merged.fieldNames.toSeq == Seq("doc_id", "tokens", "n_tok", "source", "lang"))
    assert(merged("n_tok").dataType == LongType)
    assert(merged("lang").nullable)
    // case-insensitive resolution (MATCH_BY_COLUMN_NAME analog)
    val upper = StructType(Seq(StructField("DOC_ID", StringType)))
    assert(SnapshotTable.mergeSchemas(base, upper).fieldNames.count(_.toLowerCase == "doc_id") == 1)
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeSchemas(base,
        StructType(Seq(StructField("n_tok", StringType))))
    }
  }

  test("mid-log evolution: lang column + widened n_tok, replay equals oracle") {
    val logDir = tmpDir("log"); val tableDir = tmpDir("table"); val ckpt = tmpDir("ckpt")
    val cfg = ChangelogGen.Config(numEvents = 3000, numDocs = 500, numFiles = 6)

    // segment 1: v1 schema
    ChangelogGen.writeLog(spark, cfg, logDir.toString)
    val ing1 = IngestJob.Config(
      logDir = logDir.toString, tableDir = tableDir.toString,
      checkpointDir = ckpt.toString, numBuckets = 8)
    IngestJob.replay(spark, ing1)

    // segment 2: DDL happened upstream — new `lang` column, n_tok is long
    val seg2 = ChangelogGen.events(spark, cfg.copy(seed = 99))
      .withColumn("lsn", col("lsn") + cfg.numEvents) // keep global LSN monotone
      .withColumn("n_tok", col("n_tok").cast("long"))
      .withColumn("lang",
        when(col("op") =!= Model.OpDelete,
          element_at(typedLit(Seq("en", "fr", "de")),
            (pmod(xxhash64(col("doc_id")), lit(3L)) + 1L).cast("int"))))
    ChangelogGen.writeSingleFile(seg2.orderBy("lsn"), logDir, "chunk-99990.parquet")

    val v2Schema = StructType(Model.changeEventSchema.fields.map {
      case f if f.name == "n_tok" => f.copy(dataType = LongType)
      case f => f
    } :+ StructField("lang", StringType, nullable = true))
    IngestJob.replay(spark, ing1.copy(schema = v2Schema))

    val table = new SnapshotTable(tableDir.toString, 8)
    val got = table.read(spark)
    assert(got.schema.fieldNames.toSeq == Seq("doc_id", "tokens", "n_tok", "source", "lang"))
    assert(got.schema("n_tok").dataType == LongType, "n_tok widened")

    // oracle over the full evolved log (v1 events conformed to v2 shape)
    val v1AsV2 = ChangelogGen.events(spark, cfg)
      .withColumn("n_tok", col("n_tok").cast("long"))
      .withColumn("lang", lit(null).cast(StringType))
    val want = FoldOracle.finalState(spark, v1AsV2.unionByName(seg2))
    val (a, b) = FoldOracle.diff(got, want)
    assert(a == 0 && b == 0, s"evolved replay mismatch: +$a -$b")

    // old rows (not touched by segment 2) carry null lang
    assert(got.filter(col("lang").isNull).count() > 0)
  }

  test("every read path maps float→double, array<int>→array<bigint> and upper-case names") {
    import spark.implicits._
    type State = (Seq[Long], Long, String, Double)
    // epoch events: (lsn, op, doc, tokens, n_tok, source, score)
    type Ev = (Long, String, String, Seq[Long], Long, String, Double)
    val t = new SnapshotTable(tmpDir("evo-paths").resolve("t").toString, 4)
    t.init(StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("tokens", ArrayType(IntegerType, containsNull = false)),
      StructField("n_tok", IntegerType),
      StructField("source", StringType),
      StructField("score", FloatType))))
    def doc(i: Int) = f"d$i%03d"
    def part(d: String) = math.abs(d.hashCode) % 3
    // first schema: score float, tokens array<int>, n_tok int
    def oldBatch(evs: Seq[Ev]) = evs.map { case (l, op, d, tk, n, src, sc) =>
      (l, part(d), op, d, tk.map(_.toInt), n.toInt, src, sc.toFloat)
    }.toDF("lsn", "partition", "op", "doc_id", "tokens", "n_tok", "source", "score")
    // second schema: score double, tokens array<bigint>, upper-case N_TOK (bigint) and SOURCE
    def newBatch(evs: Seq[Ev]) = evs.map { case (l, op, d, tk, n, src, sc) =>
      (l, part(d), op, d, tk, n, src, sc)
    }.toDF("lsn", "partition", "op", "doc_id", "tokens", "N_TOK", "SOURCE", "score")

    val e1: Seq[Ev] = (0 until 60).map(i =>
      (i.toLong, Model.OpInsert, doc(i), Seq(i.toLong, i + 1L), 2L, "s1", i * 0.25))
    val e2: Seq[Ev] = (0 until 10).map(i =>
      (100L + i, Model.OpUpdate, doc(i), Seq(10L * i), 1L, "s1b", 0.5)) ++
      (10 until 15).map(i => (100L + i, Model.OpDelete, doc(i), Seq.empty[Long], 0L, "s1b", 0.0))
    val e3: Seq[Ev] = (5 until 20).map(i =>
      (200L + i, Model.OpUpdate, doc(i), Seq(3000000000L + i), 1L << 33, "s2", 1.0 / 3)) ++
      (20 until 25).map(i => (220L + i, Model.OpDelete, doc(i), Seq.empty[Long], 0L, "s2", 0.0)) ++
      (60 until 65).map(i => (240L + i, Model.OpInsert, doc(i), Seq(i.toLong), 1L, "s2", 2.5))

    def fold(evs: Seq[Ev]): Map[String, State] =
      evs.sortBy(_._1).foldLeft(Map.empty[String, State]) { case (st, (_, op, d, tk, n, src, sc)) =>
        if (op == Model.OpDelete) st - d else st + (d -> ((tk, n, src, sc)))
      }
    def state(df: DataFrame): Map[String, State] =
      df.select($"doc_id", $"tokens", $"n_tok", $"source", $"score")
        .as[(String, Seq[Long], Long, String, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

    MergeEngine.merge(spark, t, oldBatch(e1), "p", 0L)
    val from = MergeEngine.compact(spark, t).get // base files of the first schema
    MergeEngine.merge(spark, t, oldBatch(e2), "p", 1L) // a delta of the first schema
    val to = MergeEngine.merge(spark, t, newBatch(e3), "p", 2L).version
    val schema = t.schema.get
    assert(schema.fieldNames.toSeq === Seq("doc_id", "tokens", "n_tok", "source", "score"))
    assert(schema("score").dataType === DoubleType && schema("n_tok").dataType === LongType &&
      schema("tokens").dataType.asInstanceOf[ArrayType].elementType === LongType)

    val want = fold(e1 ++ e2 ++ e3)
    assert(state(t.read(spark)) === want, "read")
    val buckets = Set(0, 2)
    assert(state(t.readBuckets(spark, buckets)) ===
      want.filter { case (d, _) => buckets(SnapshotTable.bucketOfKey(d, 4)) }, "readBuckets")
    val keys = Seq(0, 3, 7, 12, 17, 22, 40, 62, 99).map(doc)
    val wantKeys = want.filter { case (d, _) => keys.contains(d) }
    assert(wantKeys.size === 7)
    assert(state(t.lookupKeys(spark, keys)) === wantKeys, "lookupKeys")
    val viaSource = spark.read.format("graft").load(t.root).filter($"doc_id".isin(keys: _*))
    assert(viaSource.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    assert(state(viaSource) === wantKeys, "format(graft) doc_id IN")

    // the feed across the evolution: pre-images from the first schema's
    // files under the second schema, post-images the window's net events
    val pre = fold(e1)
    val wantFeed = (e2 ++ e3).groupBy(_._3).map { case (d, evs) =>
      val last = evs.maxBy(_._1)
      val op = if (last._2 == Model.OpDelete) "D" else if (pre.contains(d)) "U" else "I"
      d -> ((op, last._1, pre.get(d), if (op == "D") None else want.get(d)))
    }.filter { case (_, (op, _, p, _)) => op != "D" || p.isDefined }
    def image(r: org.apache.spark.sql.Row): Option[State] = Option(r).map(r =>
      (r.getAs[Seq[Long]]("tokens"), r.getAs[Long]("n_tok"), r.getAs[String]("source"),
        r.getAs[Double]("score")))
    val feed = ChangeFeed.between(spark, t, from, to).collect().map { r =>
      r.getAs[String]("doc_id") -> ((r.getAs[String]("change_op"), r.getAs[Long]("lsn"),
        image(r.getAs[org.apache.spark.sql.Row]("pre_image")),
        image(r.getAs[org.apache.spark.sql.Row]("post_image"))))
    }.toMap
    assert(feed === wantFeed, "ChangeFeed.between")

    MergeEngine.compact(spark, t)
    assert(t.manifest.get.files.forall(!_.isDelta))
    assert(state(t.read(spark)) === want, "compact then read")
  }
}
