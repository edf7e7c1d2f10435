package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.cdc.{Manifest, MergeEngine, Model, SnapshotTable}

/** `spark.read.format("graft")` — the snapshot table as a first-class
  * Spark data source, so downstream consumers address the engine's tables
  * through the standard reader API instead of library calls:
  *
  * {{{
  *   spark.read.format("graft").load("/path/to/table")          // current
  *   spark.read.format("graft").option("version", 3).load(p)    // time travel
  *   spark.read.format("graft").load(p).filter($"_lsn" >= x)    // changed-since
  * }}}
  *
  * Two-tier read path, one read chooser:
  *
  *   - With [[graft.GraftExtensions]] active (the recommended setup), the
  *     [[graft.plans.GraftRelationSubstitution]] optimizer rule replaces
  *     this relation with the plan of the read [[GraftRelation.read]]
  *     chooses — columnar scans, fused whole-stage codegen, no
  *     InternalRow→Row→InternalRow wall.
  *   - Without the extension, the V1 `PrunedFilteredScan` below is the
  *     fallback (stable public API): `buildScan` takes the same chosen
  *     read and only selects the required columns, so MOR delta
  *     reconcile, reads under the snapshot's schema and manifest pruning all
  *     still apply, and `requiredColumns` reaches the parquet ReadSchema.
  *
  *   Both tiers hand their filters, as `sources.Filter`s, to one miner
  *   ([[GraftRelation.pushdown]]) and one chooser, which resolves the
  *   snapshot (current or `version`) once:
  *
  *   - **Point lookup**: `doc_id = x` / `doc_id IN (...)` goes to
  *     `SnapshotTable.lookupKeysWithLsn` — one scan job over the
  *     manifest-pruned files through Spark's parquet reader (no nested
  *     query).
  *   - **Changed since**: otherwise the manifest-pruned read
  *     `SnapshotTable.readPruned` — with an `_lsn >= X` / `> X` / `= X`
  *     floor, data files whose manifest `maxLsn` is below it are skipped
  *     before a byte is read: the incremental "changed since LSN"
  *     consumer contract, historic snapshots included.
  *
  *   The key and `>=`/`>` floor filters are applied exactly on every
  *   path (declared handled); everything else is evaluated by Spark on
  *   top.
  *
  * The WRITE path keeps the engine's exactly-once contract instead of
  * bypassing it: `df.write.format("graft")` is a FENCED change-batch
  * append through `MergeEngine.merge`, so the standard writer API gets
  * the same MERGE/dedup/fence/schema-evolution semantics as the
  * streaming ingest:
  *
  * {{{
  *   changes // columns: lsn, op ('I'|'U'|'D'), doc_id, <payload...>
  *     .write.format("graft")
  *     .option("queryId", "backfill").option("epochId", 7)   // REQUIRED
  *     .mode(SaveMode.Append).save("/path/to/table")
  * }}}
  *
  *   - `queryId`/`epochId` are mandatory: a re-delivered epoch is a
  *     fenced no-op, exactly like the streaming path. An unfenced write
  *     API would silently break exactly-once, so there isn't one.
  *   - The batch must be change-shaped (`lsn` + `op` + key + payload);
  *     `partition` (source-partition lineage for the watermark ledger)
  *     defaults to 0 when absent.
  *   - Append on a missing table initializes it from the batch's payload
  *     schema (`numBuckets` option, default 16). ErrorIfExists/Ignore
  *     behave per their contract; Overwrite is rejected — full refresh
  *     is an explicit engine operation (compact / replay), not a writer
  *     mode you can trip into.
  */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** `readStream.format("graft")`: the table as a streaming CHANGE
    * source — offsets are snapshot versions, each micro-batch is the
    * change feed of the version window (net ops + pre/post images from
    * the window's delta files). `option("startVersion", v)` replays from
    * v; default is the current version at first start (new changes
    * only). See [[org.apache.spark.sql.graft.GraftStreamSource]].
    */
  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft stream source derives its schema from the table")
    val path = parameters.getOrElse("path",
      sys.error("graft stream source requires a path: readStream.format(\"graft\").load(dir)"))
    ("graft", org.apache.spark.sql.graft.GraftStreamSource.feedSchema(new SnapshotTable(path)))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val path = parameters.getOrElse("path",
      sys.error("graft stream source requires a path: readStream.format(\"graft\").load(dir)"))
    val table = new SnapshotTable(path)
    val startVersion = parameters.get("startVersion").map(_.toLong)
      .getOrElse(table.currentVersion.getOrElse(0L))
    new org.apache.spark.sql.graft.GraftStreamSource(
      sqlContext, table, startVersion,
      org.apache.spark.sql.graft.GraftStreamSource.feedSchema(table))
  }

  /** `writeStream.format("graft")`: each micro-batch is a fenced merge
    * with `epochId = batchId` — checkpoint-recovered re-deliveries no-op
    * on the fence, so exactly-once holds through the streaming writer
    * API. `queryId` names the fence lane (mandatory, same reasoning as
    * the batch writer); `numBuckets` sizes a table the sink creates.
    */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path",
      sys.error("graft sink requires a path: writeStream.format(\"graft\").option(\"path\", dir)"))
    val queryId = parameters.getOrElse("queryId", sys.error(
      "graft: fenced streaming sink requires option(\"queryId\")"))
    new org.apache.spark.sql.graft.GraftStreamSink(
      new SnapshotTable(path, parameters.get("numBuckets").map(_.toInt).getOrElse(16)),
      queryId)
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      sys.error("graft source requires a path: spark.read.format(\"graft\").load(dir)"))
    // bucket count always comes from the manifest on the read path; the
    // constructor default only matters for init(), which a read-only
    // relation never calls
    GraftRelation(sqlContext, new SnapshotTable(path),
      version = parameters.get("version").map(_.toLong))
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      sys.error("graft sink requires a path: df.write.format(\"graft\").save(dir)"))
    val table = new SnapshotTable(path,
      parameters.get("numBuckets").map(_.toInt).getOrElse(16))
    val skip = mode match {
      case SaveMode.Overwrite =>
        sys.error("graft: SaveMode.Overwrite is not a writer mode — full refresh " +
          "is an explicit engine operation (MergeEngine.compact / replay); " +
          "use Append with a fenced change batch")
      case SaveMode.ErrorIfExists if table.exists =>
        sys.error(s"graft table already exists at $path (SaveMode.ErrorIfExists)")
      case SaveMode.Ignore if table.exists => true
      case _ => false
    }
    if (!skip) {
      val queryId = parameters.getOrElse("queryId", sys.error(
        "graft: fenced write requires option(\"queryId\") — the writer API keeps " +
          "the engine's exactly-once contract (re-delivered epochs are no-ops)"))
      val epochId = parameters.getOrElse("epochId", sys.error(
        "graft: fenced write requires option(\"epochId\")")).toLong
      val events = GraftSource.prepareBatch(data)
      table.ensureInitialized(events.schema)
      MergeEngine.merge(sqlContext.sparkSession, table, events, queryId, epochId)
    }
    GraftRelation(sqlContext, table, version = None)
  }
}

object GraftSource {

  /** Change-batch contract shared by the batch writer and the streaming
    * sink: `lsn`/`op`/`doc_id` mandatory with a clear error, `partition`
    * (source-partition lineage) defaults to 0 when absent.
    */
  def prepareBatch(df: DataFrame): DataFrame = {
    val cols = df.columns.map(_.toLowerCase).toSet
    Seq("lsn", "op", "doc_id").foreach(c => require(cols.contains(c),
      s"graft: change batch must carry '$c' (columns: ${df.columns.mkString(",")})"))
    if (cols.contains("partition")) df else df.withColumn("partition", lit(0))
  }
}

case class GraftRelation(
    sqlContext: SQLContext,
    table: SnapshotTable,
    version: Option[Long]) extends BaseRelation with PrunedFilteredScan {

  private def spark: SparkSession = sqlContext.sparkSession

  /** The snapshot read: `version`'s, else the one current when read. */
  private def snapshot: Manifest = version.fold(
    table.manifest.getOrElse(sys.error(s"no such table: ${table.root}")))(table.manifestAt)

  override val schema: StructType =
    snapshot.currentSchema.add(Model.LsnCol, LongType, nullable = false)

  /** The read chosen for a conjunction of pushed filters — the one
    * chooser behind both the optimizer rule and [[buildScan]]. The
    * snapshot resolves once; a key set goes to the point lookup over it
    * (contradictory conjuncts arrive as an empty key set and read
    * nothing), anything else to the manifest-pruned read. The floor
    * applies on every path, so every filter [[GraftRelation.pushdown]]
    * calls exact holds on what this returns.
    */
  def read(filters: Seq[Filter]): DataFrame = {
    val p = GraftRelation.pushdown(filters)
    val m = snapshot
    p.keys match {
      case Some(ks) =>
        val hits = table.lookupKeysWithLsn(spark, ks, m)
        p.floor.fold(hits)(f => hits.filter(col(Model.LsnCol) >= f))
      case None => table.readPruned(spark, m, minLsn = p.floor)
    }
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = {
    val exact = GraftRelation.pushdown(filters.toSeq).exact
    filters.filterNot(exact.contains)
  }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] =
    read(filters.toSeq).select(requiredColumns.map(col).toSeq: _*).rdd
}

object GraftRelation {

  /** What a conjunction of pushed filters asks of the table: the `_lsn`
    * floor (the max over `>=`, `>` and `=` conjuncts), the bounded
    * `doc_id` key set (`=` or an IN list, intersected across conjuncts;
    * an empty intersection reads nothing), and the filters the read
    * applies `exact`ly. An IN list holding a null is not pushed: it is
    * never true, only null, so it stays Spark's job. `_lsn = x` gives a
    * floor but is not exact.
    */
  final case class Pushdown(floor: Option[Long], keys: Option[Seq[String]], exact: Seq[Filter])

  def pushdown(filters: Seq[Filter]): Pushdown = {
    def on(c: String, name: String): Boolean = c.equalsIgnoreCase(name)
    val floors = filters.collect {
      case f @ GreaterThanOrEqual(c, v: Long) if on(c, Model.LsnCol) => (f, v, true)
      case f @ GreaterThan(c, v: Long) if on(c, Model.LsnCol) && v < Long.MaxValue => (f, v + 1L, true)
      case f @ EqualTo(c, v: Long) if on(c, Model.LsnCol) => (f, v, false)
    }
    val keySets = filters.collect {
      case f @ EqualTo(c, v: String) if on(c, Model.KeyCol) => (f, Seq(v))
      case f @ In(c, vs) if on(c, Model.KeyCol) && vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        (f, vs.toSeq.map(_.asInstanceOf[String]))
    }
    Pushdown(floors.map(_._2).maxOption, keySets.map(_._2).reduceOption(_ intersect _),
      floors.collect { case (f, _, true) => f } ++ keySets.map(_._1))
  }
}
