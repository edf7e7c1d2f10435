package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.cdc.{MergeEngine, Model, SnapshotTable}

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
  * Two-tier read path:
  *
  *   - With [[graft.GraftExtensions]] active (the recommended setup), the
  *     [[graft.plans.GraftRelationSubstitution]] optimizer rule replaces
  *     this relation with the engine's own parquet read plan — columnar
  *     scans, fused whole-stage codegen, no InternalRow→Row→InternalRow
  *     wall — while keeping the `_lsn`-floor manifest pushdown.
  *   - Without the extension, the V1 `PrunedFilteredScan` below is the
  *     fallback (stable public API; the scan delegates to the engine's
  *     manifest-resolved read, so MOR delta reconcile, schema-evolution
  *     conformance and bucket pruning all still apply):
  *
  *   - **Column pruning**: `requiredColumns` propagates into the parquet
  *     scan's ReadSchema via the delegated plan.
  *   - **Filter pushdown**: `_lsn >= X` / `> X` reaches the MANIFEST —
  *     data files whose footer `maxLsn` is below the floor are skipped
  *     before a byte is read (`SnapshotTable.readBuckets` pruning), the
  *     incremental "changed since LSN" consumer contract.
  *   - **Point lookup**: `doc_id = x` / `doc_id IN (...)` goes to
  *     `SnapshotTable.lookupKeysWithLsn` — one scan job over the
  *     manifest-pruned files through Spark's parquet reader (no nested
  *     query), for the current snapshot and for `version` time travel
  *     alike.
  *
  *   These filters are fully applied by the relation (declared
  *   handled); everything else is evaluated by Spark on top.
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

  private val manifest = version match {
    case Some(v) => table.manifestAt(v)
    case None => table.manifest.getOrElse(sys.error(s"no such table: ${table.root}"))
  }

  override val schema: StructType =
    manifest.currentSchema
      .add(Model.LsnCol, LongType, nullable = false)

  /** `_lsn` floor implied by the pushed filters (max over all of them —
    * conjunctive semantics).
    */
  private def lsnFloor(filters: Array[Filter]): Option[Long] = {
    val floors: Array[Long] = filters.flatMap {
      case GreaterThanOrEqual(Model.LsnCol, v: Long) => Some(v)
      case GreaterThan(Model.LsnCol, v: Long) => Some(v + 1L)
      case EqualTo(Model.LsnCol, v: Long) => Some(v)
      case _ => None
    }
    if (floors.isEmpty) None else Some(floors.max)
  }

  /** Bounded key set implied by a pushed `doc_id = x` / `doc_id IN (...)`
    * — the point-lookup path (manifest key-range prune over the clustered
    * base files). Intersected across conjuncts; an IN-list containing
    * null stays Spark's job (never-true-or-null semantics).
    */
  private def keyLookup(filters: Array[Filter]): Option[Seq[String]] = {
    val keySets: Array[Seq[String]] = filters.flatMap {
      case EqualTo(c, v: String) if c.equalsIgnoreCase(Model.KeyCol) => Some(Seq(v))
      case In(c, vs) if c.equalsIgnoreCase(Model.KeyCol) && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[String]) =>
        Some(vs.toSeq.map(_.asInstanceOf[String]))
      case _ => None
    }
    // an EMPTY intersection (contradictory conjuncts, doc_id='a' AND
    // doc_id='b') must surface as Some(empty): these filters are declared
    // handled, so the scan must return no rows — not fall back to a full
    // read with the predicates dropped
    keySets.reduceOption((a, b) => a.intersect(b))
  }

  /** The floor and key filters are applied EXACTLY by the pruned reads
    * (manifest file skip + row predicate), so Spark need not re-evaluate
    * them; everything else stays Spark's job.
    */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filterNot {
      case GreaterThanOrEqual(Model.LsnCol, _: Long) => true
      case GreaterThan(Model.LsnCol, _: Long) => true
      case EqualTo(c, _: String) if c.equalsIgnoreCase(Model.KeyCol) => true
      case In(c, vs) if c.equalsIgnoreCase(Model.KeyCol) && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[String]) => true
      case _ => false
    }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val floor = lsnFloor(filters)
    val df = (keyLookup(filters), version) match {
      // point lookup, current or time travel (contradictory conjuncts
      // arrive as an empty key set and read nothing)
      case (Some(ks), v) => table.lookupKeysWithLsn(spark, ks, v)
      // time travel reads THAT version's manifest (no manifest-level
      // file skip for historic reads)
      case (None, Some(v)) => table.readVersionWithLsn(spark, v)
      case (None, None) => floor
        .map(f => table.readBuckets(spark, (0 until manifest.numBuckets).toSet, f))
        .getOrElse(table.readWithLsn(spark))
    }
    // the floor is declared handled, so it must apply on every path
    floor.map(f => df.filter(col(Model.LsnCol) >= f)).getOrElse(df)
      .select(requiredColumns.map(col).toSeq: _*).rdd
  }
}
