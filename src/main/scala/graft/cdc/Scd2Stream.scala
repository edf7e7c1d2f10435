package graft.cdc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

/** Streaming maintenance of a type-2 temporal table: tail the ordered
  * changelog and fold each micro-batch through [[Scd2.merge]] — the
  * streaming complement of the MERGE snapshot ingest (IngestJob keeps
  * survivors; this keeps every version's validity interval). The dbt
  * analog is a `snapshots/` model re-run per sync (the reference runs its
  * loop monthly, dags/nyc_taxi_sync_dag.py:40-55); here it is continuous.
  *
  * The temporal table is a [[SnapshotTable]]: one commit ledger, the
  * same linked manifest records, fences, watermarks and GC as the
  * MERGE tables. Each epoch is ONE clustered write into a fresh
  * `data/v<N>-*` dir, partitioned by `_bucket`:
  *
  *   - `_bucket=<b>` — the open rows of hash bucket b, written ONLY for
  *     the buckets the epoch's batch touches. The commit drops those
  *     buckets' previous open entries and carries every other bucket's
  *     forward BY FILE IDENTITY, so an epoch's write cost is
  *     O(batch + touched buckets), never O(live keys). A touched bucket
  *     whose keys were all deleted simply has no open entry any more.
  *   - `_bucket=-1` — the versions the epoch closed. Closed intervals are
  *     immutable facts: their entries are never removed.
  *
  * The epoch commits through the MERGE's own commit step
  * ([[MergeEngine.commit]]), which records `fences(queryId) = epochId`,
  * the applied per-partition watermarks and the epoch's metrics
  * atomically with the file step, so a crash
  * before it replays the epoch into a new dir that no manifest names
  * (invisible to [[read]], reclaimed by an explicit `expireSnapshots`
  * like any orphan), and the replay that follows it is a fence no-op.
  *
  * Dedup contract (same as the ingest's): events of one source partition
  * arrive in non-decreasing LSN order across batches, and a key is sticky
  * to its partition — so a per-PARTITION watermark (4 longs, not a keyed
  * index) suffices to drop re-deliveries, INCLUDING the resurrection
  * case: a re-delivered insert of an already-deleted key has no open row
  * to collide with, so only the watermark can refuse it (law-tested in
  * Scd2StreamSpec).
  */
object Scd2Stream {

  case class Config(
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      queryId: String = "scd2-stream",
      schema: StructType = Model.changeEventSchema,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      numBuckets: Int = 16) extends IngestJob.LogTail

  /** The changelog's key and order columns. */
  private val KeyCols = Seq(Model.KeyCol)
  private val OrdCol = "lsn"

  /** The table schema [[Scd2.fromChangelog]] produces for `cfg.schema`
    * input: payload columns (op dropped), `lsn` renamed `valid_from_lsn`,
    * plus `valid_to_lsn` and `is_current` — all nullable, since explicit
    * parquet-read schemas must tolerate the open rows' null `valid_to`.
    */
  private def tableSchema(cfg: Config): StructType = {
    val ordType = cfg.schema(OrdCol).dataType
    val base = cfg.schema.fields.toSeq.filterNot(_.name == "op").map { f =>
      val renamed = if (f.name == OrdCol) f.copy(name = s"valid_from_$OrdCol") else f
      renamed.copy(dataType = SnapshotTable.relaxNulls(renamed.dataType), nullable = true)
    }
    StructType(base :+
      StructField(s"valid_to_$OrdCol", ordType, nullable = true) :+
      StructField("is_current", BooleanType, nullable = true))
  }

  private val timed = new graft.util.Timed("scd2-timing", "GRAFT_SCD2_TIMING")

  /** The current temporal table: the committed manifest's files, open and
    * closed alike, as ONE parquet relation under the manifest's schema
    * (plan depth 1 at any epoch count). Files of an epoch that never
    * committed are named by no manifest, so they stay invisible.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val m = new SnapshotTable(tableDir).manifest.getOrElse(
      throw new IllegalStateException(s"no scd2 table at $tableDir"))
    if (m.files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.currentSchema)
    else spark.read.schema(m.currentSchema).parquet(m.files.map(_.path): _*)
  }

  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    IngestJob.tail(spark, cfg, tableSchema(cfg))(epoch(spark, cfg, _, _, _))

  /** One SCD2 epoch, committed through [[MergeEngine.commit]] with the
    * MERGE's fence rule and stats job ([[MergeEngine.epochStats]]). Its
    * step removes the touched buckets' prior open entries, so a lost
    * commit race deletes the epoch's write and fails the epoch, which
    * replays against the new current.
    */
  private[cdc] def epoch(spark: SparkSession, cfg: Config, table: SnapshotTable,
      src: DataFrame, epochId: Long): Unit = {
    val m = table.manifest.get
    if (!MergeEngine.fenced(m, cfg.queryId, epochId)) {
      val events = src.filter(IngestJob.validExpr(src))
      val (touched, lane) = MergeEngine.epochStats(events, m, cfg.queryId, epochId)
      // prior open rows of ONLY the touched buckets — keys outside them
      // cannot appear in the batch, so Scd2.merge sees exactly the open
      // rows it can close
      val prior = m.files.filter(f => f.bucket >= 0 && touched(f.bucket))
      // nothing touched: metadata-only fence/watermark advance
      val out = Option.when(touched.nonEmpty)(table.newDataDir(m.version + 1))
      out.foreach { dir =>
        // strictly above the partition's watermark: keeps fresh events,
        // drops every re-delivery (incl. deleted-key inserts)
        val fresh = events.filter(col(OrdCol) > MergeEngine.watermarkFloor(m.watermarks))
        val merged =
          if (prior.isEmpty) Scd2.fromChangelog(fresh, KeyCols, OrdCol)
          else Scd2.merge(spark.read.schema(m.currentSchema).parquet(prior.map(_.path): _*),
            fresh, KeyCols, OrdCol)
        // ONE clustered write for both halves of the epoch: every open
        // bucket lands as one file, the closed set as one file per epoch,
        // and the merge plan runs exactly once
        timed(s"epoch-$epochId write")(merged
          .withColumn(Model.BucketCol, when(col("is_current"),
            SnapshotTable.bucketOf(col(Model.KeyCol), m.numBuckets)).otherwise(lit(-1)))
          .repartition(col(Model.BucketCol))
          .write.partitionBy(Model.BucketCol).mode("overwrite").parquet(dir.toString))
      }
      val written = out.toSeq.flatMap(dir =>
        FileStats.entries(spark, table.listPartFiles(dir), m.schemas.size - 1))
      MergeEngine.commit(table, m, MergeEngine.Step(written, prior.map(_.path), m.currentSchema,
        Some(lane.wrote(written)), out))
    }
  }
}
