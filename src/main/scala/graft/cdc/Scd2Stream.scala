package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, DataType, StructField, StructType}

/** Streaming maintenance of a type-2 temporal table: tail the ordered
  * changelog and fold each micro-batch through [[Scd2.merge]] — the
  * streaming complement of the MERGE snapshot ingest (IngestJob keeps
  * survivors; this keeps every version's validity interval). The dbt
  * analog is a `snapshots/` model re-run per sync (the reference runs its
  * loop monthly, dags/nyc_taxi_sync_dag.py:40-55); here it is continuous.
  *
  * Storage layout is what makes the fold O(batch + touched open buckets)
  * per epoch instead of O(history) — or O(live keys), which was the
  * round-4 shape (the whole open set rewritten every epoch; at 10^9 live
  * keys × 5 s epochs that is an unbounded write-amplification tax the
  * MERGE path had already eliminated via bucketing):
  *
  *   - `closed/epoch=N/` — versions closed during epoch N. Append-only:
  *     closed intervals are immutable facts, never rewritten. A replayed
  *     epoch OVERWRITES its own dir (idempotent side channel).
  *   - `open/epoch=N/_b=B/` — open rows of hash bucket B as of epoch N,
  *     written ONLY for the buckets epoch N's batch touches. Untouched
  *     buckets carry forward BY FILE IDENTITY: the meta's bucket map
  *     keeps pointing at the epoch that last wrote them, so an epoch's
  *     write cost is O(batch + touched buckets), never O(live keys).
  *   - `_scd2_schema.json` — the table schema (written once at start),
  *     so reads never depend on parquet inference: an epoch that closes
  *     nothing (or a bucket emptied by deletes) leaves a part-less dir,
  *     which inference rejects but a schema-given read returns as empty.
  *   - `_scd2_meta.json` — fence (last applied epoch) + per-partition
  *     applied-LSN watermarks + the bucket→epoch map, moved into place
  *     atomically LAST, so a crash between data and meta replays the
  *     epoch onto the previous pointer (the overwrite-by-epoch layout
  *     absorbs it), and readers only ever see committed state: the
  *     current read is driven entirely by the meta (bucket map for open
  *     rows, `epoch <= lastEpoch` fence for closed dirs), so an
  *     uncommitted `closed/epoch=N` left by a crash is invisible until
  *     its epoch actually commits.
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
      availableNow: Boolean = true,
      processingTime: String = "5 seconds",
      numBuckets: Int = 16)

  private[cdc] case class Meta(lastEpoch: Long, watermarks: Map[Int, Long],
      buckets: Map[Int, Long])

  private def metaPath(tableDir: String): Path = Paths.get(tableDir, "_scd2_meta.json")
  private def schemaPath(tableDir: String): Path = Paths.get(tableDir, "_scd2_schema.json")

  private def mapBlock(s: String, name: String): Map[Int, Long] =
    (s""""$name":\\{([^}]*)\\}""").r.findFirstMatchIn(s).map(_.group(1)).map { body =>
      """"(\d+)":(-?\d+)""".r.findAllMatchIn(body)
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    }.getOrElse(Map.empty)

  private[cdc] def readMeta(tableDir: String): Option[Meta] = {
    val p = metaPath(tableDir)
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val epoch = """"lastEpoch":(-?\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
      Some(Meta(epoch, mapBlock(s, "watermarks"), mapBlock(s, "buckets")))
    }
  }

  private def writeMeta(tableDir: String, m: Meta): Unit = {
    def mapJson(kv: Map[Int, Long]) = kv.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json = s"""{"lastEpoch":${m.lastEpoch},"watermarks":${mapJson(m.watermarks)},""" +
      s""""buckets":${mapJson(m.buckets)}}"""
    val tmp = Files.createTempFile(Paths.get(tableDir), ".meta", ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, metaPath(tableDir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The changelog's key, order and source-partition columns. */
  private val KeyCols = Seq(Model.KeyCol)
  private val OrdCol = "lsn"
  private val PartitionCol = "partition"

  /** The table schema [[Scd2.fromChangelog]] produces for `cfg.schema`
    * input: payload columns (op dropped), `lsn` renamed `valid_from_lsn`,
    * plus `valid_to_lsn` and `is_current` — all nullable, since explicit
    * parquet-read schemas must tolerate the open rows' null `valid_to`.
    */
  private[cdc] def tableSchema(cfg: Config): StructType = {
    val ordType = cfg.schema(OrdCol).dataType
    val base = cfg.schema.fields.toSeq.filterNot(_.name == "op").map { f =>
      val renamed = if (f.name == OrdCol) f.copy(name = s"valid_from_$OrdCol") else f
      renamed.copy(dataType = SnapshotTable.relaxNulls(renamed.dataType), nullable = true)
    }
    StructType(base :+
      StructField(s"valid_to_$OrdCol", ordType, nullable = true) :+
      StructField("is_current", BooleanType, nullable = true))
  }

  private def readSchema(tableDir: String): StructType = {
    val p = schemaPath(tableDir)
    require(Files.exists(p), s"no _scd2_schema.json at $tableDir")
    DataType.fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .asInstanceOf[StructType]
  }

  private def openBucketDir(tableDir: String, epoch: Long, bucket: Int): String =
    s"$tableDir/open/epoch=$epoch/_b=$bucket"

  private val timed = new graft.util.Timed("scd2-timing", "GRAFT_SCD2_TIMING")

  /** The current temporal table: all committed closed versions plus the
    * live open set, as ONE multi-path parquet relation (plan depth 1 —
    * the round-4 shape folded a `unionByName` per closed epoch, an
    * O(epochs)-deep logical plan that no driver survives at a month of
    * 5 s epochs). Open rows come from the meta's bucket map (each bucket
    * read from the epoch that last wrote it); closed dirs are fenced to
    * `epoch <= lastEpoch`, so an uncommitted `closed/epoch=N` left by a
    * crash between the data write and the meta move is invisible until
    * that epoch commits.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val meta = readMeta(tableDir).getOrElse(
      throw new IllegalStateException(s"no scd2 table at $tableDir"))
    val sch = readSchema(tableDir)
    val openPaths = meta.buckets.toSeq.sortBy(_._1)
      .map { case (b, e) => openBucketDir(tableDir, e, b) }
    val closedRoot = Paths.get(tableDir, "closed")
    val closedPaths =
      if (!Files.exists(closedRoot)) Seq.empty
      else graft.util.Tables.listClosed(closedRoot)(
        _.map(_.getFileName.toString)
          .flatMap(n => scala.util.Try(n.stripPrefix("epoch=").toLong).toOption)
          .filter(_ <= meta.lastEpoch) // fence: only committed epochs
          .toSeq.sorted.map(e => s"$tableDir/closed/epoch=$e"))
    val paths = openPaths ++ closedPaths
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
    else spark.read.schema(sch).parquet(paths: _*)
  }

  /** Delete open bucket dirs no longer referenced by the committed meta
    * (each epoch supersedes the touched buckets' previous versions; the
    * old files are retained until this maintenance call, like snapshot
    * expiry on the MERGE path). Never touches the referenced set or
    * anything at/above the fence. Returns dirs removed.
    */
  def vacuumOpen(tableDir: String): Int = {
    val meta = readMeta(tableDir).getOrElse(return 0)
    val live: Set[String] = meta.buckets.toSeq
      .map { case (b, e) => Paths.get(openBucketDir(tableDir, e, b)).toString }.toSet
    val openRoot = Paths.get(tableDir, "open")
    if (!Files.exists(openRoot)) return 0
    var removed = 0
    graft.util.Tables.listClosed(openRoot)(_.filter(Files.isDirectory(_)).toSeq)
      .filter { d =>
        val n = d.getFileName.toString
        scala.util.Try(n.stripPrefix("epoch=").toLong).toOption.exists(_ < meta.lastEpoch)
      }
      .foreach { epochDir =>
        graft.util.Tables.listClosed(epochDir)(_.filter(Files.isDirectory(_)).toSeq)
          .filterNot(b => live.contains(b.toString))
          .foreach { b => graft.util.Tables.deleteRecursively(b.toString); removed += 1 }
        if (graft.util.Tables.listClosed(epochDir)(_.forall(p =>
            !Files.isDirectory(p)))) // only _SUCCESS/stray files left
          graft.util.Tables.deleteRecursively(epochDir.toString)
      }
    removed
  }

  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    Files.createDirectories(Paths.get(cfg.tableDir))
    if (!Files.exists(schemaPath(cfg.tableDir))) {
      val tmp = Files.createTempFile(Paths.get(cfg.tableDir), ".schema", ".tmp")
      Files.write(tmp, tableSchema(cfg).json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, schemaPath(cfg.tableDir),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    var reader = spark.readStream.schema(cfg.schema)
    cfg.maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(cfg.logDir)
    val sch = tableSchema(cfg)
    val bucket = SnapshotTable.bucketOf(col(Model.KeyCol), cfg.numBuckets)

    val applyBatch: (Dataset[Row], Long) => Unit = { (batch, epochId) =>
      val meta = readMeta(cfg.tableDir)
      // epochId == lastEpoch is the legitimate checkpoint-recovery
      // re-delivery (no-op); BELOW it means a fresh checkpoint was pointed
      // at an existing table — every batch would silently no-op on the
      // fence, so fail loudly instead (same contract as the graft sink)
      meta.filter(_.lastEpoch > epochId).foreach { m =>
        throw new IllegalStateException(
          s"scd2 stream: batchId $epochId is below the committed fence " +
            s"${m.lastEpoch} at ${cfg.tableDir} — restarting with a fresh " +
            "checkpoint against an existing table drops data; retire the " +
            "table together with its checkpoint")
      }
      if (meta.exists(_.lastEpoch == epochId)) () // fenced replay: no-op
      else {
        val src = batch.persist() // same rationale as IngestJob: the
        // foreachBatch frame is RDD-backed; every action re-reads the
        // source files, and the fold below runs several
        try {
          val valid = src.filter(IngestJob.validExpr(src))
          val wms = meta.map(_.watermarks).getOrElse(Map.empty)
          // per-partition watermark filter: strictly-above keeps fresh
          // events, drops every re-delivery (incl. deleted-key inserts)
          val wmExpr = wms.foldLeft(lit(true)) { case (acc, (p, w)) =>
            acc && (col(PartitionCol) =!= p || col(OrdCol) > w)
          }
          val fresh = valid.filter(wmExpr)
          // ONE bounded action yields both the applied watermarks and the
          // touched-bucket set (≤ numPartitions rows on the driver)
          val stats = timed(s"epoch-$epochId stats")(fresh.groupBy(col(PartitionCol))
            .agg(max(col(OrdCol)).as("w"), collect_set(bucket).as("bs"))
            .collect())
          val applied = stats.map(r => r.getInt(0) -> r.getLong(1)).toMap
          val touched: Set[Int] = stats.flatMap(_.getSeq[Int](2)).toSet
          val bucketEpochs = meta.map(_.buckets).getOrElse(Map.empty[Int, Long])
          // prior open rows of ONLY the touched buckets — keys outside
          // them cannot appear in the batch, so Scd2.merge sees exactly
          // the open rows it can close
          val priorPaths = touched.toSeq.sorted
            .flatMap(b => bucketEpochs.get(b).map(e => openBucketDir(cfg.tableDir, e, b)))
          // ONE clustered write for both halves of the epoch (guide §2.4
          // "share the exchange", §6 small-files): the merged state is
          // partitioned by a destination column — 'closed' vs 'open_<b>'
          // — written once under a staging dir, and the driver MOVES each
          // partition dir into the table layout (same-filesystem renames).
          // This replaces the previous persist + two write jobs (whose
          // partitionBy from the window shuffle's partitioning fanned out
          // into tasks × touched-buckets tiny files) with a single
          // repartition(_dest) + write: every open bucket lands as exactly
          // one file, the closed set as one file per epoch, and the merge
          // plan is evaluated exactly once with no cache churn. Per-bucket
          // open sets are bounded by bucket count scaling at production,
          // so the single-task-per-bucket write cannot skew unboundedly.
          // Crash-safety is unchanged: data moves before the meta move,
          // and readers only follow the committed meta.
          val merged = (priorPaths match {
            case Nil => Scd2.fromChangelog(fresh, KeyCols, OrdCol)
            case ps => Scd2.merge(spark.read.schema(sch).parquet(ps: _*),
              fresh, KeyCols, OrdCol)
          })
          val staging = s"${cfg.tableDir}/_stage_epoch=$epochId"
          timed(s"epoch-$epochId write")(merged
            .withColumn("_dest",
              when(col("is_current"), concat(lit("open_"), bucket.cast("string")))
                .otherwise(lit("closed")))
            .repartition(col("_dest"))
            .write.partitionBy("_dest").mode("overwrite").parquet(staging))
          // move staged partition dirs into the table layout; replayed
          // epochs overwrite their own dirs (idempotent side channel)
          val closedDir = Paths.get(s"${cfg.tableDir}/closed/epoch=$epochId")
          val openEpochDir = Paths.get(s"${cfg.tableDir}/open/epoch=$epochId")
          graft.util.Tables.deleteRecursively(closedDir.toString)
          graft.util.Tables.deleteRecursively(openEpochDir.toString)
          graft.util.Tables.listClosed(Paths.get(staging))(_.filter(p =>
            p.getFileName.toString.startsWith("_dest=")).toSeq).foreach { d =>
            val dest = d.getFileName.toString.stripPrefix("_dest=") match {
              case "closed" => closedDir
              case open => openEpochDir.resolve(s"_b=${open.stripPrefix("open_")}")
            }
            Files.createDirectories(dest.getParent)
            Files.move(d, dest, StandardCopyOption.ATOMIC_MOVE)
          }
          graft.util.Tables.deleteRecursively(staging)
          // a touched bucket with no surviving open rows leaves no dir
          // (all its keys deleted) — drop it from the map entirely
          val emptied = touched.filterNot(b =>
            Files.exists(Paths.get(openBucketDir(cfg.tableDir, epochId, b))))
          val newBuckets = (bucketEpochs ++ touched.map(_ -> epochId)) -- emptied
          val newWms = (wms.keySet ++ applied.keySet).map(p =>
            p -> math.max(wms.getOrElse(p, Long.MinValue),
              applied.getOrElse(p, Long.MinValue))).toMap
          // meta (fence + watermarks + bucket map) moves last — a crash
          // before this point replays the epoch onto the old pointer
          writeMeta(cfg.tableDir, Meta(epochId, newWms, newBuckets))
        } finally src.unpersist()
      }
      ()
    }

    stream.writeStream
      .queryName(cfg.queryId)
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(
        if (cfg.availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(cfg.processingTime))
      .foreachBatch(applyBatch)
      .start()
  }
}
