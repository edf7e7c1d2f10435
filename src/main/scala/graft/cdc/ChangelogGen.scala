package graft.cdc

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.util.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, seeded change-log generator (FIXTURES.md §1). Every
  * column is a pure Catalyst expression of the event index, so generation
  * is fully distributed (no driver loop over events) and reproducible at
  * any scale — the 10^10-event north-star input is this same expression
  * tree over a bigger `spark.range`.
  *
  * Emulates the reference's traffic shape: zipf-skewed doc hotness (the
  * Manhattan-zone hot keys, send_trips.py:11-14), keyed partition routing
  * (kafka_producer.py:44), ~2% duplicate re-delivery (the ~133K duplicate
  * trip_ids, models/staging/schema.yml:8), I/U/D op mix with deletes rare
  * (payment_type 6 'Voided', dim_payment_types.sql:10).
  */
object ChangelogGen {

  case class Config(
      numEvents: Long,
      numDocs: Long,
      numPartitions: Int = 3,
      seed: Long = 42L,
      zipfExp: Double = 3.0,       // doc popularity skew: u^zipfExp concentrates on low doc ids
      pctInsert: Int = 70,
      pctUpdate: Int = 25,         // remainder is delete
      dupPerMille: Int = 20,       // ~2% duplicate re-delivery
      maxTokens: Int = 64,
      vocab: Int = 50257,
      numFiles: Int = 12)

  private def u01(c: Column, salt: Long): Column =
    pmod(xxhash64(c, lit(salt)), lit(1000000L)).cast("double") / lit(1000000.0)

  /** The base (duplicate-free) event stream as a DataFrame; lsn == event
    * index, globally monotone.
    */
  def events(spark: SparkSession, cfg: Config): DataFrame = {
    val id = col("id")
    val docIdx = floor(lit(cfg.numDocs.toDouble) * pow(u01(id, cfg.seed), lit(cfg.zipfExp)))
      .cast("long")
    val opRoll = pmod(xxhash64(id, lit(cfg.seed + 1)), lit(100L))
    val op = when(opRoll < cfg.pctInsert, Model.OpInsert)
      .when(opRoll < cfg.pctInsert + cfg.pctUpdate, Model.OpUpdate)
      .otherwise(Model.OpDelete)
    val docId = md5(concat(lit("doc-"), docIdx.cast("string")))
    val nTok = (lit(1L) + pmod(xxhash64(id, lit(cfg.seed + 2)), lit(cfg.maxTokens.toLong)))
      .cast("int")
    val tokens = transform(
      sequence(lit(0), nTok - 1),
      j => pmod(xxhash64(id, j, lit(cfg.seed + 3)), lit(cfg.vocab.toLong)).cast("int"))
    val source = element_at(
      typedLit(Seq("web", "books", "code", "wiki")),
      (pmod(xxhash64(docIdx, lit(cfg.seed + 4)), lit(4L)) + 1L).cast("int"))
    val isDelete = op === Model.OpDelete

    spark.range(cfg.numEvents).select(
      id.as("lsn"),
      pmod(xxhash64(docId), lit(cfg.numPartitions.toLong)).cast("int").as("partition"),
      op.as("op"),
      docId.as("doc_id"),
      when(!isDelete, tokens).as("tokens"),
      when(!isDelete, nTok).as("n_tok"),
      when(!isDelete, source).as("source"),
      timestamp_millis(lit(1700000000000L) + id * 1000L).as("ts"))
  }

  /** Seeded subset of events re-delivered verbatim (duplicate delivery). */
  def duplicates(spark: SparkSession, cfg: Config): DataFrame =
    events(spark, cfg).filter(
      pmod(xxhash64(col("lsn"), lit(cfg.seed + 5)), lit(1000L)) < cfg.dupPerMille)

  /** Write the log as an ordered series of parquet files under `logDir`
    * (the file-based changelog the streaming source tails; file order ==
    * arrival order). Duplicate deliveries of chunk k are appended to chunk
    * k+2, so they arrive in a *later* micro-batch and exercise the
    * cross-batch watermark filter, not just within-batch dedup.
    */
  def writeLog(spark: SparkSession, cfg: Config, logDir: String): Unit = {
    val dir = Paths.get(logDir)
    Files.createDirectories(dir)
    val chunk = math.max(1L, math.ceil(cfg.numEvents.toDouble / cfg.numFiles).toLong)
    val base = events(spark, cfg)
    val dups = duplicates(spark, cfg)
    // Arrival order is part of the changelog contract (per-partition
    // LSN-monotone delivery, like a WAL/binlog): FileStreamSource orders
    // new files by modification time, so stamp strictly increasing mtimes.
    val t0 = System.currentTimeMillis()
    // two trailing dup-only chunks so re-deliveries of the last fresh
    // chunks still arrive (just later)
    for (k <- 0 until cfg.numFiles + 2) {
      val lo = k * chunk
      val hi = math.min(cfg.numEvents, (k + 1) * chunk)
      val fresh = base.filter(col("lsn") >= lo && col("lsn") < hi)
      val late = dups.filter(col("lsn") >= (k - 2) * chunk && col("lsn") < (k - 1) * chunk)
      val part = if (k >= 2) fresh.unionByName(late) else fresh
      if (lo < cfg.numEvents || k >= 2)
        writeSingleFile(part.orderBy("lsn"), dir, f"chunk-$k%05d.parquet", Some(t0 + k * 1000L))
    }
  }

  /** Write a pre-tagged multi-chunk log in ONE Spark job: `df` carries a
    * `_chunk` column; every chunk's rows hash to one task (repartition on
    * `_chunk`), are locally sorted by (chunk, lsn), and land as exactly one
    * file per chunk via partitionBy — then the driver moves each part file
    * to `dir/nameOf(k)` with a strictly increasing mtime (arrival order,
    * the WAL contract). Replaces K sequential `orderBy.coalesce(1)` writes
    * (each a sample+sort+write job) with one shuffle-light job — the
    * guide's "fewer jobs/fewer shuffles" shape for fixture builds; the
    * per-file content is identical (chunk rows, lsn-ascending).
    */
  def writeChunkedLog(df: DataFrame, dir: Path, nameOf: Long => String,
      t0: Long, expected: Seq[Long] = Seq.empty): Unit = {
    val tmp = Files.createTempDirectory("graft-log-chunks")
    df.repartition(col("_chunk"))
      .sortWithinPartitions(col("_chunk"), col("lsn"))
      .write.partitionBy("_chunk").mode("overwrite").parquet(tmp.toString)
    val chunkDirs = Tables.listClosed(tmp)(_.filter(_.getFileName.toString.startsWith("_chunk="))
      .toSeq.sortBy(_.getFileName.toString.stripPrefix("_chunk=").toLong))
    if (expected.nonEmpty) {
      // an empty chunk writes no file at all — that would silently change
      // the epoch count downstream fences/lineage depend on; fail loudly
      val got = chunkDirs.map(_.getFileName.toString.stripPrefix("_chunk=").toLong).toSet
      val missing = expected.filterNot(got.contains)
      require(missing.isEmpty, s"writeChunkedLog: empty chunk(s) $missing — " +
        "the log would have fewer files than epochs expected")
    }
    for (cd <- chunkDirs) {
      val k = cd.getFileName.toString.stripPrefix("_chunk=").toLong
      val part = partFileIn(cd)
      val dest = dir.resolve(nameOf(k))
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(t0 + k * 1000L))
    }
    Tables.deleteRecursively(tmp.toString)
  }

  /** Write a DataFrame as exactly one parquet file named `name` in `dir`
    * (so the log is a flat, ordered file sequence).
    */
  def writeSingleFile(df: DataFrame, dir: Path, name: String,
      mtimeMs: Option[Long] = None): Unit = {
    val tmp = Files.createTempDirectory("graft-log-chunk")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = partFileIn(tmp)
    val dest = dir.resolve(name)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    mtimeMs.foreach(t => Files.setLastModifiedTime(dest, java.nio.file.attribute.FileTime.fromMillis(t)))
    Tables.deleteRecursively(tmp.toString)
  }

  private def partFileIn(dir: Path): Path =
    Tables.listClosed(dir)(_.find(_.getFileName.toString.startsWith("part-")))
      .getOrElse(sys.error(s"no part file written in $dir"))
}
