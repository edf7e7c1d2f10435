package graft.cdc

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Driver-side parquet-footer statistics: per-file row count and min/max
  * `_lsn` for the manifest (file-skipping metadata), read from block
  * metadata — no Spark job, O(files) footer reads.
  */
object FileStats {

  def entries(spark: SparkSession, files: Seq[(String, Int)]): Seq[FileEntry] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val conf = spark.sparkContext.hadoopConfiguration
    val futures = files.map { case (path, bucket) => Future(entry(conf, path, bucket)) }
    Await.result(Future.sequence(futures), Duration.Inf)
  }

  private def entry(conf: org.apache.hadoop.conf.Configuration, path: String,
      bucket: Int): FileEntry = {
    {
      val (rows, minLsn, maxLsn, bLo, bHi, bytes, kLo, kHi) = Try {
        val inputFile = HadoopInputFile.fromPath(new HPath(path), conf)
        val fileBytes = inputFile.getLength
        val reader = ParquetFileReader.open(inputFile)
        try {
          val blocks = reader.getFooter.getBlocks.asScala
          val rows = blocks.map(_.getRowCount).sum
          def colStats(name: String) = blocks.flatMap { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == name)
              .map(_.getStatistics)
              .filter(s => s != null && s.hasNonNullValue)
          }
          val lsnStats = colStats(Model.LsnCol)
          val mins = lsnStats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue)
          val maxs = lsnStats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue)
          // delta files carry a `_bucket` int column (written as the
          // batch arrives, unsorted): its footer min/max is the file's
          // bucket range — the metadata compaction/read pruning keys off
          val bStats = colStats(Model.BucketCol)
          val bLos = bStats.map(_.genericGetMin.asInstanceOf[java.lang.Integer].intValue)
          val bHis = bStats.map(_.genericGetMax.asInstanceOf[java.lang.Integer].intValue)
          // key-column (doc_id) range, for point-lookup file skipping.
          // Binary stats are UNSIGNED-byte ordered; min-of-mins /
          // max-of-maxs across blocks must use the same order
          // (FileEntry.utf8Leq), not String.compareTo. Parquet may
          // truncate long binary stats, but truncation only WIDENS the
          // bound (min rounds down, max rounds up) — still safe to prune
          // on.
          val kStats = colStats(Model.KeyCol)
            .filter(_.isInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics])
          val kLos = kStats.map(s => new String(
            s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
            java.nio.charset.StandardCharsets.UTF_8))
          val kHis = kStats.map(s => new String(
            s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
            java.nio.charset.StandardCharsets.UTF_8))
          (rows,
            if (mins.nonEmpty) mins.min else Long.MinValue,
            if (maxs.nonEmpty) maxs.max else Long.MaxValue,
            if (bLos.nonEmpty) bLos.min else -1,
            if (bHis.nonEmpty) bHis.max else -1,
            fileBytes,
            if (kLos.nonEmpty && kStats.size == blocks.size)
              kLos.reduce((a, b) => if (FileEntry.utf8Leq(a, b)) a else b) else null,
            if (kHis.nonEmpty && kStats.size == blocks.size)
              kHis.reduce((a, b) => if (FileEntry.utf8Leq(a, b)) b else a) else null)
        } finally reader.close()
      }.getOrElse((-1L, Long.MinValue, Long.MaxValue, -1, -1, 0L, null, null))
      val (lo, hi) =
        if (bLo >= 0) (bLo, bHi)
        else if (bucket >= 0) (bucket, bucket)
        else (0, Int.MaxValue)
      FileEntry(path, bucket, minLsn, maxLsn, rows, FileEntry.Base, lo, hi, bytes,
        minKey = kLo, maxKey = kHi)
    }
  }
}
