package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The per-layer metric catalogue (name -> unit) and the builders shared
  * by the workloads. Every traced run prints every metric; a layer the
  * workload does not touch reads 0.
  */
object Layers {

  val catalogue: Seq[(String, String)] = Seq(
    "IngestJob.batches" -> "count",
    "IngestJob.trigger_p50_ms" -> "ms",
    "IngestJob.overhead_ms" -> "ms",
    "IngestJob.add_batch_ms" -> "ms",
    "IngestJob.rows_per_batch" -> "rows",
    "MergeEngine.events_in" -> "events",
    "MergeEngine.below_watermark" -> "events",
    "MergeEngine.collapsed_in_batch" -> "events",
    "MergeEngine.rows_written" -> "rows",
    "MergeEngine.useful_ratio" -> "ratio",
    "MergeEngine.touched_buckets_mean" -> "buckets",
    "MergeEngine.compactions" -> "count",
    "MergeEngine.compact_ms" -> "ms",
    "SnapshotTable.versions" -> "count",
    "SnapshotTable.live_files" -> "files",
    "SnapshotTable.delta_files" -> "files",
    "SnapshotTable.max_delta_files_per_bucket" -> "files",
    "SnapshotTable.space_amp" -> "ratio",
    "SnapshotTable.incr_rows_read_per_row" -> "ratio",
    "Manifest.bytes_per_commit" -> "bytes",
    "GraftSource.lookup_plan_ms" -> "ms",
    "GraftSource.lookup_jobs_per_op" -> "jobs",
    "GraftSource.lookup_rows_read_per_row" -> "ratio",
    "ChangeFeed.rows_out" -> "rows",
    "ChangeFeed.rows_read_per_row_out" -> "ratio",
    "ChangeFeed.jobs_per_op" -> "jobs",
    "Scd2Stream.replay_ms" -> "ms",
    "Scd2Stream.batches" -> "count",
    "Scd2Stream.output_files" -> "files",
    "spark.jobs" -> "jobs/op",
    "spark.stages" -> "stages/op",
    "spark.tasks" -> "tasks/op",
    "spark.task_busy_ms" -> "ms/op",
    "spark.busy_share" -> "ratio",
    "spark.gc_ms" -> "ms/op",
    "spark.input_bytes" -> "bytes/op",
    "spark.output_bytes" -> "bytes/op",
    "spark.shuffle_write_bytes" -> "bytes/op",
    "spark.shuffle_read_bytes" -> "bytes/op",
    "spark.spill_bytes" -> "bytes/op",
    "spark.task_skew" -> "ratio",
    "spark.single_thread_events_per_s" -> "events/s",
    "trace.overhead_ratio" -> "ratio")

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.quantile(xs, 0.5)

  /** Micro-batch figures of one streaming query, from its progress events. */
  def stream(prefix: String, ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val batches = ps.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.asScala.getOrElse(k, null)).map(_.doubleValue).getOrElse(0.0)
    Map(
      s"$prefix.batches" -> batches.size.toDouble,
      s"$prefix.trigger_p50_ms" -> median(batches.map(d(_, "triggerExecution"))),
      s"$prefix.overhead_ms" ->
        median(batches.map(p => d(p, "triggerExecution") - d(p, "addBatch"))),
      s"$prefix.add_batch_ms" -> median(batches.map(d(_, "addBatch"))),
      s"$prefix.rows_per_batch" ->
        (if (batches.isEmpty) 0.0 else batches.map(_.numInputRows).sum.toDouble / batches.size))
  }

  /** Spark work of the traced pass's ops (not their checks, not the
    * reference job), per op, and how busy the cores were over the pass.
    */
  def spark(t: Tracer, pass: Pass, cores: Int): Map[String, Double] = {
    val a = t.work(_.startsWith("op."))
    val per = math.max(1, pass.opsDone).toDouble
    Map(
      "spark.jobs" -> a.jobs / per,
      "spark.stages" -> a.stages / per,
      "spark.tasks" -> a.tasks / per,
      "spark.task_busy_ms" -> a.runMs / per,
      "spark.busy_share" -> a.runMs / (pass.wallS * 1000.0 * cores),
      "spark.gc_ms" -> a.gcMs / per,
      "spark.input_bytes" -> a.inputBytes / per,
      "spark.output_bytes" -> a.outputBytes / per,
      "spark.shuffle_write_bytes" -> a.shuffleWrite / per,
      "spark.shuffle_read_bytes" -> a.shuffleRead / per,
      "spark.spill_bytes" -> a.spill / per,
      "spark.task_skew" -> t.worstSkew)
  }

  /** Jobs per call and input rows read per row returned, for the spans
    * called `name`.
    */
  def readPath(t: Tracer, name: String, rowsOut: Long): (Double, Double) = {
    val a = t.work(_ == name)
    val calls = math.max(1, t.closed(name).size).toDouble
    (a.jobs / calls, a.inputRecords / math.max(1.0, rowsOut.toDouble))
  }
}
