package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{ChangelogGen, Model}

object Stats {
  /** Linear-interpolated quantile of `xs` (0 <= p <= 1). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples strictly above the p-quantile: a percentile is reported only
    * when at least ten samples lie beyond it.
    */
  def beyond(n: Int, p: Double): Int = n - 1 - math.floor(p * (n - 1)).toInt
}

/** A named series of latency samples in milliseconds. */
final class Series(val name: String) {
  private val buf = mutable.ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { buf += ms }
  def values: Vector[Double] = synchronized(buf.toVector)
  def n: Int = values.size
  def p(q: Double): Double = if (values.isEmpty) Double.NaN else Stats.quantile(values, q)
}

/** Op accounting shared by every workload: an op that throws or returns a
  * wrong result is counted as failed and leaves no latency sample, so it
  * can never read as a fast op.
  */
final class Ops {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)

  /** Times `run`; checks its result afterwards, outside the timed region. */
  def timed[A](series: Series)(run: => A)(check: A => Boolean): Unit = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val r = try Right(run) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Right(a) => if (verify(series.name, check(a))) series.add(ms)
      case Left(e) => fail(series.name, e.toString)
    }
  }

  /** A correctness check that is not timed; counts as one op. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted.incrementAndGet()
    verify(name, ok)
  }

  private def verify(name: String, ok: => Boolean): Boolean = {
    val r = try ok catch { case NonFatal(e) => fail(name, e.toString); return false }
    if (!r) fail(name, "result differs from the oracle")
    r
  }

  def fail(name: String, why: String): Unit = {
    failed.incrementAndGet()
    System.err.println(s"[perfbench] FAILED $name: $why")
  }
}

/** Phase timings for the run's log (stderr). */
object Log {
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

/** Named figures of the report line printed before the result. */
object Report {
  def value(v: Double, unit: String, n: Int): Map[String, Any] =
    Map("value" -> v, "unit" -> unit, "n" -> n)

  /** Median and every listed percentile that leaves at least ten samples
    * beyond it, with the sample count.
    */
  def latency(s: Series, pcts: Seq[Double] = Seq(0.9, 0.95, 0.99)): Map[String, Any] = {
    val n = s.n
    val tails = pcts.filter(p => n > 0 && Stats.beyond(n, p) >= 10)
      .map(p => f"p${p * 100}%.0f_ms" -> s.p(p))
    Map("n" -> n, "p50_ms" -> s.p(0.5)) ++ tails ++
      Map("samples_ms" -> s.values.map(v => math.round(v * 10) / 10.0))
  }
}

/** The reference job: a fixed small Spark job that reads no table of the
  * engine — a range scan, a hash aggregate over a shuffle, and a collect.
  * Timed between ops, it tracks how fast the machine is at that moment;
  * on a shared VM that speed swings by a third within minutes, and the
  * gated latency and throughput are expressed in units of this job's
  * median time in the same pass.
  */
object Reference {
  def ms(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 400000L, 1L, spark.sparkContext.defaultParallelism)
      .groupBy((col("id") % 97).as("k")).agg(max(xxhash64(col("id")))).collect()
    (System.nanoTime() - t0) / 1e6
  }

}

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Double,
    cores: Int, tracer: Tracer, ops: Ops) {
  def dir(name: String): String = work.resolve(name).toString
}

/** What one timed pass measured: the workload's op latencies and work per
  * second, the reference job's times, the workload's own named figures
  * for the report, and the pass's wall time.
  */
final case class Pass(latencyMs: Series, throughputPerS: Double, refMs: Series,
    report: Seq[(String, Any)], wallS: Double, opsDone: Int) {
  /** Median op latency in units of the reference job's median. */
  def latencyRef: Double = latencyMs.p(0.5) / refMs.p(0.5)
  /** Work done per reference-job time. */
  def throughputRef: Double = throughputPerS * refMs.p(0.5) / 1000.0
}

trait Workload {
  def name: String
  /** Input sizes and settings, printed with every run. */
  def inputs: Seq[(String, Any)]
  /** Input generation, set-up table build and oracle computation. */
  def setup(ctx: Ctx): Unit
  /** Untimed pass over small inputs so the timed loop meets warm code. */
  def warmup(ctx: Ctx): Unit
  /** The timed loop, `ctx.seconds` long. */
  def measure(ctx: Ctx): Pass
  /** Per-layer figures of the last (traced) pass. */
  def layers(ctx: Ctx, pass: Pass): Map[String, Double]
}

object Frames {
  private def canon(d: DataFrame, cols: Seq[String]): DataFrame =
    d.select(to_json(struct(cols.map(col): _*)).as("row"))

  /** Order-independent fingerprint of `cols` of `d`: row count plus two
    * exact sums of 64- and 32-bit hashes of each row's JSON text (which
    * ignores nullability and column order). Equal multisets of rows give
    * equal fingerprints; a differing row changes both sums.
    */
  def fingerprint(d: DataFrame, cols: Seq[String]): (Long, BigDecimal, BigDecimal) = {
    val r = canon(d, cols).agg(count(lit(1)),
      sum(xxhash64(col("row")).cast("decimal(38,0)")),
      sum(hash(col("row")).cast("decimal(38,0)"))).head()
    def dec(i: Int) = if (r.isNullAt(i)) BigDecimal(0) else BigDecimal(r.getDecimal(i))
    (r.getLong(0), dec(1), dec(2))
  }
}

/** The change log as the engine reads it: ordered parquet files written
  * from `ChangelogGen`'s seeded event and duplicate streams.
  */
object Logs {
  /** `cfg.numFiles` chunks of fresh events plus two trailing chunks; the
    * re-deliveries of chunk k arrive in chunk k+2, as in
    * `ChangelogGen.writeLog`, but written in one Spark job.
    */
  def write(spark: SparkSession, cfg: ChangelogGen.Config, dir: String): Unit = {
    val chunk = math.max(1L, math.ceil(cfg.numEvents.toDouble / cfg.numFiles).toLong)
    val fresh = ChangelogGen.events(spark, cfg).withColumn("_chunk", floor(col("lsn") / chunk))
    val late = ChangelogGen.duplicates(spark, cfg)
      .withColumn("_chunk", floor(col("lsn") / chunk) + 2)
    Files.createDirectories(Paths.get(dir))
    ChangelogGen.writeChunkedLog(fresh.unionByName(late), Paths.get(dir),
      k => f"chunk-$k%05d.parquet", System.currentTimeMillis(), 0L until cfg.numFiles + 2L)
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Model.changeEventSchema).parquet(dir)

  /** Chunk index of each row, from the file it was read from. */
  val chunkOf: Column =
    regexp_extract(input_file_name(), "chunk-(\\d+)\\.parquet", 1).cast("int")
}

/** Minimal JSON writer for flat results. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
