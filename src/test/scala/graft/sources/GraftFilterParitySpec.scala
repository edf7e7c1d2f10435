package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.cdc.{ChangelogGen, IngestJob, Model, SnapshotTable}

/** Every filter shape `format("graft")` pushes reads the same rows through
  * both tiers: the optimizer rule's substituted plan, and the V1
  * `buildScan` fallback with Spark re-applying the filters the relation
  * declares unhandled. Each must equal the library read of the same
  * snapshot followed by the same filter — current and `version` alike.
  */
class GraftFilterParitySpec extends SparkSpec {

  /** A merge-on-read table: four delta epochs, no compaction. */
  private lazy val table: SnapshotTable = {
    val cfg = ChangelogGen.Config(numEvents = 4000, numDocs = 800, numFiles = 4)
    val logDir = tmpDir("gpar-log")
    ChangelogGen.writeLog(spark, cfg, logDir.toString)
    IngestJob.replay(spark, IngestJob.Config(
      logDir = logDir.toString,
      tableDir = tmpDir("gpar-table").toString,
      checkpointDir = tmpDir("gpar-ckpt").toString,
      numBuckets = 8,
      maxFilesPerTrigger = Some(1)))
  }

  private val L = Model.LsnCol

  /** The shapes, with keys and LSNs drawn from the snapshot read. */
  private def shapes(snap: DataFrame): Seq[(String, Column)] = {
    val keys = snap.select("doc_id").orderBy("doc_id").collect().map(_.getString(0)).toSeq
    val lsns = snap.select(L).orderBy(L).collect().map(_.getLong(0)).toSeq
    val x = lsns(lsns.size / 2)
    val some = keys.indices.by(keys.size / 12).take(12).map(keys)
    Seq(
      "doc_id = k" -> (col("doc_id") === some(3)),
      "k = doc_id" -> (lit(some(3)) === col("doc_id")),
      "IN (3 keys)" -> col("doc_id").isin(some.take(3): _*),
      "InSet (13 keys)" -> col("doc_id").isin(some :+ "absent-key": _*),
      "IN holding a null" -> col("doc_id").isin(some.take(3) :+ null: _*),
      // two IN lists: `k0 = doc_id AND k1 = doc_id` would be folded to
      // false by constant propagation before any source sees it
      "contradictory keys" ->
        (col("doc_id").isin(some.take(2): _*) && col("doc_id").isin(some.slice(2, 4): _*)),
      "_lsn >= x" -> (col(L) >= x),
      "_lsn > x" -> (col(L) > x),
      "_lsn = x" -> (col(L) === x),
      "x < _lsn" -> (lit(x) < col(L)),
      // no floor exists above the largest long: nothing may be declared handled
      "_lsn > max long" -> (col(L) > Long.MaxValue),
      "keys and floor" -> (col("doc_id").isin(some: _*) && col(L) >= x))
  }

  private def sorted(df: DataFrame): Seq[Row] = df.orderBy("doc_id").collect().toSeq

  /** Runs `body` with the substitution rule switched off, so the session
    * plans `format("graft")` as the V1 `PrunedFilteredScan`.
    */
  private def withoutRule[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, "graft.plans.GraftRelationSubstitution")
    try body finally spark.conf.unset(key)
  }

  test("every pushed filter shape reads the same rows through the rule, buildScan and the library") {
    val v = table.currentVersion.get - 2
    Seq(None, Some(v)).foreach { version =>
      val lib = version.fold(table.readWithLsn(spark))(table.readVersionWithLsn(spark, _))
      def source = version.fold(spark.read)(spark.read.option("version", _))
        .format("graft").load(table.root)
      shapes(lib).foreach { case (name, c) =>
        val at = s"'$name' at ${version.fold("current")(w => s"v$w")}"
        val want = sorted(lib.filter(c))
        assert(want.isEmpty == Set("contradictory keys", "_lsn > max long")(name),
          s"degenerate shape: $at")
        assert(sorted(source.filter(c)) === want, s"rule read diverges: $at")
        withoutRule {
          val viaV1 = source.filter(c)
          val scans = SparkSpec.nodes(viaV1.queryExecution.executedPlan)
            .collect { case s: RowDataSourceScanExec => s }
          assert(scans.nonEmpty, s"not planned as the V1 scan: $at")
          assert(sorted(viaV1) === want, s"buildScan read diverges: $at")
        }
      }
    }
  }
}
