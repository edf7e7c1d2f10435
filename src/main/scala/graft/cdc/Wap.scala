package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-Audit-Publish: the commit-path quality gate a training-data lake
  * runs so a poisoned batch can never become reader-visible.
  *
  * The reference runs its dbt tests AFTER materialization — a failing
  * test leaves the bad rows already live in the warehouse until the next
  * run (dbt_transformation_dag.py:56-109 gates the DAG, not the data).
  * Here the gate moves INSIDE the commit protocol, the way Iceberg's WAP
  * pattern stages a snapshot on a branch:
  *
  *  1. [[stage]] writes the batch's MOR delta files exactly as
  *     [[MergeEngine.merge]] would (same watermark filter, same schema
  *     evolution, same file shape — it IS MergeEngine's staging half, so
  *     the paths cannot drift), but publishes NOTHING: no manifest
  *     references the files, so every concurrent reader still sees the
  *     pre-batch snapshot.
  *  2. [[audit]] runs the dbt-style assertions against the staged rows
  *     (O(batch), never O(table)): null keys, token count consistency
  *     and bounds, and same-(key, lsn) payload conflicts.
  *  3. [[publish]] is a pure METADATA commit ([[MergeEngine.publish]]:
  *     the staged files re-point onto whatever manifest is current, with
  *     automatic rebase on an optimistic-concurrency loss and the usual
  *     epoch-fence no-op on replay) — or [[abandon]] deletes the staged
  *     files and the table is untouched, as if the batch never arrived.
  *
  * Crash notes: a stager that dies before publish/abandon leaves orphan
  * files in a `data/v{N}-*` dir that no record names. The table's own
  * expiry deletes only files an expired record names, so it never takes
  * a stage, however long the audit runs. An explicit
  * `expireSnapshots` deletes the orphans once the table's version has
  * passed N and they are older than its `minAgeMs`.
  */
object Wap {

  /** A staged-but-unpublished epoch. `outcome` adds no entries for a
    * batch that was entirely below the watermarks (publish = metadata-only
    * advance) and [[MergeEngine.FenceCovered]] for a replayed epoch
    * (publish = no-op).
    */
  final case class Staged private[cdc] (outcome: MergeEngine.StageOutcome)

  /** Audit outcome: (check name, violating rows) for every failed check. */
  final case class AuditReport(checked: Seq[String], failures: Seq[(String, Long)]) {
    def passed: Boolean = failures.isEmpty
  }

  def stage(
      spark: SparkSession,
      table: SnapshotTable,
      events: DataFrame,
      queryId: String,
      epochId: Long): Staged =
    Staged(MergeEngine.stageMor(spark, table, events, queryId, epochId))

  /** The staged delta rows as change rows (payload + lsn + op), read the
    * same way a publish-time reconcile would read them.
    */
  def stagedRows(spark: SparkSession, table: SnapshotTable, staged: Staged): Option[DataFrame] =
    staged.outcome match {
      // the step's schema list on the current manifest is the one its
      // entries' schemaIds index
      case st: MergeEngine.Step if st.added.nonEmpty =>
        Some(table.readEntries(spark, st.on(table.manifest.get), st.added))
      case _ => None
    }

  /** dbt-style gates against the staged epoch, O(batch):
    *
    *  - `not_null_key` — no null doc_id in the staged rows;
    *  - `n_tok_consistent` — upserts carry n_tok == size(tokens),
    *    null-safely: a row with tokens null (or n_tok null) on a
    *    non-delete op is flagged rather than slipping through a
    *    null-valued comparison;
    *  - `n_tok_in_range` — upserts carry 1 <= n_tok <= `IngestJob.DefaultMaxTok`;
    *  - `unique_key_same_lsn_conflict` — two staged rows at the same
    *    (key, lsn) must be byte-identical re-deliveries (the at-least-once
    *    transport contract); CONFLICTING payloads at one (key, lsn) would
    *    make the reconcile winner an arbitrary pick. This replaces the
    *    earlier post-publish-preview uniqueness count, which read through
    *    the last-LSN-wins reconcile and therefore could never observe a
    *    duplicate — a gate structurally unable to fire (and the audit's
    *    most expensive pass: O(batch + touched buckets) per epoch).
    *
    * The three row checks fold into ONE conditional-count aggregation
    * over one scan of the staged rows (the Pipeline.Checks single-pass
    * shape); the conflict check is one groupBy over the same staged rows.
    */
  def audit(
      spark: SparkSession,
      table: SnapshotTable,
      staged: Staged): AuditReport = {
    val rowChecks = Seq("not_null_key", "n_tok_consistent", "n_tok_in_range")
    val checked = rowChecks :+ "unique_key_same_lsn_conflict"
    stagedRows(spark, table, staged) match {
      case None => AuditReport(checked, Seq.empty) // nothing staged = nothing to gate
      case Some(rows) =>
        val upsert = col("op") =!= Model.OpDelete
        val counts = rows.agg(
          sum(when(col(Model.KeyCol).isNull, 1L).otherwise(0L)),
          sum(when(upsert && (col("tokens").isNull || col("n_tok").isNull ||
            col("n_tok") =!= size(col("tokens"))), 1L).otherwise(0L)),
          sum(when(upsert && !col("n_tok").between(1, IngestJob.DefaultMaxTok), 1L).otherwise(0L))
        ).head()
        val rowFailures = rowChecks.zipWithIndex
          .map { case (name, i) => name -> (if (counts.isNullAt(i)) 0L else counts.getLong(i)) }
          .filter(_._2 > 0)
        val payload = rows.columns.filterNot(c => c == Model.KeyCol || c == "lsn")
        val conflicts = rows
          .groupBy(col(Model.KeyCol), col("lsn"))
          .agg(countDistinct(struct(payload.map(col): _*)).as("__variants"))
          .filter(col("__variants") > 1).count()
        val failures = rowFailures ++
          (if (conflicts > 0) Seq("unique_key_same_lsn_conflict" -> conflicts) else Nil)
        AuditReport(checked, failures)
    }
  }

  /** Metadata-only commit of the staged epoch (with MergeEngine's usual
    * automatic rebase and fence semantics). Call only after [[audit]]
    * passes — publishing is what makes the batch reader-visible.
    */
  def publish(table: SnapshotTable, staged: Staged): MergeEngine.MergeResult =
    MergeEngine.publish(table, staged.outcome)

  /** Drop the staged epoch: delete its files; the table never saw it. */
  def abandon(staged: Staged): Unit = staged.outcome match {
    case st: MergeEngine.Step => st.cleanup()
    case _ => ()
  }
}
