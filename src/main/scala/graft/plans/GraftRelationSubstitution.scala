package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.Model
import graft.sources.GraftRelation

/** Optimizer rule (injected by [[graft.GraftExtensions]]) that replaces a
  * `format("graft")` V1 relation with the ENGINE'S OWN read plan — plain
  * parquet file scans plus the merge-on-read reconcile where deltas
  * exist.
  *
  * Why: the V1 `PrunedFilteredScan` contract returns `RDD[Row]`, so every
  * row an external consumer reads crosses an InternalRow→Row→InternalRow
  * wall and whole-stage codegen fuses only inside the delegated plan,
  * never across the source boundary (~2× CPU on scan-bound reads). A
  * DSv2 columnar reader is the textbook fix but cannot host the MOR
  * reconcile (a Scan cannot shuffle); substituting the library plan at
  * the logical level gives external readers bit-identical semantics AND
  * the library's physical plan: columnar parquet scans, pruning/pushdown
  * via Catalyst, one fused codegen span. Sessions without the extension
  * still work through the V1 fallback.
  *
  * The `_lsn` floor pushdown survives: a Filter directly above the
  * relation is mined for `_lsn >= / > / =` conjuncts and the floor goes
  * to [[graft.cdc.SnapshotTable.readBuckets]], which skips whole files
  * by their manifest `maxLsn` before a byte is read. The Filter itself
  * is kept (the floor predicate re-evaluates for free, the other
  * conjuncts remain Spark's job), so the rewrite can never change
  * results — only the file set read.
  *
  * A bounded `doc_id` key set — `=`, `IN`, or the `InSet` that
  * `OptimizeIn` makes of an IN list of more than 10 literals — goes to
  * [[graft.cdc.SnapshotTable.lookupKeysWithLsn]] instead, for the
  * current snapshot and for `option("version")` time travel alike. The
  * lookup runs its one pruned scan job WHILE this rule fires — a
  * `FileScanRDD` over the pruned files, read by Spark's parquet reader
  * directly, with no nested query to plan — and comes back as a local
  * relation, so the executed query has no Exchange and runs no further
  * job.
  *
  * Output attributes keep the relation's ExprIds via an aliasing Project,
  * so references in the surrounding plan stay valid; the rule fires once
  * per relation (the substituted subtree contains no graft relations) and
  * is idempotent under the optimizer's fixpoint batches.
  */
case class GraftRelationSubstitution(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case Filter(cond, l: LogicalRelation) if isGraft(l) =>
      Filter(cond, substitute(l, lsnFloor(cond), keyLookup(cond)))
    case l: LogicalRelation if isGraft(l) =>
      substitute(l, None, None)
  }

  private def isGraft(l: LogicalRelation): Boolean =
    l.relation.isInstanceOf[GraftRelation]

  /** Max `_lsn` floor implied by the filter's conjuncts (mirrors the V1
    * relation's `lsnFloor` over `sources.Filter`).
    */
  private def lsnFloor(cond: Expression): Option[Long] = {
    def isLsn(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name.equalsIgnoreCase(Model.LsnCol)
      case _ => false
    }
    val floors = splitConjunctivePredicates(cond).flatMap {
      case GreaterThanOrEqual(a, Literal(v: Long, LongType)) if isLsn(a) => Some(v)
      case GreaterThan(a, Literal(v: Long, LongType)) if isLsn(a) => Some(v + 1L)
      case EqualTo(a, Literal(v: Long, LongType)) if isLsn(a) => Some(v)
      case EqualTo(Literal(v: Long, LongType), a) if isLsn(a) => Some(v)
      case LessThanOrEqual(Literal(v: Long, LongType), a) if isLsn(a) => Some(v)
      case LessThan(Literal(v: Long, LongType), a) if isLsn(a) => Some(v + 1L)
      case _ => None
    }
    floors.reduceOption(_ max _)
  }

  /** Bounded key set implied by a `doc_id = 'x'`, `doc_id IN (...)` or
    * `InSet` conjunct — the point-lookup pushdown. `OptimizeIn` rewrites
    * an IN list of more than 10 literals to `InSet` before this rule
    * runs, so both forms must match. Intersected across conjuncts (all
    * must hold; an empty intersection reads nothing); any null in the
    * list disables the rewrite for that conjunct (`x IN (null, ...)` is
    * never-true-or-null — let Spark evaluate it).
    */
  private def keyLookup(cond: Expression): Option[Seq[String]] = {
    def isKey(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name.equalsIgnoreCase(Model.KeyCol)
      case _ => false
    }
    def strings(vs: Seq[Any]): Option[Seq[String]] =
      if (vs.nonEmpty && vs.forall(_.isInstanceOf[UTF8String])) Some(vs.map(_.toString))
      else None
    val keySets = splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a, Literal(v: UTF8String, StringType)) if isKey(a) =>
        Some(Seq(v.toString))
      case EqualTo(Literal(v: UTF8String, StringType), a) if isKey(a) =>
        Some(Seq(v.toString))
      case In(a, vs) if isKey(a) && vs.forall(_.isInstanceOf[Literal]) =>
        strings(vs.map(_.asInstanceOf[Literal].value))
      case InSet(a, hset) if isKey(a) => strings(hset.toSeq)
      case _ => None
    }
    keySets.reduceOption((a, b) => a.intersect(b))
  }

  private def substitute(
      l: LogicalRelation, floor: Option[Long], keys: Option[Seq[String]]): LogicalPlan = {
    val r = l.relation.asInstanceOf[GraftRelation]
    val df = (r.version, keys, floor) match {
      // point lookup, current or time travel: one direct scan job of the
      // pruned files whose winners come back as a local relation; the
      // kept Filter re-applies everything
      case (v, Some(ks), _) => r.table.lookupKeysWithLsn(spark, ks, v)
      // time travel reads THAT version's manifest; no manifest-level
      // file skip for historic reads (the kept Filter applies any floor)
      case (Some(v), None, _) => r.table.readVersionWithLsn(spark, v)
      case (None, None, Some(f)) =>
        r.table.readBuckets(spark,
          (0 until r.table.manifest.map(_.numBuckets).getOrElse(r.table.defaultNumBuckets)).toSet, f)
      case (None, None, None) => r.table.readWithLsn(spark)
    }
    val sub = df.queryExecution.optimizedPlan
    val byName = sub.output.map(a => a.name.toLowerCase -> a).toMap
    Project(l.output.map { o =>
      val src = byName.getOrElse(o.name.toLowerCase,
        sys.error(s"graft substitution lost column '${o.name}' at ${r.table.root}"))
      Alias(src, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }, sub)
  }
}
