package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.ColumnBridge

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
  * The rule does not choose the read itself. The conjuncts of a Filter
  * directly above the relation are translated to `sources.Filter`s by
  * Spark's own V1 pushdown translation (which flips a literal on the
  * left and turns `OptimizeIn`'s `InSet` into `In`), and the relation's
  * one chooser, [[GraftRelation.read]], picks the read exactly as for
  * the V1 scan: a `doc_id` key set becomes a point lookup whose one scan
  * job runs WHILE this rule fires and comes back as a local relation
  * (so the executed query has no Exchange and runs no further job); an
  * `_lsn` floor skips whole files by their manifest `maxLsn`, for the
  * current snapshot and `option("version")` time travel alike. The
  * Filter itself is kept (the pushed predicates re-evaluate for free, the
  * other conjuncts remain Spark's job), so the rewrite can never change
  * results — only the file set read.
  *
  * Output attributes keep the relation's ExprIds via an aliasing Project,
  * so references in the surrounding plan stay valid; the rule fires once
  * per relation (the substituted subtree contains no graft relations) and
  * is idempotent under the optimizer's fixpoint batches.
  */
object GraftRelationSubstitution extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case Filter(cond, l: LogicalRelation) if isGraft(l) =>
      Filter(cond, substitute(l, splitConjunctivePredicates(cond)))
    case l: LogicalRelation if isGraft(l) =>
      substitute(l, Nil)
  }

  private def isGraft(l: LogicalRelation): Boolean =
    l.relation.isInstanceOf[GraftRelation]

  private def substitute(l: LogicalRelation, conjuncts: Seq[Expression]): LogicalPlan = {
    val r = l.relation.asInstanceOf[GraftRelation]
    val sub = r.read(conjuncts.flatMap(ColumnBridge.sourceFilter)).queryExecution.optimizedPlan
    val byName = sub.output.map(a => a.name.toLowerCase -> a).toMap
    Project(l.output.map { o =>
      val src = byName.getOrElse(o.name.toLowerCase,
        sys.error(s"graft substitution lost column '${o.name}' at ${r.table.root}"))
      Alias(src, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }, sub)
  }
}
