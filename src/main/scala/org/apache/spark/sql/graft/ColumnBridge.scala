package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, sources}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.DataSourceStrategy

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 made `Column` a thin wrapper over connect-style
  * `ColumnNode`s and scoped the Expression⇄Column converters
  * `private[sql]`, so a library adding native expressions needs one small
  * shim inside the `org.apache.spark.sql` namespace — the same pattern
  * third-party Spark extension libraries use. Everything else in graft
  * stays in its own packages; only these converters live here.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A predicate as the `sources.Filter` that Spark's V1 pushdown would
    * hand a `PrunedFilteredScan`, if it has one (`protected[sql]`).
    */
  def sourceFilter(e: Expression): Option[sources.Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false)
}
