package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{LongArrayDot, StringRollHash}

/** Public extension point: registers graft's native Catalyst expressions
  * with the session's function registry so SQL-text users can call them
  * (`SELECT long_array_dot(a, b)`), the standard
  * `SparkSessionExtensions.injectFunction` path. Activate with
  * `.withExtensions(new GraftExtensions)` on the builder or
  * `spark.sql.extensions=graft.GraftExtensions`. DataFrame users don't
  * need it — [[graft.functions.ArrayDot.dotLong]] constructs the
  * expression directly and works in any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("long_array_dot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "long_array_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "long_array_dot(a, b) takes exactly 2 arguments")
        LongArrayDot(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("string_roll_hash"),
      new ExpressionInfo(classOf[StringRollHash].getName, "string_roll_hash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "string_roll_hash(text) takes exactly 1 argument")
        StringRollHash(children.head)
      }))
    // format("graft") fast path: replace the V1 RDD[Row] relation with
    // the engine's own parquet read plan (no Row round-trip, fused
    // codegen), keeping the _lsn-floor manifest pushdown. Sessions
    // without the extension fall back to the V1 scan unchanged.
    ext.injectOptimizerRule(_ => graft.plans.GraftRelationSubstitution)
  }
}
