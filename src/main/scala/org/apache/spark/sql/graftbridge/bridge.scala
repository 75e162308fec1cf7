package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge to Spark 4's `private[sql]` accessors: Column ↔ catalyst
  * Expression conversion for our custom expressions, and a session clone
  * with a frame rebound onto it. Lives under org.apache.spark.sql to
  * satisfy the package-private accessors — the only place we step
  * outside the public API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Column → catalyst Expression via the same ColumnNode converter the
    * classic Dataset API uses. `ExpressionUtils.expression` would hand
    * back an opaque `ColumnNodeExpression` placeholder for any Column
    * built from `org.apache.spark.sql.functions` (an internal
    * UnresolvedFunction node) — unusable inside a FunctionRegistry
    * builder, where nothing ever converts the placeholder and codegen
    * dies on it. The converter instead yields real (possibly unresolved)
    * catalyst nodes that the analyzer then resolves normally.
    */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** A copy of `s` with its runtime confs, temp views and listeners. */
  def cloneSession(s: SparkSession): SparkSession = s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `plan` as a frame on `s`. */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
