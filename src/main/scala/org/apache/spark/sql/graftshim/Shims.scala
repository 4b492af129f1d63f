package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column ↔ Expression bridge for graft's custom Catalyst expressions.
  *
  * Spark 4 moved the classic `new Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. Ecosystem libraries that ship custom expressions
  * (Sedona, Spark-NLP, …) bridge this with a one-object shim living in
  * an `org.apache.spark.sql` subpackage; this is that shim, and the
  * only file in the project outside the `graft` namespace.
  */
object Shims {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A Column as the fully converted Catalyst tree the Dataset API
    * hands the analyzer. [[toExpression]] leaves Column nodes nested in
    * a wrapped expression (a `.cast` over an argument) to that later
    * conversion, which a SQL function builder's result never gets.
    */
  def toCatalyst(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Wrap a custom LogicalPlan node as a DataFrame (the classic
    * `Dataset.ofRows` is `private[sql]` in Spark 4 — same bridging
    * pattern as the Column↔Expression pair above).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a SQL function into a LIVE session's registry (the
    * builder-time path is `graft.GraftExtensions` via
    * `spark.sql.extensions`; this covers sessions already built).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
