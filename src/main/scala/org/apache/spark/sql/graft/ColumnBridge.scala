package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into the `private[sql]` Column <-> catalyst Expression
  * converters (Spark 4 moved them behind `org.apache.spark.sql.classic`).
  * Standard extension-library pattern: a tiny shim object inside the
  * `org.apache.spark.sql` package tree — only used by
  * graft.functions.VectorFunctions to expose native expressions as
  * `Column`s.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** [[expression]] converted all the way down, lambdas included: a SQL
    * function builder's result skips the Dataset API's conversion, so a
    * lazily wrapped Column tree would reach codegen unresolved.
    */
  def sqlExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Register a native expression under `name` for the SQL surface
    * (`SELECT name(...)`) of this session.
    */
  def registerExpression(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => builder(exprs), "built-in")
}
