package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal accessor for Column <-> catalyst Expression, which Spark 4 keeps
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils). Needed to
  * expose custom native expressions (graft.ops.GeoExpressions) as Columns. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `c` as a catalyst expression converted now: [[expression]] leaves the
    * conversion to the Dataset that receives it, and a SQL function
    * builder's result never passes through one. */
  def converted(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)
  /** Spark's `WRONG_NUM_ARGS` analysis error for a call of `name`. */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)
}
