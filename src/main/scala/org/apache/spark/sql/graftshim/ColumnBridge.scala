package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's private[sql] Column↔Expression
  * converters (org.apache.spark.sql.classic.ExpressionUtils) so graft
  * can wrap its native Catalyst expressions
  * (graft.functions.expr.*) as user-facing Columns. Lives in the
  * org.apache.spark.sql package solely for access — the standard
  * idiom for Spark extensions that add custom expressions without a
  * session-bound FunctionRegistry.
  */
object ColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `c` fully converted to the (unresolved) expression a Dataset of
    * `session` plans — wrapped native expressions included — ready for
    * the session's analyzer.
    */
  def expression(session: SparkSession, c: Column): Expression =
    session.asInstanceOf[classic.SparkSession].expression(c)
}
