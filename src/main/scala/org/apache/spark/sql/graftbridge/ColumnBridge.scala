package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column <-> catalyst Expression
  * converters, for wrapping graft's custom codegen'd expressions
  * ([[graft.functions.SdofPeak]], [[graft.functions.IirCascadeState]],
  * [[graft.functions.VecDot]]) into `Column`s directly from Scala —
  * the constructor-parameter coefficients can't travel through the SQL
  * function-registration route, which only sees child expressions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
