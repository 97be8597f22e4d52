package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Wraps a Catalyst expression in a `Column`, for the engine's own
  * aggregate functions. The conversion is `private[sql]`, hence this
  * package.
  */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
}
