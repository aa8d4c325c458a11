package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4's Column ⇄ Catalyst Expression bridge is `private[sql]`; this
  * exposes it, so a native expression can be used as a Column without
  * registering a function in the session. */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
