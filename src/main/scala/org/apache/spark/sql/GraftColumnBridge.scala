package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge. Spark 4 made the classic `Column(Expression)`
  * constructor private[sql] (Column now wraps a ColumnNode); third-party
  * expression libraries bridge via a same-package shim. This is the only
  * file outside the `graft` namespace.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
