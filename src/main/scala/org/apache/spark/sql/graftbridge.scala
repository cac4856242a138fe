package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters, so graft
  * can expose custom Catalyst expressions as user-facing `Column`s.
  * Lives under org.apache.spark.sql purely for access; no Spark
  * internals are modified.
  */
object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
