package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Column↔Expression converters, so graft
  * can expose custom Catalyst expressions as user-facing `Column`s, and
  * to the DataFrame constructor over already-Catalyst rows. Lives
  * under org.apache.spark.sql purely for access; no Spark internals
  * are modified.
  */
object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
