package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ⇄ Catalyst-Expression
  * converters (Spark 4.x routes Columns through ColumnNode; classic mode
  * exposes the conversion in `org.apache.spark.sql.classic.ExpressionUtils`),
  * and into the `private[spark]` listener bus. Lives in the
  * `org.apache.spark.sql` package solely to satisfy the access
  * qualifier — the standard pattern for Catalyst extensions. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListeners(sc: org.apache.spark.SparkContext, ms: Long): Unit = sc.listenerBus.waitUntilEmpty(ms)
}
