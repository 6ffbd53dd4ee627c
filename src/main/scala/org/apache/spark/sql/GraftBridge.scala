package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal accessor bridge: `classic.ExpressionUtils` is private[sql], so
  * graft's custom Catalyst expressions convert Column ⇄ Expression through
  * this object (the conventional escape hatch for Spark extensions that
  * live outside the org.apache.spark.sql package); `SparkContext.listenerBus`
  * is private[spark], so [[graft.obs.ExecutionProfile]] and the specs
  * that read job counts drain it here. */
object GraftBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
