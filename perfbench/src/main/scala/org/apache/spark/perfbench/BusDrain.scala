package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so the
  * tracer can attribute the query executions and task metrics of a span
  * before the next span starts. The listener bus is internal to Spark,
  * hence this one-line bridge in Spark's package namespace.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
