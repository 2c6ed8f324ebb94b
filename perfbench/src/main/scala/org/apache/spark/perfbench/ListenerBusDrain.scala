package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener queue has delivered its pending events, so a
  * traced phase's job, stage, query and progress events are all counted
  * before the phase's metrics are read. The bus is private to Spark, hence
  * this accessor's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
