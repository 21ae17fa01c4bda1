package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits for Spark's listener bus to deliver every posted event, so the
  * traced run's counters are complete before they are read. The bus is
  * package-private to `org.apache.spark`, hence this one-method bridge.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
