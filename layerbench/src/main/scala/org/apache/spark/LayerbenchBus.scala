package org.apache.spark

/** Wait until the listener bus has delivered every queued event, so a
  * traced run's counters are complete before they are summed. The bus
  * is internal to Spark; this is its only use. */
object LayerbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
