package org.apache.spark

/** Wait until the listener bus has delivered every queued event, so a
  * listener's counters are complete before they are read. The bus is
  * internal to Spark; this object is the engine's one bridge to it. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
