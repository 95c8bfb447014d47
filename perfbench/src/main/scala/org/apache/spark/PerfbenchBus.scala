package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * benchmark trace can read its listener counters right after an action.
  * `listenerBus` is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
