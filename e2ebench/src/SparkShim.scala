package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * traced run waits for it to drain before reading its counters. */
object E2eBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000)
}
