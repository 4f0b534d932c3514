package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for it to drain before reading per-pass listener totals. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
