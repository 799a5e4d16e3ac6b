package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
