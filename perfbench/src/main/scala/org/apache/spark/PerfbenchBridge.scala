package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object PerfbenchBridge {
  /** Blocks until every posted event reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
