package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * traced benchmark can charge every listener event to the op that
  * caused it before the next op starts. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
