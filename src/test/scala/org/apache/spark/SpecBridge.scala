package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so a spec
  * can count an action's jobs once every event of it has been delivered. */
object SpecBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
