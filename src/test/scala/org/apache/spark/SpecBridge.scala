package org.apache.spark

/** Reaches what Spark keeps package-private: the listener bus, so a spec
  * can count an action's jobs once every event of it has been delivered,
  * and the memory manager's Tungsten page size. */
object SpecBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes
}
