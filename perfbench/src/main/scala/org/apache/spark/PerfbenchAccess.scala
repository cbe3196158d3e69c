package org.apache.spark

/** The two Spark internals the benchmark reads from outside the
  * library: draining the listener bus (so a span's events are all
  * delivered before the span closes; traced runs only) and the block
  * store's storage-memory accounting (peak storage sampling). */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def storageMemoryUsed: Long = SparkEnv.get.memoryManager.storageMemoryUsed

  def maxStorageMemory: Long = SparkEnv.get.memoryManager.maxOnHeapStorageMemory
}
