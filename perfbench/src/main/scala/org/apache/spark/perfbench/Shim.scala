package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** Read-only hops into `private[spark]` state the tracer needs: draining
  * the listener bus (so every event of a pass is delivered before the
  * pass is summarised) and the unified memory manager's current usage. */
object Shim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)

  def storageMemoryUsed: Long =
    Option(SparkEnv.get).map(_.memoryManager.storageMemoryUsed).getOrElse(0L)

  def maxUnifiedMemory: Long =
    Option(SparkEnv.get).map(e => e.memoryManager.maxOnHeapStorageMemory +
      e.memoryManager.executionMemoryUsed).getOrElse(0L)
}
