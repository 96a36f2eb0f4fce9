package org.apache.spark

/** The listener bus and the memory manager are `private[spark]`; the
  * benchmark needs to wait until every posted event has reached its
  * listeners before it reads their counters, and until freed blocks have
  * left the block manager before it reads the retained heap.
  */
object BenchBus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Bytes the block manager's memory store holds (cached blocks and
    * broadcast pieces).
    */
  def storageUsed(sc: SparkContext): Long = sc.env.memoryManager.storageMemoryUsed
}
