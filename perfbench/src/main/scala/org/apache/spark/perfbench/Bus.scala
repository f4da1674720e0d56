package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's `private[spark]` listener bus: the traced run drains
  * it before reading listener state, so every job, task and progress
  * event of the measured operations has been delivered.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Bytes of storage memory currently used by cached and checkpointed
    * blocks, summed over block managers.
    */
  def storageMemUsed(sc: SparkContext): Long =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
}
