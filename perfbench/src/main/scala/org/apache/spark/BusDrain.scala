package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when read. The bus is
  * `private[spark]`; this shim is the only reason the benchmark has a
  * file in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
