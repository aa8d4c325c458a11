package org.apache.spark

/** Access to the driver's listener bus, which is `private[spark]`.
  * Draining it before reading a listener's state replaces a fixed sleep:
  * every event posted so far has been delivered when this returns. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
