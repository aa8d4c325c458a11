package org.apache.spark

/** SparkContext's listener bus is `private[spark]`; this drains it, so every
  * event posted so far has reached the listeners when it returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
