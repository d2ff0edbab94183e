package org.apache.spark

/** Listener events arrive asynchronously; counters a test listener sums
  * are complete only after the bus has drained. The wait is
  * `private[spark]`, hence this helper's package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
