package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; counters read from a
  * listener are complete only after the bus has drained. The wait is
  * `private[spark]`, hence this helper's package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
