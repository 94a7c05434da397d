package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`; the traced run must see every event
  * of the timed ops before it attributes them, so it waits on the bus. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
