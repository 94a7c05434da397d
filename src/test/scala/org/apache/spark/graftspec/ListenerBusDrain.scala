package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`; a spec that counts listener events
  * waits on the bus so every event of the measured body has arrived. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
