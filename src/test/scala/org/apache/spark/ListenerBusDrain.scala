package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; specs that count
  * listener events call it so every event has been delivered before they
  * read their counters.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
