package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the traced run needs
  * it so span counters are read only after every event was delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
