package org.apache.spark

/** Test access to the listener bus, whose drain is `private[spark]`:
  * a job counter must see every event its action posted before it
  * reads the count. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
