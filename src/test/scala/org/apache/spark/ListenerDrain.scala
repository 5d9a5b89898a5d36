package org.apache.spark

/** Test hook into `private[spark]` state: wait until the listener bus
  * has delivered every posted event, so a listener's counts are
  * complete when a spec reads them. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
