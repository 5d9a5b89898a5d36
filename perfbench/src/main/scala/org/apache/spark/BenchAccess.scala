package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: wait until the
  * listener bus has delivered every event, so the traced record is
  * complete before it is written. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
