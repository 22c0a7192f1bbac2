package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the benchmark needs to wait for
  * it, so that a pass's events are all delivered before the pass's
  * metrics are computed. Same shim idea as `graftbridge.Bridge`.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
