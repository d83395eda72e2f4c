package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. Counters read from a
  * listener are complete only after its bus has drained, and the drain
  * call is `private[spark]`; this accessor lives in Spark's package to
  * reach it. */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
