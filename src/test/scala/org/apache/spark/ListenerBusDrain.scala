package org.apache.spark

/** Test access to the context's listener bus, which Spark keeps
  * `private[spark]`: block until every posted event has been delivered,
  * so a listener's counts are complete when a spec reads them.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
