package org.apache.spark

/** Blocks until every posted listener event has been delivered. The
  * listener bus is asynchronous, so a recorder read right after the
  * last action could otherwise miss its final task and job events. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
