package org.apache.spark

/** Test access to the listener-bus drain, which Spark keeps
  * `private[spark]`: state fed by listeners (the status tracker, query
  * execution listeners) is complete for every job already run once
  * [[drain]] returns. */
object TestListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
