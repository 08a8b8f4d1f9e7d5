package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the counters a listener collected are complete before they are read.
  * The bus is package-private to `org.apache.spark`, hence this file's
  * package. */
object PerfbenchListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
