package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * the benchmark reads complete runtime counters. The bus is visible only
  * inside the `org.apache.spark` package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
