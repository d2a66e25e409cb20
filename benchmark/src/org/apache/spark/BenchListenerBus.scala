package org.apache.spark

/** Waits for Spark's asynchronous listener bus to deliver every event
  * posted so far, so the traced run reads complete listener totals. The
  * bus is package-private to Spark, hence this object's package. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
