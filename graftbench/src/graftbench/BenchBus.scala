package org.apache.spark

/** The listener bus is package-private; the traced run needs to wait
  * until every posted event has reached the tracer before it reads a
  * span's totals. */
object BenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
