package org.apache.spark

/** The listener bus is Spark-internal; the tracer needs to wait for it to
  * drain before it reads the metrics its listener collected. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
