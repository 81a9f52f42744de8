package org.apache.spark

/** The listener bus is package-private to Spark; the tracer needs to wait
  * for it to deliver every queued event before it reduces its records. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
