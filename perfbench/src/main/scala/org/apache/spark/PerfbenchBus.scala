package org.apache.spark

/** The one Spark-internal hook the tracer needs: listener events are
  * delivered asynchronously, so a span boundary must wait for the bus
  * to drain before it reads the listener's counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
