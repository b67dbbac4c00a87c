package org.apache.spark

/** The one Spark-internal the benchmark needs: waiting for the listener
  * bus, so per-layer totals are read only after every event arrived. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
