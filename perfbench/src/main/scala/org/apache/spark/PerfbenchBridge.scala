package org.apache.spark

/** The one Spark-internal hook the benchmark needs: listener events
  * arrive asynchronously, so a traced request waits for the bus to
  * drain before its counters are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
