package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events arrive
  * asynchronously, so per-operation listener counts are read only after
  * the bus has delivered every event posted so far. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
