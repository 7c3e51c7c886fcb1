package org.apache.spark

/** The one Spark-private call the benchmark needs: listener events are
  * delivered asynchronously, so per-op counters are read only after the
  * bus has drained. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
