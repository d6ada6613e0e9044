package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events are
  * delivered asynchronously, so counters read right after an action may
  * miss its last tasks. Draining the bus first makes every read exact. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
