package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until the listener
  * bus has delivered every event posted so far, so counters read after an
  * action are complete. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
