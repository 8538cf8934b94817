package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * queued listener event has been delivered, so per-span counters are
  * complete before they are written. */
object PerfbenchShims {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
