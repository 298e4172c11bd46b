package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * queued listener event has been delivered, so counters read after a
  * job reflect all of its tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
