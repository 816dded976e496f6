package org.apache.spark

/** The one Spark-internal the harness needs: waiting until every queued
  * listener event has been delivered, so a traced run's counters are
  * complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
