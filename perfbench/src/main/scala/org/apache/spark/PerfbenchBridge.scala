package org.apache.spark

/** The one Spark-private call the tracer needs: wait until every queued
  * listener event has been delivered, so per-operation attribution is
  * complete before the next operation starts.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
