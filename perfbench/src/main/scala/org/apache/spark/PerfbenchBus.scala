package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus operations the tracer needs that Spark keeps
  * package-private: posting a marker event in order with Spark's own
  * events, and waiting until every queued event has been delivered. */
object PerfbenchBus {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
