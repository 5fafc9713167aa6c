package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus to deliver
  * every queued event, so traced counts are complete when they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
