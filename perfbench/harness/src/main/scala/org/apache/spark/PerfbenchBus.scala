package org.apache.spark

/** The listener bus is asynchronous: before the tracer detaches its
  * listener or reads its counts, every event already posted must have
  * been delivered. `waitUntilEmpty` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
