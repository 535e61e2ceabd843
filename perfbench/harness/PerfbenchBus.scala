package org.apache.spark

/** The listener bus is Spark-internal; this is the one call the traced
  * run needs from it: block until every posted event was delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
