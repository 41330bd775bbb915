package org.apache.spark

/** Listener events reach listeners asynchronously; the traced run reads
  * its counters only after the bus has delivered every event of the
  * operation it measured. `waitUntilEmpty` is package-private to Spark,
  * hence this accessor's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
