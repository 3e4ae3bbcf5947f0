package org.apache.spark

/** The one Spark-internal hook the benchmark needs: listener events are
  * delivered asynchronously, so a traced call must wait for the bus to
  * drain before its listener is removed and its numbers are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
