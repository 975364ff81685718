package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark needs
  * it so that counters read after a lifecycle include every event of it. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
