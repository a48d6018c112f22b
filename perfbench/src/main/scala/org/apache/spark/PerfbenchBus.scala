package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark needs
  * it so counters are complete before they are read. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
