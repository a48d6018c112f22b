package org.apache.spark

/** The listener bus's drain is package-private to Spark; specs that count
  * jobs or read query plans from listeners drain it before reading. */
object TestBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
