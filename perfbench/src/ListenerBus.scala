package org.apache.spark

/** The benchmark's access to Spark's listener bus, which Spark keeps
  * package-private.
  */
object PerfbenchListenerBus {
  /** Block until every event posted so far has reached the listeners. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
