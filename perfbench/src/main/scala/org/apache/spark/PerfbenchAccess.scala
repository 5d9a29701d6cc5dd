package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: block until the listener bus has delivered every event
  * posted so far, so per-span counters are complete when read. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
