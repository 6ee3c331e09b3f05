package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: draining the listener bus, so counters read after an
  * operation include every event that operation posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
