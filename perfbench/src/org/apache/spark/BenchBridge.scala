package org.apache.spark

/** The one listener-bus call the benchmark needs that Spark keeps
  * package-private: block until every posted event has been delivered,
  * so per-pass listener counts are complete before they are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
