package org.apache.spark

/** Reaches the one listener-bus call the harness needs that Spark keeps
  * package-private: wait until every posted event has been delivered,
  * so per-operation counters are complete when they are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
