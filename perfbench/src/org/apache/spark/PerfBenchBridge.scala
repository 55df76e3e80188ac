package org.apache.spark

/** The one listener-bus hook the benchmark's trace needs that Spark keeps
  * package-private: block until every posted event has been delivered, so
  * job and stage totals are complete before they are summed. */
object PerfBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
