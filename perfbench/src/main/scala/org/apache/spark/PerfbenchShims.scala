package org.apache.spark

/** Access to the one `private[spark]` hook the benchmark's tracer needs. */
object PerfbenchShims {
  /** Block until every event posted to the listener bus so far has been
    * delivered, so a traced run's listeners hold all of its jobs. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
