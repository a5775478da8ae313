package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run waits for every queued job and stage event before it
  * aggregates spans. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
