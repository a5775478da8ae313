package org.apache.spark

/** Test access to the listener-bus drain Spark keeps package-private:
  * a spec that counts jobs through a SparkListener waits for every
  * queued event before it reads the count. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
