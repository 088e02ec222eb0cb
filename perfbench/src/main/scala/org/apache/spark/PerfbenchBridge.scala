package org.apache.spark

/** Access to the listener bus, which is package-private: a traced run
  * must wait for queued events before it reads its listener's sums. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
