package org.apache.spark

/** Flushes the asynchronous listener bus, so every event of a traced pass
  * has reached the benchmark's listener before it is detached. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
