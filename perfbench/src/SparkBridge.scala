package org.apache.spark

/** The listener bus drain is package-private in Spark. The benchmark
  * reads its own listener's records only after every event posted so
  * far has been delivered, so it needs this one call. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
