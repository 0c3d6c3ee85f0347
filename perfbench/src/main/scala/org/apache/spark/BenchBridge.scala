package org.apache.spark

/** The one Spark-internal call the census needs: wait until the listener
  * bus has delivered every event posted so far, so the per-span counters
  * are complete when they are read.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
