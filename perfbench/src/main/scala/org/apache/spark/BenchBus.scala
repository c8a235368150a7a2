package org.apache.spark

/** Access to the listener bus, whose drain call is package-private:
  * the benchmark reads per-op task metrics only after every event of
  * the op has been delivered to its listeners. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
