package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it so a
  * span's counters are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
