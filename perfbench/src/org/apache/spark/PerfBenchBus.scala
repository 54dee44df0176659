package org.apache.spark

/** The listener bus flush is `private[spark]`; the benchmark needs it so
  * per-operation counters are complete before they are read. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
