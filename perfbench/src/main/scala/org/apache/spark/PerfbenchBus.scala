package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark
  * drains it before reading its listener's counters, so a request's
  * jobs are all counted against that request. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
