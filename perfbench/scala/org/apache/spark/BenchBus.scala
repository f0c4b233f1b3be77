package org.apache.spark

/** Drains the listener bus, so a listener's counters are complete for
  * every job that has already finished. `waitUntilEmpty` is
  * package-private to Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
