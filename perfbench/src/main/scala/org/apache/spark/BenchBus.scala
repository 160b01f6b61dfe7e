package org.apache.spark

/** The listener bus's drain is package-private to Spark; the harness needs
  * it to read its listener's totals only after every event has arrived. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
