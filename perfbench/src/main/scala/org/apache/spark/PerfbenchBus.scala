package org.apache.spark

/** Lets the benchmark's listener wait for queued events before it reads
  * its counters (`listenerBus` is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
