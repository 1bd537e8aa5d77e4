package org.apache.spark

/** The listener bus is private to Spark; this one call lets the benchmark
  * wait until its own listener has seen every event of a finished job before
  * it reads the counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
