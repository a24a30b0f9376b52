package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered
  * every event posted so far (the bus is private to Spark), so
  * counters read after a job are complete without a sleep. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
