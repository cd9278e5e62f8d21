package org.apache.spark

/** Lets the benchmark's listener read complete figures: blocks until the
  * listener bus has delivered every event posted so far. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
