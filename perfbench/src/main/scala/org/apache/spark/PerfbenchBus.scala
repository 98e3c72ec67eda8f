package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so a run's trace holds every event its calls posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
