package org.apache.spark

/** Listener-bus drain for the traced run. `waitUntilEmpty` is
  * package-private to Spark, so this one accessor lives in Spark's package;
  * the benchmark reads events only through the public listener APIs. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
