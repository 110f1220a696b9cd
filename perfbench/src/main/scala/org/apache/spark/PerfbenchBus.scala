package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark's tracer reads complete job and task records. The
  * listener bus is internal to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
