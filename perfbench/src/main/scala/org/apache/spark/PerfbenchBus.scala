package org.apache.spark

/** Lets the benchmark wait until Spark has delivered every listener event
  * posted so far, so the events of one operation are attributed to it. The
  * bus is private to Spark's package, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
