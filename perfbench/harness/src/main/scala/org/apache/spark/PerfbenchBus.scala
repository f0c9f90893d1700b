package org.apache.spark

/** Spark delivers listener events on background threads. The traced run
  * waits for every queued event after each operation (outside its timed
  * region), so each event is counted against the operation that caused it.
  * The wait is package-private in Spark, hence this accessor.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
