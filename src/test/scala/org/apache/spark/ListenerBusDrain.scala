package org.apache.spark

/** Spark delivers listener events on background threads; a spec that counts
  * them waits for every queued event first. The wait is package-private in
  * Spark, hence this accessor.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
