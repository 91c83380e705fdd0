package org.apache.spark

/** The listener bus's drain is `private[spark]`; this is the one call the
  * benchmark needs from inside Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
