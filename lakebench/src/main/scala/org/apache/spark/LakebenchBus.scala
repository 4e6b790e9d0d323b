package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so that no task counters are still queued when it sums them. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
