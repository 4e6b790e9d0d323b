package org.apache.spark

/** The listener bus's drain is package-private to Spark; specs that
  * assert on what a listener did NOT see need every queued event
  * delivered first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
