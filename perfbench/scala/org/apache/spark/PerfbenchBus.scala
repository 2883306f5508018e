package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * Listener state is read only after every event posted so far has been
  * delivered; reading earlier sees jobs without their end events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
