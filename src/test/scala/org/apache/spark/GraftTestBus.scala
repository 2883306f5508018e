package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event has reached its listeners. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
