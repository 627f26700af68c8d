package org.apache.spark

/** Access to the `private[spark]` listener-bus drain: blocks until every
  * event posted so far has been delivered to every listener. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
