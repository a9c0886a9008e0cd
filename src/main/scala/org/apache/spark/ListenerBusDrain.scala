package org.apache.spark

/** Access to the listener bus, which is `private[spark]`: block until every
  * event posted so far has reached its listeners, so a listener's counts
  * are complete when they are read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
