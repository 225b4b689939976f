package org.apache.spark

/** Test access to the live listener bus: block until every event posted
  * so far has reached the listeners.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
