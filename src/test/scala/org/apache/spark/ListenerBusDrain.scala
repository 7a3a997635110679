package org.apache.spark

/** Test access to the (package-private) listener bus: after the call,
  * every listener has seen every event posted before it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
