package org.apache.spark

/** Test access to the listener bus, which is private to Spark: block until
  * every event posted so far has reached its listeners, so that a test's
  * listener has seen every job an action started. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
