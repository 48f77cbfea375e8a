package org.apache.spark

/** Test access to the listener bus drain: job and task events reach
  * listeners asynchronously, so a spec that counts jobs waits for the
  * bus to empty instead of sleeping. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
