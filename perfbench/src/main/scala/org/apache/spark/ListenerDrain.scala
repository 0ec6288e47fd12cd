package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * report taken after a traced phase sees all of that phase's events.
  * (The bus is private to Spark; this object lives in its package.) */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
