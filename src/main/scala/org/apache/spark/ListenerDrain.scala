package org.apache.spark

/** Spark's listener bus is `private[spark]`; this is the one call graft
  * makes on it: wait until every event posted so far has reached the
  * listeners, so a read right after an action sees all of its jobs and
  * stages. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
