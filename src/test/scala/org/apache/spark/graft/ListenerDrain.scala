package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * listener's view of the jobs run so far is complete. The bus is only
  * reachable from inside the `org.apache.spark` package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
