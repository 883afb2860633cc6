package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this is graft's one use of it. */
object ListenerBus {

  /** Block until every event posted so far has reached every listener.
    * Throws a TimeoutException after 30 s rather than return early: a
    * reader that stopped early would under-count. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
