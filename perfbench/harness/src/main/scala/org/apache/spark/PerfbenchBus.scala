package org.apache.spark

/** The one private Spark API the harness needs: wait until every queued
  * listener event has been delivered, so the events of one query are
  * recorded before the harness moves on to the next. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
