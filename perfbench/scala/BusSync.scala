package org.apache.spark

/** The listener bus is private to Spark; this one call lets the
  * benchmark wait until every event posted so far has reached its
  * listeners before it reads their counts. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
