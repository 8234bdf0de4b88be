package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Specs that count jobs with a `SparkListener` wait here until every
  * posted event has been delivered (the bus is package-private).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
