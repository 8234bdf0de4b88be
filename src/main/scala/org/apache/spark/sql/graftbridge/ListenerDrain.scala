package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has been delivered to the
  * `SparkListener`s (the bus is package-private), so a listener that
  * counts jobs has seen all of them once the action returns.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
