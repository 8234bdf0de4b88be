package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run needs, which Spark keeps
  * package-private.
  */
object Bridge {
  /** Wait for every posted listener event, so no job or task of a
    * finished operation is missed. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The `QueryExecution.id` behind a SQL execution — the key that links
    * a `QueryExecutionListener` callback to the execution's job group. */
  def queryId(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.id).getOrElse(-1L)
}
