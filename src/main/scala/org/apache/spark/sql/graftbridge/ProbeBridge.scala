package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution

/** The Spark internals behind [[graft.Probe]]: a bounded collect that
  * is ONE job over every partition, and a plan-level `LocalRelation`
  * built from the collected rows as they are (no Row re-encoding).
  */
object ProbeBridge {

  /** At most `perPartition` rows from each partition of `df`, taken in
    * one job over all of its partitions, as copied `InternalRow`s in
    * partition order — or None once more than `keep` rows came back
    * (later results are dropped as they arrive, so the driver holds
    * about `keep` rows). Runs as its own SQL execution, so listeners
    * see it like any other action; writes no session conf.
    */
  def takeAtMost(df: DataFrame, perPartition: Int, keep: Long): Option[Array[InternalRow]] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // a fresh QueryExecution picks up caches registered after `df` was built
    val qe = ds.sparkSession.sessionState.executePlan(ds.logicalPlan)
    SQLExecution.withNewExecutionId(qe, Some("probe")) {
      val rdd = qe.toRdd
      val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
      var total = 0L
      ds.sparkSession.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => it.take(perPartition).map(_.copy()).toArray,
        (i: Int, rows: Array[InternalRow]) => {
          total += rows.length
          if (total <= keep) parts(i) = rows
        })
      if (total > keep) None else Some(parts.flatten)
    }
  }

  /** `rows` (taken from `df`) as Rows, decoded like `df.collect()`. */
  def toRows(df: DataFrame, rows: Array[InternalRow]): Array[Row] = {
    val fromRow = df.asInstanceOf[classic.Dataset[Row]].exprEnc
      .resolveAndBind().createDeserializer()
    rows.map(fromRow)
  }

  /** `rows` (taken from `df`) as a driver-local relation with `df`'s
    * schema and fresh attributes, so it joins back against plans
    * derived from the same source without ambiguity.
    */
  def localRelation(df: DataFrame, rows: Array[InternalRow]): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(df.schema), rows.toSeq))
}
