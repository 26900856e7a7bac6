package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into `private[sql]` constructors: turning a custom
  * [[LogicalPlan]] node into a DataFrame has no public API (SPARK-31561
  * discussion); every library with its own plan nodes ships this shim.
  * Kept to that one call and its one use below — everything else in
  * graft uses public API. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df` over a persisted RDD of its rows, computed by the first job that
    * reads the returned frame; the caller unpersists the RDD. Unlike
    * `persist` (AQE adds a job to materialise the cache), `rdd` or
    * `localCheckpoint` (each posts a SQL execution of its own), this adds
    * neither a job nor an execution. */
  def persistRows(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rows = df.queryExecution.toRdd.map(_.copy()).persist()
    val output = df.queryExecution.analyzed.output.map(_.newInstance())
    (ofRows(session, LogicalRDD(output, rows)(session)), rows)
  }
}
