package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.execution.LogicalRDD

/** Turning a hand-built or partially-rewritten logical plan (the
  * snapshot read core's manifest-planned scan, a rewritten SQL plan)
  * into a DataFrame needs `Dataset.ofRows`, which is `private[sql]` —
  * the same established extension-package seam as [[StreamBridge]].
  */
object PlanBridge {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(cs, plan)
  }

  /** `df`, a checkpoint's `LogicalRDD`, re-wrapped to report `bytes`
    * and `rows` as its statistics. The copy keeps the relation's output,
    * partitioning and ordering, so downstream plans add no Exchange.
    */
  def withStats(df: DataFrame, bytes: Long, rows: Long): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lr = df.queryExecution.logical.asInstanceOf[LogicalRDD]
    dataFrame(cs, lr.copy()(cs, Some(Statistics(bytes, Some(rows))), Some(lr.constraints)))
  }

  /** Run `f` with `spark` as the thread's active session, so
    * `SQLConf.get` (and everything keyed off it) reads this session.
    */
  def withActive[T](spark: SparkSession)(f: => T): T =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].withActive(f)

  /** Run `f` with the session's SQL conf propagated to the tasks of the
    * jobs it starts, as a Dataset action does — for jobs run straight on
    * a plan's RDD.
    */
  def withConfPropagated[T](spark: SparkSession)(f: => T): T =
    org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])(f)
}
