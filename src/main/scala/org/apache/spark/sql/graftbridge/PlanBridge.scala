package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge for [[graft.operators.SnapshotSql]]: turning a (possibly
  * partially-rewritten) parsed logical plan back into a DataFrame needs
  * `Dataset.ofRows`, which is `private[sql]` — the same established
  * extension-package seam as [[StreamBridge]].
  */
object PlanBridge {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(cs, plan)
  }

  /** Run `f` with `spark` as the thread's active session, so
    * `SQLConf.get` (and everything keyed off it) reads this session.
    */
  def withActive[T](spark: SparkSession)(f: => T): T =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].withActive(f)
}
