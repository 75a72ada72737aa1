package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `private[sql]` door for re-planning an existing logical plan into a new
  * DataFrame (`Dataset.ofRows`) — the plan-audit ET uses it to recompute a
  * physical plan under different session conf (AQE off) without needing a
  * named view. Same shim pattern as [[GraftStreamingShim]].
  */
object PlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's random id (`private[sql]`): keys per-session caches
    * without holding a reference to the session itself.
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
