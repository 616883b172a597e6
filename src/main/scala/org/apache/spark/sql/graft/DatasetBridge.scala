package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `Dataset.ofRows` (private[sql] in Spark 4): a DataFrame over
  * an already-resolved logical plan. Used only by graft.Tables to hand out
  * DataFrames over a table relation it resolved once per session. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
