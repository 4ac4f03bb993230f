package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` plan construction: materializing a custom
  * LogicalPlan (graft.plans.AsOfJoinPlan) as a DataFrame needs
  * `Dataset.ofRows`, which Spark scopes to its own package — the standard
  * technique for extension libraries that add whole-operator plans. The
  * store also uses it to move a frame's analyzed plan into its own
  * session (a `foreachBatch` frame belongs to a cloned one). */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
