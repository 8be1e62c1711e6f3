package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal `private[sql]` bridge for building a DataFrame from a custom
  * logical plan. Spark deliberately keeps `Dataset.ofRows` internal;
  * extension libraries that add logical operators (Delta Lake et al.)
  * use exactly this in-package shim. Nothing else from the internal
  * surface is exposed.
  */
object PlanBridge {

  /** Wrap a (resolved or unresolved) logical plan as a DataFrame in the
    * given session.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
