package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Rebuilds a DataFrame over a logical plan taken from another frame
  * (`Dataset.ofRows` is `private[sql]`, hence this package shim — the
  * same access route as [[StateStoreHooks]]). Used where an operator
  * recognizes the plan its input was built with and plans around it,
  * e.g. `RowMaterializer.materialize` over `ExactlyOnce.dedupe`. */
object PlanFrames {
  def ofPlan(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
