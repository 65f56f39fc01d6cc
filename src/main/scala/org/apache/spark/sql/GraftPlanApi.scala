package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** One of the two places graft crosses into Spark's package-private
  * API (the other is [[GraftFileScan]], one file's relation and its
  * driver-side reader and schema inference):
  * `classic.Dataset.ofRows` is `private[sql]`, and it is the ONLY
  * supported way to wrap a custom [[LogicalPlan]] (graft's
  * [[graft.plans.AsOfJoin]]) back into a DataFrame. Every session
  * extension that ships whole-operator plans uses this same bridge
  * (the alternative — re-implementing analysis/planning plumbing —
  * is strictly worse). Nothing else may live in this file.
  */
object GraftPlanApi {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
