package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` seam a library-defined operator needs:
  * building a DataFrame from a custom [[LogicalPlan]] node. Lives in
  * `org.apache.spark.sql` for visibility only — no Spark behavior is
  * modified. (Strategy injection needs no shim: `spark.experimental
  * .extraStrategies` is public API. Freezing intermediates uses the same
  * visibility, in [[Freeze]].)
  */
object GraftPlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
