package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]`/`private[spark]` seams a library needs:
  * building a DataFrame from a custom [[LogicalPlan]] node, and Spark's
  * temp-directory lifetime (for [[graft.Scratch]]). Lives in
  * `org.apache.spark.sql` for visibility only — no Spark behavior is
  * modified. (Strategy injection needs no shim: `spark.experimental
  * .extraStrategies` is public API. Freezing intermediates uses the same
  * visibility, in [[Freeze]].)
  */
object GraftPlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A new `<root>/<prefix>-<uuid>` directory that Spark's shutdown hook
    * deletes, contents included, at JVM exit — after the SparkContext
    * stops (the temp-dir hook runs at a lower priority than the
    * context-stop hook). */
  def tempDirDeletedAtExit(root: String, prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(root, prefix)

  /** Spark's recursive delete (no-op on a missing path). */
  def deleteRecursively(f: java.io.File): Unit =
    org.apache.spark.util.Utils.deleteRecursively(f)
}
