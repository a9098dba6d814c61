package graft.ops

import org.apache.spark.sql.DataFrame

/** Set operators for incremental loads (SURVEY.md §2b).
  *
  * The reference's driver-side `all_news.extend(...)` accumulation
  * (`extract_news_job.py:235,266`) becomes `unionByName` over per-source
  * frames — distributed, no driver materialization.
  */
object SetOps {

  /** Column-name-aware union; every frame carries the same column names. */
  def unionAll(frames: Seq[DataFrame]): DataFrame = frames.reduce(_ unionByName _)

  /** Rows of `left` not present in `right` (set difference, dedups). */
  def minus(left: DataFrame, right: DataFrame): DataFrame = left.except(right)

  /** Rows present in both (set intersection, dedups). */
  def intersection(left: DataFrame, right: DataFrame): DataFrame = left.intersect(right)
}
