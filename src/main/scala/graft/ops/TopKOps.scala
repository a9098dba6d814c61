package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Sort / limit / top-k operators (SURVEY.md §2a O1).
  *
  * `orderBy(...).limit(k)` is rewritten by Catalyst to
  * `TakeOrderedAndProject`: each task keeps a k-row heap, the driver merges
  * per-task heaps — no global sort, no full shuffle. This is the plan shape
  * that survives 100 TB; a materialized global sort would not.
  */
object TopKOps {

  /** O1 — `ORDER BY ... [DESC] LIMIT k` (`queries.sql:2-17`). Pass a total
    * order (unique tie-break) for deterministic output.
    */
  def topK(df: DataFrame, orderBy: Seq[Column], k: Int): DataFrame =
    df.orderBy(orderBy: _*).limit(k)
}
