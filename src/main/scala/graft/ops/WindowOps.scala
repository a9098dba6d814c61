package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function operators (SURVEY.md §2a W1 + §2b ranking).
  *
  * Every window here partitions by a key before ordering — a global
  * (unpartitioned) window would serialize 100 TB through one task and is
  * deliberately not offered.
  */
object WindowOps {

  /** W1 — previous-value delta per key (`transform_stocks_job.py:193-199`):
    * `lag(close) over (partition by ticker order by date)`, then
    * `close - lag` as the daily variation, helper column dropped.
    *
    * `orderBy` must be a total order within each partition (add a unique
    * tie-break) so lag is deterministic.
    */
  def lagDelta(df: DataFrame, partitionKeys: Seq[String], orderBy: Seq[Column],
               valueCol: String, outName: String): DataFrame = {
    val w = Window.partitionBy(partitionKeys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__prev", lag(col(valueCol), 1).over(w))
      .withColumn(outName, col(valueCol) - col("__prev"))
      .drop("__prev")
  }

  /** §2b ranking — top-N rows per group under a total order (top movers per
    * sector pattern). `row_number` (not `rank`) so exactly N survive.
    */
  def topNPerGroup(df: DataFrame, partitionKeys: Seq[String], orderBy: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(partitionKeys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Time-series resample + forward fill: snap an irregular event stream
    * onto a regular `stepSeconds` grid per key, from each key's first
    * bucket to its last, carrying the latest observed value forward across
    * gaps — the quote-series gap-fill every market pipeline runs before
    * indicators (a bar with no trades inherits the previous close).
    *
    * Per bucket the LAST event wins (`epochSecCol` desc, then `valueCol`
    * desc as the tie-break — total for numeric values). The first buckets
    * of a key are never NULL: the spine starts at the key's first
    * observation.
    *
    * Shape at 100 TB: ONE hash aggregate for bucket-last values (map-side
    * partial combine — the raw events never shuffle whole), one key-window
    * pass over the compact per-bucket relation, and a `sequence()` explode
    * that GENERATES the filled grid directly: each observed bucket emits
    * the grid rows up to (exclusive) the next observed bucket, carrying
    * the fill value. No spine aggregate, no join-back — grid rows are
    * never shuffled at all. Everything keys on (key, bucket); no range
    * join, no driver loop.
    */
  def resampleFfill(df: DataFrame, keyCol: String, epochSecCol: String,
                    valueCol: String, stepSeconds: Long): DataFrame = {
    val lastPerBucket = bucketLast(df, keyCol, epochSecCol, valueCol, stepSeconds)
    val asc = Window.partitionBy(col("key")).orderBy(col("bucket").asc)
    lastPerBucket
      // last non-null at-or-before this bucket: the fill value for every
      // grid point in [bucket, nextBucket) — a null-valued bucket winner
      // behaves as an empty bucket (carry the previous observation), the
      // exact `last(... ignoreNulls)` semantics of the join+fill form
      .withColumn("__pv", last(col("__v"), ignoreNulls = true)
        .over(asc.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__nb", lead(col("bucket"), 1).over(asc))
      .select(col("key").as(keyCol),
        explode(sequence(col("bucket"),
          coalesce(col("__nb") - stepSeconds, col("bucket")), lit(stepSeconds))).as("bucket"),
        col("__pv").as("value_ffill"))
  }

  /** Bucket-last relation shared by the resamplers: one row per observed
    * (key, bucket), value = the bucket's LAST event (`epochSecCol` desc,
    * then `valueCol` desc as tie-break) via a `max_by` hash aggregate —
    * map-side partial combine, no per-row window sort of the raw events.
    * Floor semantics via subtract-pmod (exact long arithmetic): `div`
    * truncates toward zero, so pre-epoch (negative) seconds would snap to
    * the NEXT bucket and diverge from floor-division engines.
    */
  private def bucketLast(df: DataFrame, keyCol: String, epochSecCol: String,
                         valueCol: String, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    df.select(col(keyCol).as("key"),
        expr(s"CAST($epochSecCol AS BIGINT) - pmod(CAST($epochSecCol AS BIGINT), $stepSeconds)").as("bucket"),
        col(epochSecCol).cast("long").as("__s"), col(valueCol).as("__v"))
      .groupBy(col("key"), col("bucket"))
      .agg(max_by(col("__v"), struct(col("__s"), col("__v"))).as("__v"))
  }

  /** Time-series resample + LINEAR interpolation: same grid/spine as
    * [[resampleFfill]] (per-bucket LAST observation wins), but empty buckets
    * take the straight line between the surrounding observed buckets instead
    * of carrying the previous value — pandas
    * `resample().last().interpolate()` semantics. The grid spans each key's
    * first..last OBSERVED bucket, so every empty bucket has both a previous
    * and a next observation; no extrapolation is ever produced.
    *
    * Shape at 100 TB: same generate-form as [[resampleFfill]] — bucket-last
    * hash aggregate, window pass over the compact per-bucket relation
    * (asc + desc sorts share one (key) exchange), then the `sequence()`
    * explode emits each interval's grid rows with the line endpoints
    * attached; the interpolation itself is a scan expression on generated
    * rows that never shuffle. The forward-looking endpoints use a RUNNING
    * frame over the DESCENDING order, never
    * `rowsBetween(0, unboundedFollowing)` — Spark's
    * UnboundedFollowingWindowFunctionFrame re-scans the partition tail per
    * row, O(n²) per key (measured 59 s vs ~2 s at sf0.1 on the old
    * spine-join form).
    */
  def resampleInterp(df: DataFrame, keyCol: String, epochSecCol: String,
                     valueCol: String, stepSeconds: Long): DataFrame = {
    val lastPerBucket = bucketLast(df, keyCol, epochSecCol, valueCol, stepSeconds)
    val asc = Window.partitionBy(col("key")).orderBy(col("bucket").asc)
    val back = asc.rowsBetween(Window.unboundedPreceding, 0)
    // strictly-after frame: desc order, rows up to BUT EXCLUDING current
    val fwdStrict = Window.partitionBy(col("key")).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val obsBucket = when(col("__v").isNotNull, col("bucket"))
    lastPerBucket
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(back))
      .withColumn("__pb", last(obsBucket, ignoreNulls = true).over(back))
      .withColumn("__nv", last(col("__v"), ignoreNulls = true).over(fwdStrict))
      .withColumn("__nbn", last(obsBucket, ignoreNulls = true).over(fwdStrict))
      .withColumn("__nb", lead(col("bucket"), 1).over(asc))
      .select(col("key"), col("bucket").as("__cb"), col("__v"), col("__pv"),
        col("__pb"), col("__nv"), col("__nbn"),
        explode(sequence(col("bucket"),
          coalesce(col("__nb") - stepSeconds, col("bucket")), lit(stepSeconds))).as("bucket"))
      // observed non-null buckets: the value itself; everything else: the
      // straight line between the surrounding non-null observations
      // ((__pb,__pv) at-or-before the emitting bucket, (__nbn,__nv) strictly
      // after it — nothing is observed in between, so they surround every
      // generated grid point). The arithmetic shape is mirrored verbatim in
      // the DuckDB oracle so both engines run the identical IEEE op
      // sequence before rounding.
      .select(col("key").as(keyCol), col("bucket"),
        when(col("bucket") === col("__cb") && col("__v").isNotNull, col("__v"))
          .otherwise(col("__pv") + (col("__nv") - col("__pv"))
            * (col("bucket") - col("__pb")) / (col("__nbn") - col("__pb")))
          .as("value_interp"))
  }
}
