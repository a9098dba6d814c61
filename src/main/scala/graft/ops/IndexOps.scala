package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Freeze}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contiguous global row numbering at scale.
  *
  * `row_number() OVER (ORDER BY k)` with no PARTITION BY is the classic
  * scale-killer: Spark plans it as `Exchange SinglePartition` and funnels the
  * entire dataset through one task. This operator produces the IDENTICAL
  * output with a quantile-bucketed two-phase plan:
  *
  *   1. one pass computes ~`numBuckets` approximate quantile boundaries of
  *      the order key (sketch-sized driver state, not data);
  *   2. each row is assigned a contiguous range bucket by comparing against
  *      the broadcast boundary literals (no shuffle);
  *   3. a narrow `groupBy(bucket).count` yields per-bucket row counts whose
  *      running sum (a window over ≤ numBuckets rows) gives each bucket's
  *      global offset — broadcast-joined back, never collected;
  *   4. `row_number` partitioned BY BUCKET (a ~1/numBuckets slice, not the
  *      world) plus the bucket's offset is the global index.
  *
  * Steps 2–4 are ONE action (one job): the offsets relation is a side
  * aggregate of the same scan, not a separate driver round-trip.
  *
  * The output is exactly the global rank regardless of where the sampled
  * boundaries land: buckets are contiguous ranges of the order key, every
  * row is assigned with the same boundary literals in both phases, and
  * within-bucket numbering is offset by the exact count of all earlier
  * buckets. Quantile error only skews bucket SIZES (bounded by
  * `relativeError`), never the result.
  */
object IndexOps {

  /** 1-based contiguous index in `orderCol` order. `orderCol` must be a
    * non-null numeric column and a total order (unique values) — equal keys
    * would make the global rank ambiguous on any engine.
    *
    * The input plan is EXECUTED TWICE (quantile sketch; final query, which
    * scans it twice within one job): `df` must be deterministic across actions —
    * parquet scans and pure transforms are; `rand()`, unstable sampling, or
    * a source mutating between actions are not, and would silently gap or
    * duplicate indices. A caller with such an input runs `Freeze(df)` on
    * it first, so all three passes read the same frozen rows.
    */
  /** `relativeError` only skews bucket BALANCE (a 0.01 error on a 1/64
    * boundary misplaces ≤1% of rows into the neighbor bucket), never the
    * output — the exact per-bucket counts correct any sketch error. The
    * default is deliberately loose: a tighter sketch costs a slower
    * first pass for no output difference.
    */
  def globalIndex(df: DataFrame, orderCol: String, outName: String = "idx",
                  numBuckets: Int = 64, relativeError: Double = 0.01): DataFrame = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    // phase 1: boundary sketch. Distinct-sorted; duplicate quantiles (heavy
    // hitters / tiny inputs) would only create empty buckets, drop them.
    val probs = (1 until numBuckets).map(_.toDouble / numBuckets)
    // approx_percentile (codegen'd aggregate) over the pruned single-column
    // scan — measurably cheaper than DataFrameStatFunctions.approxQuantile,
    // whose QuantileSummaries run on the pre-codegen RDD path
    val boundaries: Array[Double] =
      if (numBuckets == 1) Array.empty[Double]
      else {
        val acc = math.max(100, (1.0 / relativeError).toInt)
        val row = df.select(expr(
          s"approx_percentile(CAST(`$orderCol` AS DOUBLE), " +
            probs.mkString("array(", ",", ")") + s", $acc)").as("q")).head()
        if (row.isNullAt(0)) Array.empty[Double]
        else row.getSeq[Double](0).toArray.distinct.sorted
      }
    // bucket = number of boundaries strictly below the key (binary-search
    // codegen expression — a chained CASE WHEN fold is 63 nested exprs that
    // janino compiles in whole seconds). Rows equal to a boundary all land
    // in the same bucket, so ranges stay contiguous.
    val bucketOf = graft.functions.SortedLowerBound.bucket(
      col(orderCol).cast("double"), boundaries.toSeq)
    val withBucket = df.withColumn("__gx_bucket", bucketOf)
    // phase 2+3 FUSED into the final query (no driver collect): exact
    // per-bucket counts aggregate relationally, a window over the <=
    // numBuckets count rows turns them into running offsets (a 64-row
    // single-partition sort — free), and the offset relation broadcast-joins
    // back on the bucket id. One action total after the sketch, and no
    // per-row literal-map construction (the previous element_at(map(...))
    // form rebuilt a 2·numBuckets-entry map object PER ROW — measured as
    // the dominant cost of the final pass at sf0.1).
    val wOff = Window.orderBy(col("__gx_bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withBucket.groupBy("__gx_bucket").count()
      .select(col("__gx_bucket").as("__gx_ob"),
        coalesce(sum(col("count")).over(wOff), lit(0L)).as("__gx_off"))
    val w = Window.partitionBy("__gx_bucket").orderBy(col(orderCol).asc)
    withBucket
      .join(broadcast(offsets), col("__gx_bucket") === col("__gx_ob"))
      .withColumn(outName, col("__gx_off") + row_number().over(w).cast("long"))
      .drop("__gx_bucket", "__gx_ob", "__gx_off")
  }

  /** 1-based contiguous index over an arbitrary COMPOSITE sort order —
    * the generalization of [[globalIndex]] to keys that cannot be packed
    * into one double (e.g. `(n DESC, term ASC)` for vocab id assignment).
    *
    * Same two-phase shape — bucket, count, offset, number-within-bucket —
    * but the bucket boundaries come from `repartitionByRange`'s sampler
    * (Spark's RangePartitioner handles composite keys with mixed sort
    * directions natively; an approx-quantile literal sketch cannot), and
    * partition ids follow the sort order, so `spark_partition_id()` IS the
    * bucket rank. Two freezes, each load-bearing: the INPUT is frozen first
    * so the sampler's own execution of the child reads materialized blocks
    * instead of re-running the upstream (and its count sizes the bucket
    * fan-out to the data); the BUCKETED relation is frozen because the
    * sampler draws per-execution — without that freeze the counts branch
    * and the numbering branch could sample different boundaries and the
    * exact-offset invariant breaks. (For the single numeric-key case
    * [[globalIndex]] stays the zero-materialization path: its boundary
    * LITERALS are computed once on the driver and are identical in every
    * execution by construction.)
    *
    * As with [[globalIndex]], boundary placement only skews bucket SIZES:
    * per-bucket counts are exact and within-bucket numbering is a total
    * order, so the output is exactly the global rank. `order` must be a
    * total order over the input (ties would make the rank ambiguous on any
    * engine — same contract the oracle's `row_number` carries).
    */
  def globalIndexBy(df: DataFrame, order: Seq[Column],
                    outName: String = "idx", numBuckets: Int = 64,
                    rowsPerBucket: Long = 2000L): DataFrame = {
    require(order.nonEmpty, "order must have at least one sort expression")
    require(numBuckets >= 1, "numBuckets must be >= 1")
    require(rowsPerBucket >= 1, "rowsPerBucket must be >= 1")
    // Freeze the INPUT once before range-bucketing (checkpoint + count in a
    // single pass): repartitionByRange's boundary sampler is its own
    // execution of the child plan, so an unfrozen input pays the full
    // upstream twice — for Vocab.build that upstream is the corpus
    // explode + term-count aggregate, the expensive half of the gate at any
    // scale. The frozen row count also sizes the bucket fan-out
    // scale-adaptively: ~rowsPerBucket rows per bucket up to the numBuckets
    // cap, so a gate-scale vocab stops paying dozens of near-empty shuffle
    // partitions (each a task launch + window sort) while a 10^8-row term
    // universe keeps the full numBuckets-way spread.
    val (frozen, n) = Freeze.counted(df)
    val buckets = math.max(1, math.min(numBuckets,
      math.ceil(n.toDouble / rowsPerBucket).toInt))
    val bucketed = Freeze(frozen
      .repartitionByRange(buckets, order: _*)
      // spark_partition_id() is deterministic WITHIN the frozen copy;
      // it is only ever read post-freeze
      .withColumn("__gx_bucket", spark_partition_id()))
    val wOff = Window.orderBy(col("__gx_bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("__gx_bucket").count()
      .select(col("__gx_bucket").as("__gx_ob"),
        coalesce(sum(col("count")).over(wOff), lit(0L)).as("__gx_off"))
    val w = Window.partitionBy("__gx_bucket").orderBy(order: _*)
    bucketed
      .join(broadcast(offsets), col("__gx_bucket") === col("__gx_ob"))
      .withColumn(outName, col("__gx_off") + row_number().over(w).cast("long"))
      .drop("__gx_bucket", "__gx_ob", "__gx_off")
  }
}
