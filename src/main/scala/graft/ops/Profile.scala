package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality summary a pipeline runs before it
  * trusts an input (null rates, cardinalities, value ranges). One row per
  * profiled column, long format:
  * (column, n_rows, n_null, n_distinct, min_value, max_value) with the
  * extrema rendered as strings so heterogeneous column types share one
  * schema.
  *
  * Shape at 100 TB: one aggregation PER COLUMN, each over a single-column
  * pruned scan (`groupBy(col)` partial-aggregates map-side, so the shuffle
  * carries one row per distinct value per partition — not full rows), then
  * a union of k one-row results. This deliberately avoids the single-pass
  * `k × count(DISTINCT ...)` form: Catalyst plans multiple distincts via an
  * Expand that multiplies every input row (k+1)× BEFORE the exchange, so
  * its shuffle volume is (k+1)·rows — strictly worse than k pruned
  * columnar scans whose shuffles carry only distinct values. (Measured at
  * sf0.1: 3.3 s for the Expand plan vs sub-second for this one, on the
  * same 4-column profile.)
  *
  * `n_distinct` is exact (it's what an oracle can gate); a column whose
  * full-scale cardinality makes exactness a shuffle not worth paying takes
  * its HLL++ estimate from `AggOps.approxDistinct` instead.
  */
object Profile {

  def summarize(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val perCol = cols.map { c =>
      // two-level exact distinct: groupBy(v) combines map-side (shuffle =
      // distinct values per partition), the one-row rollup then derives
      // every stat from the grouped counts. count(v)/min/max ignore NULL
      // groups exactly as their direct forms do.
      df.select(col(c).as("__v")).groupBy(col("__v"))
        .agg(count(lit(1)).as("__cnt"))
        .agg(
          coalesce(sum(col("__cnt")), lit(0L)).as("n_rows"), // empty input: 0 groups, sum is NULL
          coalesce(sum(when(col("__v").isNull, col("__cnt"))), lit(0L)).as("n_null"),
          count(col("__v")).as("n_distinct"),
          min(col("__v")).cast("string").as("min_value"),
          max(col("__v")).cast("string").as("max_value"))
        .select(lit(c).as("column"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }
    perCol.reduce(_ unionByName _)
  }

  /** Equi-DEPTH histogram: `b` buckets holding ~equal row counts, bounded by
    * the column's exact percentiles (the data-skew-proof sibling of the
    * equi-width `floor(x/width)` histogram — one hot region can't empty
    * every other bin). A row's bucket is the number of fences strictly
    * below its value (fence-equal rows go to the LOWER bucket), so tied
    * fences skip bucket labels exactly as counting duplicates implies.
    *
    * Shape at 100 TB: the b−1 EXACT fences come from
    * [[QuantileSelect.selectWithCounts]] (two-round distributed selection —
    * bounded state everywhere, never the whole-column value-histogram
    * aggregate built-in `percentile` pays), and the bucket populations are
    * FIRST DIFFERENCES of the rows-≤-fence counts that same round already
    * derived from its below-counts + band values: the histogram costs the
    * selection's two scans and NOTHING more — no bucketing pass. Only if
    * the bounded-state selection cannot bracket the ranks (heavy ties) does
    * it fall back to the built-in exact percentile plus a codegen'd
    * binary-search bucketing pass (a broadcast-cross-join of the one-row
    * fence relation was measured 6× slower — BroadcastNestedLoopJoin leaves
    * whole-stage codegen).
    */
  /** MULTI-ACTION CONTRACT: the fence selection executes `df` twice
    * (sketch; counts+band) — `df` must be deterministic across actions.
    * Parquet scans and pure transforms are; `rand()`-derived columns or
    * unstable sampling are NOT and would yield fences that disagree between
    * the two passes. A caller with such an input runs `Freeze(df)` on it
    * first, so every pass reads the same frozen rows.
    */
  def equiDepthHistogram(df: DataFrame, valueCol: String, b: Int): DataFrame = {
    require(b >= 2, "need at least 2 buckets")
    val probs = (1 until b).map(j => j.toDouble / b)
    QuantileSelect.selectWithCounts(df, valueCol, probs) match {
      case Some((_, _, 0L)) =>
        df.sparkSession.range(0).select(
          col("id").as("bucket"), col("id").as("n"))
      case Some((fences, cntLE, n)) =>
        // fences arrive ascending (percentiles are monotone in p). Walk the
        // distinct fence values: rows in (prev, fence] form one bucket whose
        // label is the number of fences strictly below them — advancing by
        // each fence's multiplicity, as the strict-< definition implies.
        val rows = Seq.newBuilder[(Long, Long)]
        var label = 0L; var prevCnt = 0L; var i = 0
        while (i < fences.length) {
          var j = i // run of tied fences
          while (j < fences.length && fences(j) == fences(i)) j += 1
          val c = cntLE(i)
          if (c > prevCnt) rows += ((label, c - prevCnt))
          label += j - i; prevCnt = c; i = j
        }
        if (n > prevCnt) rows += ((label, n - prevCnt))
        df.sparkSession.createDataFrame(rows.result())
          .toDF("bucket", "n")
      case None =>
        // heavy-tie fallback: built-in exact fences, then a codegen'd
        // binary-search bucketing pass (see SortedLowerBound)
        val fences = QuantileSelect.exactPercentiles(df, valueCol, probs)
        val distinctF = fences.distinct.sorted
        val idx = graft.functions.SortedLowerBound.bucket(
          col(valueCol).cast("double"), distinctF)
        // idx counts DISTINCT fences below the value; the label counts ALL
        // of them — remap through the cumulative multiplicities so tied
        // fences skip labels exactly like the fused path
        val cums = distinctF.scanLeft(0L)((acc, d) =>
          acc + fences.count(_ == d))
        val bucket = element_at(
          array(cums.map(lit): _*), idx + 1)
        // NULLs are outside every percentile band (the percentile aggregate
        // already ignores them) — excluded rather than silently binned at 0
        df.filter(col(valueCol).isNotNull)
          .withColumn("bucket", bucket)
          .groupBy("bucket").agg(count(lit(1)).as("n"))
    }
  }
}
