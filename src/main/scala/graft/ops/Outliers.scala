package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Freeze}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group z-score outlier detection — the "flag the price spike before
  * it poisons the aggregate" step of a cleaning pipeline.
  *
  * Group mean and sample stddev are attached as WINDOW aggregates
  * (`Window.partitionBy(groups)`), so the whole operator is ONE shuffle on
  * the group keys — no separate aggregate + join-back pass. Single-member
  * groups (stddev undefined → NULL) produce a NULL score and are never
  * flagged.
  *
  * The score is ROUNDED before both output and threshold comparison:
  * group-sum association order differs across engines and partitionings, and
  * comparing the rounded value keeps the flag decision identical everywhere
  * (same drift-absorption discipline as the a10 second-moment gate).
  */
object Outliers {

  /** Adds `mu`, `sigma`, and the rounded `z` per row. */
  def withZscore(df: DataFrame, groupCols: Seq[String], valueCol: String,
                 roundTo: Int = 4): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
    val v: Column = col(valueCol)
    df.withColumn("mu", avg(v).over(w))
      .withColumn("sigma", stddev_samp(v).over(w))
      // zero-variance groups: z undefined (NULL), not an ANSI
      // divide-by-zero crash — same contract as the NULL-sigma singleton
      .withColumn("z", round((v - col("mu")) / nullif(col("sigma"), lit(0.0)), roundTo))
  }

  /** Rows whose |z| exceeds `k` — NULL sigma/z rows never flag. */
  def outliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
               k: Double, roundTo: Int = 4): DataFrame =
    withZscore(df, groupCols, valueCol, roundTo).filter(abs(col("z")) > k)

  /** Robust (median/MAD) outliers: rz = (x − median) / (1.4826·MAD),
    * flagged when |rz| > k. Unlike the mean/stddev z-score, ONE extreme
    * value cannot drag the center and mask itself (the breakdown point is
    * 50%, not 0) — the estimator of choice when the spikes you hunt are
    * also the rows poisoning the statistics.
    *
    * Shape: two exact-median fence relations with join-backs (the
    * group-cardinality relations — AQE broadcasts them when small). The
    * medians come from [[graft.functions.PercentileCompact]] — a single
    * pass per fence with a flat primitive buffer, severalfold faster than
    * the built-in `percentile`'s boxed value-histogram and bit-identical to
    * it. STATE TRADE, explicitly: the compact buffer is O(group ROWS) at
    * 8 B/row where the built-in's distinct-value map is O(group DISTINCTS)
    * at ~50 B/entry — on near-unique doubles (the common case) the buffer
    * wins severalfold, but a LOW-CARDINALITY whale group (say 10⁹ rows of
    * integer-valued prices) fits the built-in's map and NOT the buffer,
    * which raises a loud capacity error at ~2.6×10⁸ rows/group. For such
    * groups set `boundedState = true` to route through
    * [[QuantileSelect.groupPercentile]] — two-round distributed selection,
    * O(n_g/accuracy) state at ANY row count or cardinality, same bits,
    * roughly twice the scan work.
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Double, roundTo: Int = 4,
                  boundedState: Boolean = false): DataFrame = {
    val v = col(valueCol)
    // NOTE: no Freeze of DF here even though three consumers re-run
    // the upstream plan — measured at sf0.1 the eager materialization costs
    // MORE than re-scanning a pruned parquet branch (checkpoint breaks
    // whole-stage fusion and blocks). Callers with an expensive upstream
    // should checkpoint BEFORE calling, as CorpusClean.run does. The FENCE
    // relations on the bounded path ARE checkpointed: one row per group, and
    // without it the med machinery re-executes inside every mad subtree.
    def fences(in: DataFrame, value: Column, out: String): DataFrame =
      if (boundedState)
        Freeze(QuantileSelect.groupPercentile(in, groupCols, value, 0.5, out))
      else in.groupBy(groupCols.map(col): _*)
        .agg(graft.functions.PercentileCompact
          .percentileCompact(value, 0.5).as(out))
    val med = fences(df, v, "med")
    val withMed = df.join(med, groupCols)
    val mad = fences(withMed, abs(v - col("med")), "mad")
    withMed.join(mad, groupCols)
      .withColumn("rz",
        round((v - col("med")) / (lit(1.4826) * nullif(col("mad"), lit(0.0))), roundTo))
      .filter(abs(col("rz")) > k)
  }

  /** Winsorization: clamp each value into its group's [pLo, pHi] exact
    * percentile band — the "cap, don't drop" alternative to outlier
    * removal (heavy tails get pinned to the fence, sample size is
    * preserved). Adds `lo`, `hi`, and the clamped `<valueCol>_w`.
    *
    * Shape: ONE grouped exact-percentile aggregate + join-back (the
    * group-cardinality relation — AQE broadcasts it when small); the clamp
    * itself is a scan expression. Both fences ride one
    * [[graft.functions.PercentileCompact]] buffer (flat primitive state,
    * bit-identical to the built-in); the buffer is O(group rows) with a
    * loud capacity error at ~2.6×10⁸ rows/group — same state trade and
    * same [[QuantileSelect.groupPercentile]] escape hatch as
    * [[madOutliers]] for whale-scale groups of any cardinality.
    */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                pLo: Double, pHi: Double,
                boundedState: Boolean = false): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, "need 0 <= pLo < pHi <= 1")
    val fences =
      if (boundedState)
        // one row per group; freeze so the med machinery doesn't
        // re-execute inside every consumer subtree
        Freeze(QuantileSelect.groupPercentile(df, groupCols, col(valueCol), pLo, "lo")
          .join(QuantileSelect.groupPercentile(df, groupCols, col(valueCol),
            pHi, "hi"), groupCols))
      else df.groupBy(groupCols.map(col): _*)
        .agg(graft.functions.PercentileCompact
          .percentileCompact(col(valueCol), Seq(pLo, pHi)).as("__f"))
        .select(col("*"), col("__f").getItem(0).as("lo"),
          col("__f").getItem(1).as("hi"))
        .drop("__f")
    df.join(fences, groupCols)
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("lo")), col("hi")))
  }
}
