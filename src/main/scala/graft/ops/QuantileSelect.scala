package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact percentiles WITHOUT the value-histogram aggregate.
  *
  * Spark's built-in exact `percentile` materializes a value→count map of the
  * whole column per partition (`OpenHashMap` state): on near-unique doubles
  * the aggregate state IS the column — the one shape that cannot survive a
  * 100× scale-up. This implements classic two-round distributed selection
  * instead:
  *
  *   round 1  `approx_percentile` brackets each requested rank with a
  *            [lo, hi] VALUE band; the sketch's guaranteed rank error
  *            (±n/accuracy) bounds the band population to ~8·n/accuracy rows;
  *   round 2  one narrow scan counts rows strictly below each `lo` and
  *            (after a cardinality guard) collects the band's values — the
  *            exact order statistics at floor/ceil(p·(n−1)) are read off the
  *            sorted band and interpolated with the same
  *            `(higher−pos)·v_lo + (pos−lower)·v_hi` formula Spark's exact
  *            `percentile` uses, so results are bit-identical to it (and to
  *            DuckDB `percentile_cont`, the a9-proven pairing).
  *
  * State is bounded everywhere: the sketch is O(accuracy·log n), the band is
  * O(n/accuracy) — pick accuracy ≈ √n at whale scale and no participant ever
  * holds more than ~√n values. Heavy ties at a fence can still inflate a band
  * past `bandCap`; the guard detects any bracket/cap miss and falls back to
  * the built-in exact aggregate (correct, just the slow shape).
  *
  * Non-NaN numeric domain (NaN's comparison semantics differ between the
  * sketch and the ordering; the built-in has the same caveat). Callers with
  * an expensive upstream should cache it — the selection runs 2 actions
  * over `df` on the happy path (sketch; fused counts+band), 3 with the
  * adaptive retry or fallback (same contract as [[Profile.summarize]]).
  */
object QuantileSelect {

  /** Exact `percentile(valueCol, probs)` as driver-side values (for callers
    * that inline fences as literals — the globalIndex/equi-depth pattern).
    * Empty result ⇔ no non-null rows.
    */
  def exactPercentiles(df: DataFrame, valueCol: String, probs: Seq[Double],
                       accuracy: Int = 10000,
                       bandCap: Long = 4000000L): Seq[Double] =
    selectWithCounts(df, valueCol, probs, accuracy, bandCap) match {
      case Some((fences, _, _)) => fences
      case None =>
        // bracket miss (heavy ties / sketch edge) — the built-in exact
        // aggregate is the deterministic safety net
        val psSql = probs.mkString("array(", ",", ")")
        val row = df.agg(
          expr(s"percentile(CAST($valueCol AS DOUBLE), $psSql)")).head()
        if (row.isNullAt(0)) Seq.empty
        else row.getSeq[Double](0).map(d => if (d == 0.0) 0.0 else d)
    }

  /** The selection core: exact fences PLUS the exact count of rows ≤ each
    * fence and the non-null total — all from the SAME two actions (the
    * ≤-counts fall out of round 2's below-counts and band values; no third
    * scan). `None` ⇔ the bounded-state path could not bracket the ranks
    * (heavy ties) — callers fall back to the built-in exact aggregate.
    * `Some((Seq.empty, Seq.empty, 0))` ⇔ no non-null rows.
    *
    * [[Profile.equiDepthHistogram]] is the motivating caller: bucket
    * populations are first differences of the ≤-counts, so the whole
    * histogram needs no bucketing pass over the data at all.
    */
  private[ops] def selectWithCounts(
      df: DataFrame, valueCol: String, probs: Seq[Double],
      accuracy: Int = 10000,
      bandCap: Long = 4000000L): Option[(Seq[Double], Seq[Long], Long)] = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      "probs must be in [0, 1]")
    val v = col(valueCol).cast("double")
    val margin = 4.0 / accuracy
    val loP = probs.map(p => math.max(0.0, p - margin))
    val hiP = probs.map(p => math.min(1.0, p + margin))
    // Scala toString renders shortest-round-trip doubles — the SQL parser
    // recovers identical bits
    val brSql = (loP ++ hiP).mkString("array(", ",", ")")
    val r1 = df.agg(count(v).as("n"),
      expr(s"approx_percentile(CAST($valueCol AS DOUBLE), $brSql, $accuracy)")
        .as("br")).head()
    val n = r1.getLong(0)
    if (n == 0L) return Some((Seq.empty, Seq.empty, 0L))
    val br = r1.getSeq[Double](1)
    val lo = br.take(probs.size)
    val hi = br.drop(probs.size)

    // the data-derived lo/hi brackets ride as ONE referenced array each
    // (codegen emits `references[i]`, not the values), so the generated
    // source for this aggregate depends only on probs.size — a bench
    // warm-up or an earlier call on ANY dataset with the same fence count
    // compiles it once for the whole JVM; embedded double literals would
    // force a fresh whole-stage compile per dataset
    val loRef = lit(lo.toArray)
    val hiRef = lit(hi.toArray)
    def inBand(j: Int): Column =
      v >= element_at(loRef, j + 1) && v <= element_at(hiRef, j + 1)
    // ONE action for round 2: the below/band counts AND the band values.
    // The two ride SEPARATE aggregate branches of one union — mixing the
    // declarative sums with the TypedImperativeAggregate in a single agg
    // forced the whole thing onto interpreted ObjectHashAggregate, so all
    // n rows paid 2·probs interpreted when()-sums (measured: the dominant
    // cost of profile_equidepth at sf0.1). Split, the counts branch stays
    // whole-stage-codegen over the full scan, and only the ~8n/accuracy
    // band rows (codegen'd filter) reach the object aggregate — whose
    // state is still hard-capped at bandCap doubles (overflow evaluates to
    // NULL and takes the retry/fallback below, exactly like a count-based
    // cap miss). Signed zeros normalize to +0.0 on ingestion (the
    // PercentileCompact discipline).
    val anyBand = probs.indices.map(inBand).reduce(_ || _)
    val countAggs = probs.indices.flatMap { j =>
      Seq(coalesce(sum(when(v < element_at(loRef, j + 1), 1L)), lit(0L)).as(s"below_$j"),
        coalesce(sum(when(inBand(j), 1L)), lit(0L)).as(s"band_$j"))
    }
    val countsBranch = df.agg(countAggs.head, countAggs.tail: _*)
      .select(array(probs.indices.flatMap(j =>
          Seq(col(s"below_$j"), col(s"band_$j"))): _*).as("nums"),
        lit(null).cast("array<double>").as("vals"))
    val bandBranch = df.filter(anyBand)
      .agg(graft.functions.BoundedSortedCollect.boundedSortedCollect(
        when(v === 0.0, lit(0.0)).otherwise(v),
        math.min(bandCap, Int.MaxValue.toLong).toInt).as("vals"))
      .select(lit(null).cast("array<bigint>").as("nums"), col("vals"))
    val rows = countsBranch.unionAll(bandBranch).collect()
    val cRow = rows.find(!_.isNullAt(0)).get
    val vRow = rows.find(_.isNullAt(0)).get
    val nums = cRow.getSeq[Long](0)
    val below = probs.indices.map(j => nums(2 * j))
    val bandN = probs.indices.map(j => nums(2 * j + 1))
    val bandVals: Option[Seq[Double]] =
      if (vRow.isNullAt(1)) None else Some(vRow.getSeq[Double](1))

    val positions = probs.map(_ * (n - 1))
    val bracketed = probs.indices.forall { j =>
      val lower = math.floor(positions(j)).toLong
      val higher = math.ceil(positions(j)).toLong
      below(j) <= lower && higher < below(j) + bandN(j)
    }
    val fits = probs.indices.forall(j => bandN(j) <= bandCap) &&
      bandN.sum <= bandCap && bandVals.isDefined
    if (bracketed && !fits) {
      // bands outgrew the cap because the SKETCH was too coarse for this n
      // (expected: band ≈ 8n/accuracy rows) — at whale scale the answer is
      // a finer sketch, never the value-histogram aggregate. One adaptive
      // retry with accuracy sized to the observed n; ties past that are a
      // genuine data property and fall through to the built-in below.
      val finer = math.min(10000000L, 8L * n / math.max(bandCap / 2, 1L)).toInt
      if (finer > accuracy)
        return selectWithCounts(df, valueCol, probs, finer, bandCap)
    }
    if (!bracketed || !fits) return None

    // the band values arrived pre-sorted (and zero-normalized) with the
    // counts — no second scan
    val all = bandVals.get.toArray
    val out = probs.indices.map { j =>
      val pos = positions(j)
      val lower = math.floor(pos).toLong
      val higher = math.ceil(pos).toLong
      val vals = all.filter(x => x >= lo(j) && x <= hi(j))
      val vLo = vals((lower - below(j)).toInt)
      val vHi = vals((higher - below(j)).toInt)
      // equal-neighbors shortcut — see PercentileCompact.eval
      val fence = if (lower == higher || vLo == vHi) vLo
      else (higher - pos) * vLo + (pos - lower) * vHi
      // rows ≤ fence = rows strictly below the band + band values ≤ fence
      // (fence ≤ hi(j) by construction, so nothing past the band qualifies)
      (fence, below(j) + vals.count(_ <= fence))
    }
    Some((out.map(_._1), out.map(_._2), n))
  }

  /** Exact per-group `percentile(valueExpr, prob)` as a fence RELATION
    * (groupCols + `outCol`) — the join-back shape of [[Outliers.madOutliers]]'
    * fences, for groups too large for its compact buffer. Fully relational:
    * no driver state at any group cardinality; the per-group aggregate state
    * is the O(n_g/accuracy) band — collected through a CAPPED aggregate
    * (`bandCap`, 8·bandCap bytes worst case), so heavy ties at the fence can
    * never silently re-inflate the state to O(n_g). A bracket miss or a band
    * overflow raises a loud error (never a silently wrong fence) — rerun
    * with higher accuracy or a larger cap; all-null groups yield NULL like
    * the built-in.
    */
  def groupPercentile(df: DataFrame, groupCols: Seq[String], valueExpr: Column,
                      prob: Double, outCol: String,
                      accuracy: Int = 10000,
                      bandCap: Int = 4000000): DataFrame = {
    require(prob >= 0.0 && prob <= 1.0, "prob must be in [0, 1]")
    require(groupCols.nonEmpty, "group by at least one column")
    val g = groupCols.map(col)
    // signed zeros normalize to +0.0 on ingestion (see exactPercentiles)
    val vCast = valueExpr.cast("double")
    val work = df.select(
      g :+ when(vCast === 0.0, lit(0.0)).otherwise(vCast).as("__v"): _*)
    val margin = 4.0 / accuracy
    val pLo = math.max(0.0, prob - margin)
    val pHi = math.min(1.0, prob + margin)
    val sketch = work.groupBy(g: _*).agg(
      expr(s"approx_percentile(__v, array($pLo, $pHi), $accuracy)").as("__br"))
    // fence relation is one row per group — AQE broadcasts it; the probe
    // side is NOT re-shuffled, and the second aggregate's map-side partials
    // (two sums + the band list) keep the exchange tiny. NULL-SAFE join
    // keys: groupBy keeps a NULL-key group, and a plain equi-join here
    // would silently drop it — the built-in grouped percentile does not.
    val sk = sketch.withColumnsRenamed(
      groupCols.map(c => c -> s"__gk_$c").toMap)
    val joined = work.join(sk,
        groupCols.map(c => col(c) <=> col(s"__gk_$c")).reduce(_ && _))
      .withColumn("__lo", col("__br").getItem(0))
      .withColumn("__hi", col("__br").getItem(1))
    val vv = col("__v")
    // band state is CAPPED (the whole point of this operator): a plain
    // collect_list under heavy ties at the fence value would hold O(n_g)
    // doubles per group — BoundedSortedCollect stops at `bandCap` and
    // evaluates to NULL, which the fence expression below turns into a
    // loud, actionable error (mirroring exactPercentiles' bandCap guard)
    val agg = joined.groupBy(g: _*).agg(
      count(vv).as("__n"),
      coalesce(sum(when(vv < col("__lo"), 1L)), lit(0L)).as("__below"),
      graft.functions.BoundedSortedCollect.boundedSortedCollect(
        when(vv >= col("__lo") && vv <= col("__hi"), vv), bandCap)
        .as("__band"))

    val nM1 = (col("__n") - 1).cast("double")
    val pos = lit(prob) * nM1
    val lower = floor(pos)
    val higher = ceil(pos)
    val idxLo = (lower - col("__below") + 1).cast("int")
    val idxHi = (higher - col("__below") + 1).cast("int")
    val okCoverage = col("__below") <= lower &&
      (higher - col("__below")) < size(col("__band"))
    val vLo = element_at(col("__band"), idxLo)
    val vHi = element_at(col("__band"), idxHi)
    val fence = when(col("__n") === 0L, lit(null).cast("double"))
      .when(col("__band").isNull, raise_error(lit(
        s"graft.QuantileSelect.groupPercentile($outCol): a group's percentile " +
          s"band exceeded bandCap=$bandCap values (heavy ties at the fence?) — " +
          s"rerun with accuracy > $accuracy or a larger bandCap"))
        .cast("double"))
      .when(!okCoverage, raise_error(lit(
        s"graft.QuantileSelect.groupPercentile($outCol): rank bracket miss " +
          s"(heavy ties at the fence?) — rerun with accuracy > $accuracy"))
        .cast("double"))
      // equal-neighbors shortcut — see PercentileCompact.eval
      .when(lower === higher || vLo === vHi, vLo)
      .otherwise((higher - pos) * vLo + (pos - lower) * vHi)
    agg.select(g :+ fence.as(outCol): _*)
  }
}
