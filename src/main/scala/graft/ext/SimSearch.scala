package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Freeze, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2b).
  *
  * Baseline: brute-force cosine top-k (exact, O(probes × corpus)). Scale
  * path: random-hyperplane LSH bucketing — probes only compare against
  * their bucket's corpus slice, turning the full cross join into a bucket
  * equi-join that shuffles each side once on the bucket key.
  */
object SimSearch {

  /** Cosine similarity of two float-array columns, computed in double via
    * the codegen'd [[graft.functions.FloatVectorDot]] expression (element
    * 0→n-1 fold, bit-identical to the HOF formulation and to DuckDB's
    * accumulation).
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.VectorFunctions.{dotF, normF}
    val (na, nb) = (normF(a), normF(b))
    when(na =!= 0.0 && nb =!= 0.0, dotF(a, b) / (na * nb))
  }

  /** NULL for zero-norm (degenerate) vectors instead of ANSI
    * DIVIDE_BY_ZERO: padding/failed-encoder rows are routine in corpus
    * pipelines and must not abort the job. NULL similarity is excluded by
    * threshold filters and ranks after every real value. Rounded to 6
    * decimals for cross-engine rank/threshold reproducibility.
    */
  private[ext] def safeCosine(dot: Column, na: Column, nb: Column): Column =
    when(na =!= 0.0 && nb =!= 0.0, round(dot / (na * nb), 6))

  /** Shared candidate-ranking tail: per-probe top-k under
    * (cosine desc, nbr_id asc) — one definition so exact and ANN paths can
    * never diverge on tie-breaks or rounding.
    *
    * Integral id columns ride the [[graft.functions.TopKPairs]]
    * bounded-heap aggregate, not `row_number().over(...)`: the window form
    * shuffles and SORTS every scored candidate (O(candidates log
    * candidates) through one exchange), the aggregate keeps an O(k) heap
    * per probe map-side so the exchange carries at most k entries per probe
    * per mapper. Non-integral ids (strings, decimals) keep the generic
    * window form. Contract deltas on the aggregate path, both deliberate:
    * NULL cosines (zero-norm vectors) never surface, and a probe with zero
    * non-null candidates emits no rows; NaN cosines rank first on both
    * paths (Spark descending-sort placement).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types._
    scored.schema("nbr_id").dataType match {
      case LongType => rankViaAgg(scored, k, LongType)
      case t @ (IntegerType | ShortType | ByteType) => // widen, rank, narrow back
        rankViaAgg(scored.withColumn("nbr_id", col("nbr_id").cast(LongType)), k, t)
      case _ => // non-integral ids can't ride the (double, bigint) aggregate
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("cosine").desc, col("nbr_id").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("probe_id", "nbr_id", "cosine", "rank")
    }
  }

  private def rankViaAgg(scored: DataFrame, k: Int,
                         idType: org.apache.spark.sql.types.DataType): DataFrame =
    scored.groupBy("probe_id")
      .agg(graft.functions.TopKPairs.topKPairs(col("cosine"), col("nbr_id"), k).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("probe_id"), col("e.id").cast(idType).as("nbr_id"),
        col("e.score").as("cosine"), (col("pos") + 1).as("rank"))

  /** Exact top-k neighbors per probe: cross join probes × corpus, cosine,
    * windowed rank. `k` survivors per probe under the total order
    * (similarity desc, id asc) — rounded similarity so rank ties resolve
    * identically across engines.
    *
    * Norms are computed ONCE per row before the join (O(n) work), so each
    * of the O(n²) pairs does a single dot product — the hoist is worth 3×
    * on the pair loop and keeps values bit-identical
    * (sqrt(dot(a,a))·sqrt(dot(b,b)) is the same product either way).
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, normF}
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"),
      normF(col(vecCol)).as("nbr_norm"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      normF(col(vecCol)).as("probe_norm"))
    val scored = p.crossJoin(c)
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("cosine", safeCosine(
        dotF(col("probe_vec"), col("nbr_vec")), col("probe_norm"), col("nbr_norm")))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) ANN top-k: corpus is partitioned into `nlist`
    * Voronoi cells around deterministic centroids (a seeded sample of the
    * corpus itself — one tiny collect of `nlist` vectors, NOT the corpus);
    * each probe searches only the `nprobe` nearest cells.
    *
    * Plan shape at scale: centroid assignment is a per-row argmax against a
    * broadcast `nlist`-row literal array (no shuffle), cell lookup is a hash
    * equi-join on `cell`, exact cosine + windowed rank on candidates. The
    * cross join the brute-force path pays becomes a join carrying
    * ≈ nprobe/nlist of the corpus per probe.
    *
    * Data-adaptive (cells follow density), unlike [[lshTopK]]'s fixed
    * hyperplanes — the better scale path when embeddings cluster.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int, nprobe: Int, seed: Long = 42L,
              broadcastProbes: Boolean = true): DataFrame =
    ivfTopKIndexed(buildIvfIndex(corpus, idCol, vecCol, nlist, seed),
      probes, idCol, vecCol, k, nprobe, broadcastProbes)

  /** A trained IVF index: the centroid matrix (row i = cell i) plus the
    * cell-assigned corpus relation `(nbr_id, nbr_vec, nbr_norm, cell)`.
    * Build once, persist with [[writeIvfIndex]], serve many query batches
    * with [[ivfTopKIndexed]] — the deployment shape; [[ivfTopK]] is the
    * build-and-query convenience for one-shot use.
    */
  final case class IvfIndex(centroids: Array[Array[Float]], assigned: DataFrame)

  /** Train the index: deterministic centroids (the `nlist` corpus vectors
    * with the smallest `xxhash64(seed, id)` — a seeded uniform sample,
    * one tiny collect of `nlist` vectors, NOT the corpus), then
    * nearest-centroid assignment via the [[graft.functions.CellAssign]]
    * expression: the centroid matrix rides as expression state (a literal
    * per-centroid array formulation stops being plannable past toy nlist —
    * see the expression's scaladoc). Zero-norm centroids score -Infinity
    * (cell scores are dot/|c| = |v|·cos, UNBOUNDED below for unnormalized
    * vectors, so a finite sentinel could outrank real cells) instead of
    * tripping ANSI divide-by-zero.
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, seed: Long = 42L): IvfIndex = {
    import graft.functions.VectorFunctions.normF
    val centroidMatrix: Array[Array[Float]] = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("hk", xxhash64(lit(seed), col("id")))
      .orderBy("hk").limit(nlist)
      .collect()
      .map(r => r.getSeq[Float](1).toArray)
    val assigned = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"),
      normF(col(vecCol)).as("nbr_norm"),
      element_at(graft.functions.CellAssign.cells(col(vecCol), centroidMatrix, 1), 1)
        .as("cell"))
    IvfIndex(centroidMatrix, assigned)
  }

  /** Persist a trained index: `centroids/` (cell → vector, nlist rows) and
    * `assigned/` (the cell-keyed corpus) as parquet, HIVE-PARTITIONED BY
    * CELL — the serving layout: a probe's nprobe cells map to directories,
    * so a point lookup scans nprobe/nlist of the index. The route-then-
    * write (`repartition(cell)` before `partitionBy`) keeps each cell in
    * one task → one file, the same small-files discipline as the K-family
    * writers. Re-training only ever pays the build again.
    */
  def writeIvfIndex(index: IvfIndex, dir: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // route into exactly nlist tasks (≤ one cell each), not the session's
    // shuffle-partition count: empty surplus tasks still pay the commit
    // protocol's per-attempt setup/rename, pure metadata churn at small
    // nlist, and at serving scale one-task-per-cell IS the layout contract
    index.assigned.repartition(index.centroids.length.max(1), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
  }

  /** Load a persisted index. The centroid matrix is an `nlist`-row collect
    * (the same driver footprint training pays); the assigned corpus stays
    * a lazy scan.
    */
  def readIvfIndex(spark: SparkSession, dir: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Float](1).toArray)
    IvfIndex(centroids, spark.read.parquet(s"$dir/assigned"))
  }

  /** Query a trained index: each probe searches its `nprobe` nearest cells.
    * Same plan shape as [[ivfTopK]]'s query half. The probe's own norm
    * scales every cell's score equally so it drops out of the argmax.
    */
  def ivfTopKIndexed(index: IvfIndex, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int, nprobe: Int,
                     broadcastProbes: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, normF}
    require(nprobe >= 1, "nprobe must be >= 1")
    // a corpus smaller than nlist yields fewer centroids than nprobe —
    // probe every available cell rather than reject the request
    val take = math.min(nprobe, index.centroids.length)
    val c = index.assigned
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      normF(col(vecCol)).as("probe_norm"),
      explode(graft.functions.CellAssign.cells(col(vecCol), index.centroids, take))
        .as("cell"))

    // The cell join has only `nlist` distinct keys, so hash-SHUFFLING on it
    // caps parallelism at nlist reducers no matter the cluster size — the
    // correct shape is the corpus staying put and the (tiny, nprobe-exploded)
    // probe side broadcasting onto it; partial top-k states then make the
    // rank exchange carry probes×k rows per partition, not candidates.
    // `broadcastProbes = false` is the backfill escape hatch (probe set too
    // large to broadcast — at that point a salted/bucketed strategy is the
    // real answer, see scaladoc). No pair dedup: each corpus vector lives in
    // exactly one cell and a probe's nprobe cells are distinct ranks, so a
    // (probe, nbr) pair can only arise once.
    val scored = (if (broadcastProbes) broadcast(p) else p).join(c, "cell")
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("cosine", safeCosine(
        dotF(col("probe_vec"), col("nbr_vec")), col("probe_norm"), col("nbr_norm")))
    rankTopK(scored, k)
  }

  /** Deterministic ±1 random hyperplanes (seeded), as literal float arrays
    * baked into the plan — broadcast-free, no driver-side state at runtime.
    */
  private def planes(numPlanes: Int, dim: Int, seed: Long): Seq[Column] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(
      array(Seq.fill(dim)(lit(if (rng.nextBoolean()) 1.0f else -1.0f)): _*)
        .cast("array<float>"))
  }

  /** Sign-random-projection bucket key: `numPlanes`-bit signature of the
    * vector (bit p = sign of dot(vec, plane_p)). Projections run through the
    * codegen'd [[graft.functions.FloatVectorDot]] — ±1 weights are exact in
    * float and the left-to-right double fold matches the former HOF
    * formulation bit-for-bit, so bucket keys (and recall specs) are
    * unchanged.
    */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    import graft.functions.VectorFunctions.dotF
    planes(numPlanes, dim, seed).zipWithIndex.map { case (plane, p) =>
      when(dotF(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN top-k via LSH bucketing with multi-probe: corpus vectors hash to
    * one `numPlanes`-bit bucket; each probe additionally visits the
    * `numPlanes` buckets at signature hamming distance 1 (sign flips are
    * the likeliest LSH errors). Candidates = bucket equi-join — a hash
    * shuffle, NOT a cross join; per-probe work is (1+numPlanes) bucket
    * lookups instead of a corpus scan. Exact cosine + windowed rank on the
    * deduplicated candidates.
    *
    * Recall < 1 by construction; tune with fewer planes (bigger buckets) or
    * more probe flips. Specs measure recall against [[bruteForceTopK]].
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
              k: Int, numPlanes: Int, dim: Int, seed: Long = 42L,
              broadcastProbes: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, normF}
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"),
      normF(col(vecCol)).as("nbr_norm"),
      lshBucket(col(vecCol), numPlanes, dim, seed).as("bucket"))
    val p0 = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      normF(col(vecCol)).as("probe_norm"),
      lshBucket(col(vecCol), numPlanes, dim, seed).as("bucket0"))
    val probeBuckets = array(col("bucket0") +:
      (0 until numPlanes).map(f => col("bucket0").bitwiseXOR(lit(1L << f))): _*)
    val p = p0.select(col("probe_id"), col("probe_vec"), col("probe_norm"),
      explode(probeBuckets).as("bucket"))
    // Same join discipline as [[ivfTopK]]: 2^numPlanes distinct bucket keys
    // make a hash shuffle the wrong shape at any scale — broadcast the
    // multiprobe-exploded probe side over the in-place corpus. No pair
    // dedup: a corpus vector has ONE bucket and the multiprobe set
    // {b, b^1, b^2, …} is distinct by construction (each XOR flips a
    // different bit), so (probe, nbr) pairs are already unique.
    val scored = (if (broadcastProbes) broadcast(p) else p).join(c, "bucket")
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("cosine", safeCosine(
        dotF(col("probe_vec"), col("nbr_vec")), col("probe_norm"), col("nbr_norm")))
    rankTopK(scored, k)
  }

  /** Recall-scored serving gate: per-probe result counts of `approx`
    * survive only while its mean recall@k against the in-query
    * [[bruteForceTopK]] truth clears `floor` — a quality collapse empties
    * the output, so a downstream exactness check (the driver's hash
    * compare) fails instead of silently serving bad neighbors.
    *
    * Plan shape: the truth join is per-probe (probes are a handful by
    * construction — recall is only computable where brute force is
    * affordable), and the mean rides an UNPARTITIONED window over the
    * one-row-per-probe relation, so the SinglePartition exchange carries
    * n_probes rows at any corpus scale. The subtree appears once, so the
    * ANN pipeline + truth structurally execute once.
    *
    * `approx` pairs are deduplicated before scoring: a duplicate
    * (probe_id, nbr_id) row would join the same truth row twice, inflating
    * both hits and n_results and overstating recall exactly when a broken
    * pipeline repeats results — the dedup rides the tiny (probes × k)
    * relation, so it costs one sub-millisecond exchange.
    */
  def recallGate(corpus: DataFrame, probes: DataFrame, approx: DataFrame,
                 idCol: String, vecCol: String, k: Int, floor: Double): DataFrame = {
    val exact = bruteForceTopK(corpus, probes, idCol, vecCol, k)
      .select(col("probe_id"), col("nbr_id"), lit(1).as("__hit"))
    val answered = approx.select(col("probe_id"), col("nbr_id")).distinct()
      .join(exact, Seq("probe_id", "nbr_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_results"),
        coalesce(sum(col("__hit")), lit(0L)).as("__hits"))
    // The mean's denominator is EVERY probe, not just probes the ANN
    // pipeline answered: a probe whose candidates all vanished (empty
    // bucket/cell after corpus drift) contributes 0 recall — omitting it
    // would inflate the mean and mask exactly the quality collapse the
    // floor exists to catch. Unanswered probes count toward the mean but
    // emit no output row (they produced no results to report).
    val perProbe = probes.select(col(idCol).as("probe_id")).distinct()
      .join(answered, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_results"), lit(0L)).as("n_results"),
        coalesce(col("__hits"), lit(0L)).as("__hits"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    perProbe
      .withColumn("__mean_recall",
        sum(col("__hits")).over(w).cast("double") / (count(lit(1)).over(w) * k))
      .filter(col("__mean_recall") >= floor && col("n_results") > 0)
      .select(col("probe_id"), col("n_results"))
  }

  /** [[recallGate]] with SELF-ESCALATION — the same insurance pattern as
    * `Dedup.minhashLshPairsAdaptive`: a parameter tuning (nprobe, plane
    * count) measured on TODAY's corpus is only sound while the corpus keeps
    * its distribution, and testdata regeneration can silently invalidate
    * it. The gate's all-or-nothing recall filter makes drift detectable at
    * zero extra machinery: an empty fast result (with probes present) IS
    * the below-floor signal, so on empty the gate re-queries at the safe
    * config (`safeApprox` — e.g. nprobe = nlist for IVF, fewer planes for
    * LSH) before giving up. If even the safe config misses the floor, the
    * empty result stands and the oracle fails loud — correct: that is a
    * quality collapse no parameter bump explains.
    *
    * Both branches return a frozen frame and the abandoned fast frame's
    * blocks are freed before the rerun allocates ([[Freeze.escalating]],
    * shared with the minhash twin). `safeApprox` is by-name: the safe
    * pipeline is only built when escalation fires.
    *
    * PRECONDITION (since round 14): `floor` must be > 0. A floor of 0 made
    * the recall filter vacuous, so an empty output could only mean "zero
    * answered probes" — a condition the safe-config rerun cannot fix —
    * and the adaptive wrapper would escalate on a false diagnosis. Callers
    * that want an unconditioned approximate result should call
    * [[recallGate]] directly (or skip the gate entirely).
    */
  def recallGateAdaptive(corpus: DataFrame, probes: DataFrame,
                         fastApprox: DataFrame, safeApprox: => DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         floor: Double): (DataFrame, Boolean) = {
    // the escalation signal is "gate output empty with probes present",
    // which only MEANS "recall below floor" when the floor actually cuts:
    // at floor <= 0 the mean-recall filter is vacuous, an empty output
    // means zero answered probes, and a safe-config rerun would chase a
    // condition it cannot interpret — reject the degenerate range up front
    require(floor > 0.0,
      s"recallGateAdaptive: floor must be > 0 (got $floor) - at floor <= 0 " +
      "an empty output cannot be read as a recall miss; use recallGate directly")
    // the freeze's own count is the emptiness check (the eager freeze
    // already runs a counting action) — a separate isEmpty would pay a
    // second job. Empty PROBES would read as a recall miss and build the
    // safe pipeline for a false diagnosis; the extra probes job runs only
    // on this already-rare empty-result path, never on the serving path.
    Freeze.escalating(recallGate(corpus, probes, fastApprox, idCol, vecCol, k, floor)) {
      (_, n) => n == 0 && !probes.isEmpty
    }(
      // NOTE the safe rerun rebuilds the bruteForceTopK truth — deliberate:
      // sharing it across configs (the Dedup twin's `sets` pattern) would
      // need an eager truth freeze on the COMMON path, taxing every
      // healthy run with an extra job to cheapen the drift-only rerun.
      recallGate(corpus, probes, safeApprox, idCol, vecCol, k, floor))
  }
}
