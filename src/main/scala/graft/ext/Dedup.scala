package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Freeze}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2b): exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale ladder (100 TB posture):
  *  - `exact` — one hash-shuffle on a 16-byte digest, the cheapest possible.
  *  - `ngramJaccardPairs` — exact all-pairs via shingle-inverted-index join;
  *    O(sum df²) in shingle document-frequency, only for verification scale.
  *  - `minhashLshPairs` — the scale path: fixed-width sketch per doc (one
  *    aggregate pass), banded bucket join emits only candidate pairs, exact
  *    verify on the candidates. Sub-quadratic; the inverted-index join never
  *    materializes.
  *  - `simhash64`/`simhashPairs` — 64-bit sketch, hamming-ball search via
  *    pigeonhole banding; constant state per doc.
  *  - `embeddingCosinePairs` — brute-force pair cosine for ground truth;
  *    LSH/IVF variants for ANN live in [[SimSearch]].
  */
object Dedup {

  /** Exact dedup: canonical id = min(id) among identical texts. Grouping key
    * is the md5 digest, not the text itself — the shuffle carries 16 bytes
    * per row instead of full documents (the difference between shuffling
    * 100 TB and shuffling 1.6 TB).
    */
  def exactCanonical(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    df.withColumn("fp", md5(col(textCol).cast("binary")))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
  }

  /** Exact n-gram Jaccard similarity join: all pairs (id_a < id_b) with
    * |A∩B| / |A∪B| ≥ `threshold` over distinct word `n`-gram shingle sets.
    *
    * Plan: inverted index (shingle → docs) self-joined on shingle, pair
    * co-occurrence counts via hash aggregate, set sizes joined back. Every
    * step is a shuffle on a key (shingle, then pair) — no cross join. Hub
    * shingles with document frequency ≥ `maxDocFreq` can be dropped
    * (standard stop-shingle cap) to bound the df² blowup at scale; None
    * keeps exact semantics for oracle comparison.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                        threshold: Double, maxDocFreq: Option[Long] = None): DataFrame = {
    // set size is a property of the per-doc shingle ARRAY — computing it
    // before the explode and carrying it through the index join (8 bytes per
    // exploded row) saves the separate sizes aggregate plus two join-backs
    // (three shuffles) of the naive formulation.
    val sh0 = df
      .select(col(idCol).as("id"),
        graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("set"))
      .select(col("id"), size(col("set")).cast("long").as("sz"),
        explode(col("set")).as("s"))
    // `sz` stays the FULL set size even under the cap: capped runs drop hub
    // shingles from candidate generation and intersection counts only, so
    // jaccard is underestimated — the capped result is a subset of the exact
    // pairs at the same threshold (never a false positive).
    val sh = maxDocFreq match {
      case Some(cap) =>
        // materialized once: both sides of the self-join below reference this
        // subtree, and without the checkpoint the full df-aggregate over the
        // exploded shingle relation would run twice (once per side)
        val hubs = Freeze(sh0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") >= cap).select("s"))
        sh0.join(broadcast(hubs), Seq("s"), "left_anti")
      case None => sh0
    }
    val a = sh.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a"))
    val b = sh.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b"))
    // Bench-floor note (round-7 audit): the remaining gate cost here is the
    // Σdf² pair enumeration itself plus one fresh-plan codegen round — no
    // redundant explode or re-aggregation remains (the shingle explode runs
    // once per join side by design; checkpointing it was measured a wash at
    // sf0.1 and a regression for the result-freeze variant).
    // shuffle-hash, not the default sort-merge: equi-key pair enumeration
    // never needs its inputs sorted, and sorting both sides of the exploded
    // shingle relation dominated the join (measured 2.3s -> 0.9s at sf0.1).
    // Build-side memory is a partition's shingle postings — bounded under
    // the `maxDocFreq` cap; the uncapped exact path is verification-scale
    // by contract (and the hint is advisory: the planner falls back to SMJ
    // where it can't guarantee the build).
    a.hint("shuffle_hash").join(b, a("s") === b("s") && a("id_a") < b("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard join via PREFIX FILTERING (AllPairs / PPJoin
    * family — Bayardo et al., "Scaling Up All Pairs Similarity Search",
    * WWW'07; Chaudhuri et al., ICDE'06): same output as
    * [[ngramJaccardPairs]], sub-Σdf² candidate generation.
    *
    * Order every doc's shingles by GLOBAL rarity (document frequency asc,
    * hash asc — one total order shared by all docs) and index only each
    * set's first `|s| - ceil(t·|s|) + 1` shingles. Any pair with
    * J ≥ t must share at least one PREFIX shingle under that order (if all
    * common shingles sat in a's suffix, overlap ≤ ceil(t·|a|) - 1 < the
    * t·max(|a|,|b|) any qualifying pair needs), so pruning is LOSSLESS —
    * this is the scale path that stays exact, unlike the `maxDocFreq` cap.
    * Hub shingles sort LAST, so exactly the df² hot spots fall outside the
    * prefixes and never reach the self-join. A size filter
    * (t·|a| ≤ |b| ≤ |a|/t) prunes candidates the verify would reject.
    *
    * Verification joins candidates back to the materialized (id, set)
    * relation and intersects the two arrays per pair — no second pass
    * through the inverted index.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // Bench-floor note (round-7 phase audit at sf0.1): warm steady-state is
    // ~1.3 s; the bench's ~2 s is dominated by first-plan codegen across
    // the ~8 stages (checkpoint 0.3 s warm / 2.5 s cold, prefix relation
    // and candidate join similar). The df-rank window and the verify joins
    // are already at their minimum exchange count for the lossless
    // AllPairs shape — folding index build into the verify exchange would
    // trade the window's (id) partitioning for a second pass over the
    // exploded index, a regression at every scale measured.
    // materialized once: the exploded index, both prefix sides, and the
    // verify all read this relation
    val sets = Freeze(df.select(col(idCol).as("id"),
        graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("set"))
      .filter(size(col("set")) > 0))
    val ex = sets.select(col("id"), size(col("set")).cast("long").as("sz"),
      explode(col("set")).as("s"))
    // df lives in a vocab-sized aggregate, not a window over the exploded
    // relation: the join carries no hint on purpose — AQE broadcasts it at
    // verification scale, and at 100 TB (shingle vocab >> broadcast limit)
    // it degrades to a plain shuffle join on `s`, which is the safe shape
    val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfTab, Seq("s"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df").asc, col("s").asc)))
    // epsilon guard (standard PPJoin defensive form): when threshold*sz
    // lands a float epsilon ABOVE an exact integer, a raw ceil overshoots
    // and shortens the prefix by one — a silent break of the lossless
    // guarantee. Nudging down before ceil only ever lengthens the prefix.
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)) + 1)
      .select("id", "sz", "s")
    val pa = prefix.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a"))
    val pb = prefix.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b"))
    // no join hint here: the prefix relation is a fraction of the exploded
    // index and AQE broadcasts it at verification scale (forcing
    // shuffle-hash measured ~1s slower); at 100 TB AQE degrades to a
    // shuffle join on `s`, which is the safe shape
    // same epsilon guard on the size filter: boundary pairs where
    // t*|b| == |a| exactly must survive the prune
    val cand = pa.join(pb, pa("s") === pb("s") && pa("id_a") < pb("id_b")
        && pb("sz_b") * lit(threshold) - lit(1e-9) <= pa("sz_a")
        && pa("sz_a") * lit(threshold) - lit(1e-9) <= pb("sz_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b")), Seq("id_b"))
      // fused jaccard (one merge per evaluation): the aliased intersect_size
      // form was re-inlined by predicate pushdown into the verify join
      // condition and evaluated three times per candidate — see
      // [[graft.functions.LongSetJaccard]]. Arithmetic is bit-exact against
      // the same oracle as ngramJaccardPairs.
      .withColumn("jaccard", graft.functions.LongSetOps.jaccard(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash signature column: array of `numHashes` minima over the doc's
    * distinct shingles. A sketch is a pure per-document function, so this is
    * a SCAN-side projection via the native
    * [[graft.functions.SketchFunctions.minhashSketch]] expression — no
    * explode, no shuffle, constant memory per row. (The former formulation
    * aggregated 128 separate `min(xxhash64(i, s))` columns over the exploded
    * shingle relation: a shuffle plus a 128-wide aggregation buffer per doc,
    * the slowest query of the round-1 bench.)
    *
    * Hash family is unchanged and bit-identical: h_i = xxhash64(i, base)
    * over the shingle's 64-bit base hash, same seed chaining as the SQL
    * function. Wrapping multiply tricks (Kirsch–Mitzenmacher) are off the
    * table under ANSI overflow checking.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, n: Int,
                        numHashes: Int): DataFrame =
    signaturesFromSets(df.select(col(idCol).as("id"),
      graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("set")), numHashes)

  /** Sketch + null-signature contract in ONE place: consumed by
    * [[minhashSignatures]] (text input) and [[minhashLshPairs]] (which
    * feeds its already-materialized shingle-set relation).
    */
  private def signaturesFromSets(sets: DataFrame, numHashes: Int): DataFrame =
    sets.select(col("id"),
        graft.functions.SketchFunctions.minhashSketch(col("set"), numHashes).as("sig"))
      .filter(col("sig").isNotNull) // docs with < n tokens have no signature

  /** MinHash + LSH near-dup pairs: band the signature (`bands` bands of
    * `numHashes/bands` rows), bucket-join on (band index, band hash) to get
    * candidates, then verify candidates with EXACT Jaccard over shingle
    * sets (attached as arrays — per-pair intersection, no re-join through
    * the inverted index).
    *
    * Output matches `ngramJaccardPairs` up to LSH recall. Defaults 128/64
    * (r=2 rows per band): miss probability at j ≥ 0.4 is
    * (1-0.4²)⁶⁴ ≈ 1.4e-5 — near-perfect recall at the usual near-dup
    * thresholds, at the cost of more candidate noise (all killed by the
    * exact verify). Fewer bands (e.g. 32 × r=4, s-curve midpoint ≈ 0.42)
    * trade recall at 0.4 for fewer candidates — only safe for thresholds
    * well above 0.5.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                      threshold: Double, numHashes: Int = 128, bands: Int = 64): DataFrame =
    minhashLshPairsFromSets(minhashShingleSets(df, idCol, textCol, n),
      threshold, numHashes, bands)

  /** ONE shingle pass: signatures, banding, and the exact verify all derive
    * from this materialized (id, shingle-hash set) relation — without it the
    * kernel re-runs over the full corpus three times (sig build + each side
    * of the candidate verify join). At production scale this is the shingle
    * table you'd persist alongside the corpus; [[Freeze]] is the
    * single-job equivalent.
    */
  private def minhashShingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    Freeze(df.select(col(idCol).as("id"),
        graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("set")))

  private def minhashLshPairsFromSets(sets: DataFrame, threshold: Double,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = signaturesFromSets(sets, numHashes)
    // band hash = xxhash64 over the band's sig elements directly
    // (element_at is codegen'd; the former slice().cast("string") built a
    // "[1, 2, …]" string per band per doc — pure allocation)
    val banded = sigs.select(col("id"), posexplode(
      array((0 until bands).map(bnd =>
        xxhash64((1 to rows).map(r => element_at(col("sig"), bnd * rows + r)): _*)): _*)
    ).as(Seq("band", "bh")))
    // shuffle-hash for the same reason as the inverted-index join: bucket
    // equi-keys need no sort, and a bucket's postings bound the build side
    val candidates = banded.as("x").hint("shuffle_hash").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()

    candidates
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b")), "id_b")
      // fused jaccard — one merge per candidate instead of three (see
      // [[graft.functions.LongSetJaccard]]); bit-exact same arithmetic
      .withColumn("jaccard", graft.functions.LongSetOps.jaccard(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** [[minhashLshPairs]] with measured-distribution ESCALATION: run the
    * cheaper fast config first, inspect the minimum jaccard among the pairs
    * it found, and rerun at the safe config when the observed distribution
    * approaches the threshold — where the fast config's per-pair miss
    * probability stops being negligible — or when nothing was found at all
    * (indistinguishable from having missed everything). Returns the pair
    * relation plus whether escalation fired.
    *
    * This is how a band-count tuning survives corpus drift: the tune is
    * only sound while every true pair sits well above the threshold, and
    * that property is re-checked on every run instead of assumed. The
    * insurance is PROBABILISTIC, not absolute — it can only see pairs the
    * fast pass found, so a lone drifted near-threshold pair that the fast
    * pass itself misses (p ≈ (1−j²)^bands, ~3e-3 at j = 0.41 / 32 bands)
    * escapes detection when every other pair sits high; any drift that
    * produces MORE than a couple of near-threshold pairs is caught with
    * near-certainty. On a corpus whose pairs are all far from the threshold
    * the cost is one tiny min-aggregate over the (checkpointed) output; on
    * a drifted corpus the safe rerun restores near-perfect recall
    * (e.g. 128/64 at j ≥ 0.4: miss ≈ 1.4e-5 per pair).
    *
    * The shingle-set relation is built ONCE and shared across both configs;
    * an escalation frees the abandoned fast result's checkpoint blocks
    * before the rerun.
    */
  def minhashLshPairsAdaptive(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, fastHashes: Int, fastBands: Int,
      escalateBelow: Double, safeHashes: Int = 128, safeBands: Int = 64): (DataFrame, Boolean) = {
    val sets = minhashShingleSets(df, idCol, textCol, n)
    Freeze.escalating(minhashLshPairsFromSets(sets, threshold, fastHashes, fastBands)) {
      // zero pairs: anomalous — take the safe config
      (pairs, nPairs) =>
        nPairs == 0 || pairs.agg(min(col("jaccard"))).head().getDouble(0) < escalateBelow
    }(minhashLshPairsFromSets(sets, threshold, safeHashes, safeBands))
  }

  /** 64-bit SimHash fingerprint per document: per-token xxhash64, each hash
    * votes ±1 on each of 64 bit positions, fingerprint bit j = sign of the
    * vote sum. A scan-side projection via the native
    * [[graft.functions.SketchFunctions.simhash64]] expression — no explode,
    * no shuffle, constant state per doc (the former 64-column vote aggregate
    * shuffled every token).
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.SketchFunctions.simhash64(TextOps.tokens(col(textCol))).as("simhash"))
      .filter(col("simhash").isNotNull) // NULL text yields no fingerprint row

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` (< 4):
    * pigeonhole banding on four 16-bit chunks (any pair within hamming 3
    * shares at least one intact chunk), bucket join, exact `bit_count`
    * verify on candidates.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    simhashPairsFromFps(simhash64(df, idCol, textCol), maxHamming)

  /** [[simhashPairs]] with the PORTABLE (md5-derived) per-token hash of
    * [[SimHashPortable]] instead of the xxhash64 kernel: identical banding,
    * bucket join, and hamming verify (the operator's substance — shared
    * code path below), but a base hash both Spark and DuckDB can compute,
    * so the WHOLE pipeline is oracle-gateable against a brute-force
    * all-pairs ground truth — which also proves the pigeonhole banding
    * lost nothing. Production near-dup runs keep [[simhashPairs]] (one
    * xxhash64 per token beats two md5 rounds); the hash swap changes which
    * texts collide, never the operator semantics.
    */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): DataFrame =
    simhashPairsFromFps(SimHashPortable.fingerprints(df, idCol, textCol), maxHamming)

  /** Shared banding + verify: candidates from four 16-bit chunk buckets,
    * exact hamming via `bit_count(xor)`, `maxHamming < 4` for lossless
    * pigeonhole recall.
    */
  private[ext] def simhashPairsFromFps(fps: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "4-chunk banding guarantees recall only for hamming <= 3")
    val chunks = fps.select(col("id"), col("simhash"), posexplode(
      array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*)
    ).as(Seq("chunk", "ck")))
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.simhash").as("fp_a"), col("y.simhash").as("fp_b")).distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over a near-dup pair graph → per-node canonical
    * label (the component's minimum id). Iterative min-label propagation:
    * each round joins labels across undirected edges and keeps the
    * element-wise min; converges in O(component diameter) rounds — near-dup
    * clusters are shallow (dozens of docs), so a handful of distributed
    * rounds, each a hash join + aggregate. A [[Freeze]] every round
    * truncates lineage so plans don't grow with iterations.
    *
    * Output: (id, component) for every node appearing in `edges`.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
                          driverEdgeLimit: Long = 1L << 20): DataFrame = {
    val (und, nUnd) = Freeze.counted(edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(edges.select(col("id_b").as("u"), col("id_a").as("v"))))
    // Near-dup pair graphs are tiny relative to their corpus (edges exist
    // only between near-identical docs), so the common case fits on the
    // driver by orders of magnitude: union-find over one single-direction
    // collect of the checkpointed edge list (1M edges ≈ 75 MB of boxed
    // tuples — real driver-heap cost, hence the conservative default)
    // replaces ~2 distributed actions per propagation round. Graphs above
    // the bound take the distributed min-label loop below — same labels.
    // (gated on integral ids — the distributed loop below is generic over
    // any ordered id type, the driver path collects to Long)
    val integralIds = und.schema("u").dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    val edgeCount = nUnd / 2
    if (integralIds && edgeCount <= driverEdgeLimit)
      return unionFindDriver(und, edges.sparkSession)
    var labels = Freeze(und.select(col("u").as("id")).distinct()
      .withColumn("component", col("id")))
    // Convergence check: for integral ids, labels only ever decrease
    // element-wise, so the exact (decimal, no overflow) label sum strictly
    // decreases until the fixpoint — one cheap scan of the checkpointed
    // labels. Non-integral ids (the loop is generic over any ordered type;
    // decimal cast would throw under ANSI or NULL-out otherwise) fall back
    // to the type-generic join-and-count change detector.
    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(coalesce(sum(col("component").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head.getDecimal(0)
    def changedCount(next: DataFrame, prev: DataFrame): Long =
      next.join(prev.withColumnsRenamed(Map("component" -> "old")), "id")
        .filter(col("component") =!= col("old")).limit(1).count()
    var prevSum = if (integralIds) labelSum(labels) else null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = und
        .join(labels.withColumnsRenamed(Map("id" -> "v", "component" -> "vlbl")), "v")
        .groupBy(col("u").as("id")).agg(min(col("vlbl")).as("nbr"))
      val next = Freeze(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr"), col("component"))).as("component")))
      if (integralIds) {
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      } else {
        converged = changedCount(next, labels) == 0
      }
      labels = next
      iter += 1
    }
    // silent truncation would return plausible-but-wrong labels (one real
    // cluster split in two) — fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "(component diameter exceeds maxIter); raise maxIter")
    labels
  }

  /** Driver-side union-find with path compression over a collected
    * (already size-gated) undirected edge list; labels = component min id,
    * identical to the distributed loop's fixpoint. Collects ONE direction
    * (u <= v — union is direction-agnostic; <= keeps self-loop nodes in the
    * output) from the checkpointed doubled list, halving driver heap.
    */
  private def unionFindDriver(und: DataFrame,
                              spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val es = und.filter(col("u") <= col("v"))
      .select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
    }
    val rows = parent.keys.toSeq.map(id => id -> find(id))
    val dt = und.schema("u").dataType // give back the caller's id type
    rows.toDF("id", "component")
      .select(col("id").cast(dt).as("id"), col("component").cast(dt).as("component"))
  }

  /** Near-dup clustering: pair graph (exact Jaccard) → connected
    * components → ANNOTATES every row with its `component` (the cluster's
    * min id; untouched docs are their own component). No rows are dropped —
    * use [[dropNearDups]] for actual removal.
    */
  def canonicalizeNearDups(df: DataFrame, idCol: String, textCol: String,
                           n: Int, threshold: Double): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, n, threshold)
    val comps = connectedComponents(pairs)
    df.join(comps.withColumnsRenamed(Map("id" -> idCol)), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
  }

  /** End-to-end near-dup REMOVAL: keep exactly one doc per
    * [[canonicalizeNearDups]] component (the min id), untouched docs pass
    * through. The "switch-to-this-library" surface for corpus cleaning.
    */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame =
    canonicalizeNearDups(df, idCol, textCol, n, threshold)
      .filter(col("component") === col(idCol))
      .drop("component")

  /** Near-dup removal with QUALITY-AWARE survivor selection: one doc per
    * [[canonicalizeNearDups]] component again, but the survivor is the
    * member with the HIGHEST `qualityCol` (ties → min id; NULL quality
    * loses to any scored member) — the production policy: a crawl usually
    * keeps the cleanest copy of a duplicated page, not the first-seen id.
    * Pairs with [[QualityModel.score]] / [[TextOps.qualityMetrics]] as the
    * quality source. Same single extra exchange as [[dropNearDups]]: the
    * survivor is a `min_by` hash aggregate on the component key, never a
    * window sort.
    */
  def dropNearDupsByQuality(df: DataFrame, idCol: String, textCol: String,
                            qualityCol: String, n: Int, threshold: Double): DataFrame = {
    val q = col(qualityCol).cast("double")
    // min_by skips rows whose order struct holds a NULL field — null
    // quality rides an explicit nulls-last rank instead (the
    // dedupIncremental discipline)
    val ord = struct(
      when(q.isNull, 1).otherwise(0).as("__qn"),
      coalesce(-q, lit(0.0)).as("__nq"),
      col(idCol).as("__id"))
    canonicalizeNearDups(df, idCol, textCol, n, threshold)
      .groupBy(col("component"))
      .agg(min_by(col(idCol), ord).as(idCol))
      .select(idCol)
  }

  /** Incremental exact dedup for batch ingestion: keep rows of `batch`
    * whose normalized fingerprint ([[TextOps.fingerprint]]) is NOT in the
    * `historyFps` table (one `fp` column — the persisted state of earlier
    * runs) and is the batch's FIRST occurrence (min id wins within the
    * batch). This is the production loop — each run appends its survivors'
    * fingerprints to the history table and never re-reads old text.
    *
    * Shape at 100 TB: the in-batch survivor is a `min_by` hash aggregate on
    * the 16-byte digest — map-side partials collapse each partition to one
    * candidate per fingerprint BEFORE the single exchange (a window
    * row_number would shuffle every row, then sort). The history anti-join
    * runs AFTER the aggregate, on the already-deduped (smaller) side, and
    * reuses its hash partitioning — broadcast while the DAILY increment's
    * history partition stays small, partition-aligned hash-join otherwise.
    * No O(n²), no sort, one exchange of the batch.
    */
  def dedupIncremental(batch: DataFrame, idCol: String, textCol: String,
                       historyFps: DataFrame): DataFrame = {
    // NULL-text rows have a NULL fingerprint: the anti join keeps them all
    // past the history check (NULL never matches — anti-join/NOT EXISTS
    // semantics, which the oracle mirrors), then they dedup among
    // themselves as one group (groupBy collects NULL keys into one group).
    // Exactly ONE survivor per fingerprint even for full-row duplicates
    // (min_by yields a single struct — a replayed identical row must not
    // survive twice). The min_by ORDER is (id IS NULL first, id asc) — the
    // row_number form's NULLS FIRST semantics; a bare min_by(_, id) would
    // SKIP null-ordering rows entirely and an all-null-id group would
    // surface as a corrupt all-NULL struct. Anti-join-then-dedup and
    // dedup-then-anti-join commute (a fingerprint is either fully dropped
    // or keeps its min-id row), so the aggregate runs first on purpose.
    // Temp names are graft-prefixed so a caller's own columns can't be
    // clobbered.
    val fp = "__graft_fp"
    val ord = struct(
      when(col(idCol).isNull, 0).otherwise(1).as("__nn"), col(idCol).as("__id"))
    batch.withColumn(fp, TextOps.fingerprint(col(textCol)))
      .groupBy(col(fp))
      .agg(min_by(struct(batch.columns.map(col): _*), ord).as("__graft_row"))
      .join(historyFps.select(col("fp").as(fp)), Seq(fp), "left_anti")
      .select(col("__graft_row.*"))
  }

  /** [[dedupIncremental]] with a BLOOM prefilter on the history check — the
    * shape that wins when the standing history dwarfs the daily batch: the
    * plain form shuffles/joins EVERY batch fingerprint against the history
    * table, while here a one-row bloom filter (built from history in one
    * scan, `-n·ln(fpp)/ln²2` bits, carried as a LITERAL so the probe stays
    * a scan-side codegen'd predicate — the same `might_contain` machinery
    * Catalyst's own runtime join pruning injects) splits the batch:
    * definitely-new fingerprints (bloom miss) skip the join entirely;
    * only the `dups + fpp·batch` maybe-rows pay the exact anti-join, so
    * the result is LOSSLESS — the bloom only prunes work, never rows.
    *
    * Driver-memory contract: the serialized filter must fit the driver and
    * the plan (1 M history fps at 1 % fpp ≈ 1.2 MB; 100 M ≈ 120 MB — size
    * `fpp` accordingly or fall back to [[dedupIncremental]]'s
    * partition-aligned anti-join beyond that). `expectedItems <= 0` sizes
    * the filter from a `count()` of the history (one extra cheap action on
    * the single-column fps table); pass the tracked count to skip it.
    *
    * NULL-fingerprint rows (NULL text) bypass the bloom and the anti-join
    * — NULL never matches history (NOT EXISTS semantics), identical to
    * [[dedupIncremental]].
    */
  def dedupIncrementalBloom(batch: DataFrame, idCol: String, textCol: String,
                            historyFps: DataFrame, fpp: Double = 0.01,
                            expectedItems: Long = -1L): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column => gcol, expression => gexp}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    val fp = "__graft_fp"
    val ord = struct(
      when(col(idCol).isNull, 0).otherwise(1).as("__nn"), col(idCol).as("__id"))
    val deduped = batch.withColumn(fp, TextOps.fingerprint(col(textCol)))
      .groupBy(col(fp))
      .agg(min_by(struct(batch.columns.map(col): _*), ord).as("__graft_row"))
    val n = math.max(1L, if (expectedItems > 0) expectedItems else historyFps.count())
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomBytes = historyFps
      .agg(gcol(new BloomFilterAggregate(gexp(xxhash64(col("fp"))),
        Literal(n), Literal(numBits)).toAggregateExpression()).as("__bloom"))
      .head().getAs[Array[Byte]]("__bloom")
    // empty/all-NULL history serializes to a null filter: nothing can match
    val afterHistory = if (bloomBytes == null) deduped else {
      val mightContain = gcol(BloomFilterMightContain(
        gexp(lit(bloomBytes)), gexp(xxhash64(col(fp)))))
      val definiteNew = deduped.filter(col(fp).isNotNull && !mightContain)
      val maybe = deduped.filter(col(fp).isNotNull && mightContain)
        .join(historyFps.select(col("fp").as(fp)), Seq(fp), "left_anti")
      definiteNew.unionByName(maybe)
        .unionByName(deduped.filter(col(fp).isNull))
    }
    afterHistory.select(col("__graft_row.*"))
  }

  /** Embedding near-dup: all pairs (id_a < id_b) with cosine ≥ `threshold`.
    * Brute-force O(n²) pair join — ground truth / verification scale only;
    * the ANN path for 100 TB is [[SimSearch.lshTopK]]. Similarity is
    * rounded to 6 decimals (cross-engine float reproducibility).
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, normF}
    // norms hoisted out of the O(n²) pair loop: one dot per pair, not three
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      normF(col(vecCol)).as("nrm"))
    val a = v.withColumnsRenamed(Map("id" -> "id_a", "vec" -> "vec_a", "nrm" -> "nrm_a"))
    val b = v.withColumnsRenamed(Map("id" -> "id_b", "vec" -> "vec_b", "nrm" -> "nrm_b"))
    val cosine = SimSearch.safeCosine(
      dotF(col("vec_a"), col("vec_b")), col("nrm_a"), col("nrm_b"))
    // the threshold is part of the JOIN condition: the nested-loop join then
    // only constructs output rows for the (rare) matching pairs instead of
    // materializing all O(n²) rows and filtering after — the recompute of
    // `cosine` in the projection touches matches only
    a.join(b, col("id_a") < col("id_b") && cosine >= threshold)
      .withColumn("cosine", cosine)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * embedding-space near-dup REMOVAL with cluster-bucketed candidate
    * generation — the semantic sibling of [[dropNearDups]]'s lexical path.
    *
    * Pipeline: (1) `nClusters` deterministic centroids (the lowest-id
    * corpus vectors — a seeded assignment, zero Lloyd iterations, so the
    * partition is exactly reproducible by the oracle; a production run
    * swaps in trained k-means centroids without touching the rest of the
    * plan); (2) every vector assigned to its max-cosine centroid (per-row
    * argmax against broadcast literals — no shuffle; cosines rounded to 6
    * decimals before the argmax so the cell boundary is engine-portable,
    * ties to the lower centroid index); (3) same-cell pairs with
    * cosine ≥ `threshold` via a hash equi-join on the cell id — the
    * all-pairs loop of [[embeddingCosinePairs]] shrinks to Σ(cell size)²;
    * (4) the higher id of every qualifying pair drops, survivors returned.
    *
    * 100 TB shape: real deployments run nClusters in the 10⁴–10⁵ range
    * (the paper uses 50k on LAION), so the cell join distributes over that
    * many keys and per-cell pair work is (n/nClusters)² — the skew escape
    * for a runaway hot cell is the same salting used by [[ngramJaccardPairs]]'s
    * hub cap. Centroid collect is O(nClusters·dim), never O(corpus).
    */
  def semDedupDrop(df: DataFrame, idCol: String, vecCol: String,
                   nClusters: Int, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, normF}
    val centroids: Array[Array[Float]] = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy("id").limit(nClusters)
      .collect().map(_.getSeq[Float](1).toArray)
    if (centroids.isEmpty) return df.select(col(idCol).as("id"))
    def litVec(a: Array[Float]): Column =
      array(a.toSeq.map(x => lit(x)): _*).cast("array<float>")
    // argmax as array_max over (cosine, -index) structs: struct ordering is
    // field-by-field, so ties on the rounded cosine resolve to the LARGER
    // -index = smaller centroid index — the oracle's ORDER BY cos DESC, idx
    val scored = centroids.toSeq.zipWithIndex.map { case (cv, i) =>
      struct(
        round(SimSearch.safeCosine(
          dotF(col("vec"), litVec(cv)), col("nrm"), normF(litVec(cv))), 6).as("c"),
        lit(-i).as("ni"))
    }
    val assigned = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"), normF(col(vecCol)).as("nrm"))
      .withColumn("cell", -array_max(array(scored: _*)).getField("ni"))
    val a = assigned.select(col("id").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"), col("cell"))
    val b = assigned.select(col("id").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"), col("cell"))
    // rounded like the assignment: the drop/keep boundary must be the same
    // decision both engines make on the same pair
    val cos = round(SimSearch.safeCosine(
      dotF(col("vec_a"), col("vec_b")), col("nrm_a"), col("nrm_b")), 6)
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b") && cos >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.select("id").join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
  }

  /** Blocked fuzzy-match join: pairs of documents whose normalized prefixes
    * are within `maxDist` edit distance, candidate-limited to shared BLOCK
    * keys — the record-linkage pattern that keeps an edit-distance join
    * from going O(n²): levenshtein only runs inside blocks, and the block
    * joins are plain hash equi-joins.
    *
    * Single-key first-token blocking misses exactly the pairs whose typo
    * sits IN the first token — the most common edit in real data.
    * `dualBlock` (default) adds a deletion-neighborhood (FastSS-style)
    * secondary block: each doc also keys on its first token and every
    * single-character deletion of it (positions 1..`prefixLen` — the
    * distance is computed on `prefixLen`-truncated text, so later edits
    * cannot change any pair's distance), and two docs
    * with DIFFERENT first tokens become candidates iff they share a
    * variant — which happens precisely when the tokens are within ~1 edit.
    * Unlike a second-token block (measured: it doubles the candidate set),
    * this admits only the genuinely near first-token pairs, so its cost is
    * the variant explode plus a near-empty join. Pairs whose first tokens
    * differ by ≥2 edits stay out of scope (the explicit recall/shuffle
    * knob, like the Jaccard hub cap).
    *
    * The banded DP (thresholded levenshtein — O(len·k), −1 above the
    * bound) runs exactly once per candidate pair, in a filter AFTER the
    * join (the exact and near candidate sets are disjoint by construction:
    * equal vs unequal first tokens). Prefix truncation bounds the per-pair
    * cost.
    */
  /** Shared blocking projection for the fuzzy-join family: (id, prefix,
    * first token) per document. */
  private def fuzzyBlockSide(df: DataFrame, idCol: String, textCol: String,
                             prefixLen: Int): DataFrame = {
    val t = trim(col(textCol))
    df.select(col(idCol).as("id"),
      substring(t, 1, prefixLen).as("pfx"),
      split_part(t, lit(" "), lit(1)).as("b1"))
  }

  def fuzzyPairsBlocked(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, prefixLen: Int = 40,
                        dualBlock: Boolean = true): DataFrame = {
    require(maxDist >= 0 && prefixLen > 0, "need maxDist >= 0, prefixLen > 0")
    val d = fuzzyBlockSide(df, idCol, textCol, prefixLen)
    def renamed(side: String) = d.withColumnsRenamed(Map(
      "id" -> s"id_$side", "pfx" -> s"pfx_$side", "b1" -> s"b1_$side"))
    // the thresholded distance sits IN the join condition, explicitly AFTER
    // the cheap id guard — conjunct order inside a join condition is
    // preserved, while a post-join filter gets pushed back in REORDERED
    // (measured: the DP ran before the id check, doubling its evals). The
    // recompute in the output projection touches MATCHES only (rare by
    // construction), which is the right side of that trade.
    // Hashed Myers bit-parallel lower bound ahead of the ~1000-cell banded
    // DP: bound > k ⟹ dist > k, so the guard is lossless — it spares the
    // DP on the (dominant) non-matching pairs at ~one word-op per char
    // (measured: prunes 417k same-token candidates to ~the true match set
    // at sf0.1; the char-bag bound only cut 42% at threshold 12/40 chars).
    // Conjunct order inside a join condition is preserved, so the exact DP
    // runs strictly after the guard.
    val bagOk = graft.functions.MyersBound.editBound(
      col("pfx_a"), col("pfx_b")) <= maxDist
    val dist = levenshtein(col("pfx_a"), col("pfx_b"), maxDist)
    def emit(pairs: DataFrame) = pairs
      .withColumn("dist", dist)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
    val exact = emit(renamed("a").join(renamed("b"),
      col("b1_a") === col("b1_b") && col("id_a") < col("id_b") && bagOk && dist >= 0))
    if (!dualBlock) exact
    else {
      val nearToks = nearTokenPairs(d, prefixLen)
      // docs of token t_a × docs of token t_b; each unordered doc pair
      // surfaces in exactly one token direction thanks to id_a < id_b
      val near = emit(renamed("a")
        .join(nearToks, col("b1_a") === col("t_a"))
        .join(renamed("b"),
          col("b1_b") === col("t_b") && col("id_a") < col("id_b") && bagOk && dist >= 0))
      // disjoint by construction (equal vs unequal first tokens)
      exact.unionByName(near)
    }
  }

  /** Deletion-neighborhood blocking at VOCABULARY granularity: the
    * variant self-join runs over distinct first tokens (bounded by the
    * vocabulary, not the corpus — at doc granularity every same-token
    * doc pair shares all its variant keys and the join degenerates into
    * the full block cross product). {token} ∪ single-char deletions: two
    * tokens within 1 edit share a variant (substitution: same-position
    * deletions coincide; insert/delete: the shorter token IS a variant
    * of the longer). Empty variants are dropped — "" must not become a
    * mega-block key. Deletion positions are capped at PREFIXLEN — the
    * principled bound, since the distance itself is computed on
    * `prefixLen`-truncated text, so an edit past that position cannot
    * change any pair's distance (the former fixed 24 silently dropped
    * typos at positions 25..prefixLen of a long first token —
    * DedupSpec pins the recovered case). Variant count per VOCAB token
    * is ≤ prefixLen+1; the explode stays vocabulary-granularity.
    * Emits SYMMETRIC (t_a, t_b) pairs (both orders), so doc joins can
    * enforce id_a < id_b without a swap pass. */
  private def nearTokenPairs(d: DataFrame, prefixLen: Int): DataFrame = {
    val variants = expr(
      s"""filter(array_distinct(concat(
         |  CASE WHEN length(b1) > 0
         |       THEN transform(sequence(1, least(length(b1), $prefixLen)),
         |                      g -> concat(substr(b1, 1, g-1), substr(b1, g+1, 1000000)))
         |       ELSE CAST(array() AS array<string>) END,
         |  array(b1))), x -> x <> '')""".stripMargin)
    val tv = d.select("b1").distinct().withColumn("vk", explode(variants))
    tv.withColumnsRenamed(Map("b1" -> "t_a", "vk" -> "vk_a"))
      .join(tv.withColumnsRenamed(Map("b1" -> "t_b", "vk" -> "vk_b")),
        col("vk_a") === col("vk_b") && col("t_a") =!= col("t_b"))
      .select("t_a", "t_b").distinct()
  }

  /** The UN-thresholded spelling of [[fuzzyPairsBlocked]] — candidate
    * pairs from the same dual blocking, then the naive per-pair predicate
    * `levenshtein(pfx_a, pfx_b) <= maxDist` a user would write, with no
    * Myers guard and no hand-banded DP. On its own this runs the full
    * O(len²) distance on every candidate; with
    * [[graft.plans.ThresholdedLevenshteinRule]] registered the optimizer
    * rewrites the predicate into Catalyst's banded O(len·maxDist)
    * early-exit form — this method exists so that path can be exercised
    * (and oracle-gated) end-to-end. Results are identical to
    * [[fuzzyPairsBlocked]] by construction: same candidates, same
    * distance, same threshold.
    */
  def fuzzyPairsBlockedNaive(df: DataFrame, idCol: String, textCol: String,
                             maxDist: Int, prefixLen: Int = 40): DataFrame = {
    require(maxDist >= 0 && prefixLen > 0, "need maxDist >= 0, prefixLen > 0")
    val d = fuzzyBlockSide(df, idCol, textCol, prefixLen)
    def renamed(side: String) = d.withColumnsRenamed(Map(
      "id" -> s"id_$side", "pfx" -> s"pfx_$side", "b1" -> s"b1_$side"))
    val cols = Seq(col("id_a"), col("id_b"), col("pfx_a"), col("pfx_b"))
    val exact = renamed("a").join(renamed("b"),
        col("b1_a") === col("b1_b") && col("id_a") < col("id_b"))
      .select(cols: _*)
    val near = renamed("a")
      .join(nearTokenPairs(d, prefixLen), col("b1_a") === col("t_a"))
      .join(renamed("b"), col("b1_b") === col("t_b") && col("id_a") < col("id_b"))
      .select(cols: _*)
    exact.unionByName(near)
      // the naive predicate — the optimizer rule's rewrite target; the
      // projection's 2-arg distance runs on matches only and stays naive
      .filter(levenshtein(col("pfx_a"), col("pfx_b")) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pfx_a"), col("pfx_b")).cast("long").as("dist"))
  }

  /** Cross-corpus EXACT-SUBSTRING duplicate spans (the ExactSubstr pattern
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): a token position opens a duplicated k-gram iff that k-gram
    * occurs >= 2 times ANYWHERE in the corpus (a second doc or a repeat in
    * the same doc — both are duplicated training text), and maximal runs of
    * consecutive duplicated positions coalesce into one span, closed at the
    * last run position + k. Output: (id, span_start, span_end, n_grams)
    * with token-index bounds, span_end exclusive.
    *
    * The reference implementation builds a corpus-wide suffix array — a
    * global sorted structure no executor can hold. The Spark shape instead
    * rides TWO exchanges: the positional k-gram stream is shuffled once on
    * the gram (`repartition`), the occurrence counts are a partial-combined
    * aggregate OF that exchange (count(*) >= 2, no count-distinct state),
    * and the gram-granularity filter hash-joins back onto the stream
    * without moving it ([[graft.ext.Pack.bigramLmScores]] discipline — a
    * sort-merge would sort the full stream). The island rollup is the
    * second exchange, on the doc id, and every stage partial-aggregates
    * map-side. No suffix array, no all-pairs, no driver-side state — at
    * 100 TB the gram stream is ~tokens-per-corpus rows of (hashable,
    * bounded) k-gram keys, exactly the shuffle a 1000-executor cluster
    * absorbs; skewed grams (boilerplate headers) partial-combine before
    * the wire.
    */
  def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame = {
    require(k >= 2, "span gram width must be >= 2")
    val stream = df
      .select(col(idCol).as("id"), graft.ext.TextOps.tokens(col(textCol)).as("ts"))
      .select(col("id"), posexplode(
        graft.functions.ShingleStrings.shingleStrings(col("ts"), k))
        .as(Seq("pos", "gram")))
      .repartition(col("gram"))
    val dup = stream.groupBy("gram").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("gram")
    val dupPos = stream.join(dup.hint("shuffle_hash"), Seq("gram"))
      .select(col("id"), col("pos").cast("long").as("pos"))
    // gaps-and-islands: consecutive duplicated positions share pos - rn
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    dupPos.withColumn("__isl", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k.toLong)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        col("n_grams"))
  }
}
