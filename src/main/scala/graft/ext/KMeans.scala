package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Freeze}
import org.apache.spark.sql.functions._

/** Lloyd's k-means over embeddings, INTEGER-EXACT: vectors are quantized
  * onto a fixed grid (`round(x·scale)` as BIGINT) and every subsequent
  * step — squared-L2 distances, argmin assignment, centroid updates — is
  * integer arithmetic, so the clustering is bit-identical across engines,
  * partitionings, and reruns. Floating k-means cannot be oracle-gated:
  * re-associated float sums drift, and a near-boundary point flipping its
  * cell cascades into a different clustering; on the quantized grid there
  * is nothing to drift.
  *
  * Per-step determinism contracts:
  *   - init: the k vectors with the smallest `(md5(id), id)` — the same
  *     portable seeded sample as [[Sampling.stratifiedByHash]];
  *   - assignment: lexicographic min of (distance, cell) — equal-distance
  *     ties take the LOWER cell;
  *   - update: per-dimension `(s - s % n) / n` — `s % n` carries the sign
  *     of the dividend in both engines, so the division is exact and the
  *     quotient truncates toward zero identically; a cell with no members
  *     keeps its previous centroid.
  *
  * Shape at 100 TB: per iteration, ONE scan of the quantized corpus
  * computes assignments against a k-row broadcast centroid table (k·dim
  * literals riding the plan), and one aggregate keyed by (cell, dim)
  * produces the k·dim update rows — the only driver state is the centroid
  * matrix itself (k·dim longs), the PageRank-style bounded-state loop.
  * The corpus never re-shuffles: assignment is scan-side, the update
  * aggregate is map-side-combined on k·dim keys.
  */
object KMeans {

  /** Quantized copy of the vector column: `round(double(x)·scale)` per
    * element, BIGINT.
    */
  private def quantize(vec: Column, scale: Int): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("long"))

  /** (id, cluster) after `iterations` Lloyd rounds on the quantized grid.
    * `scale` sets the grid (1000 ≈ 3 decimal digits of the input space).
    *
    * `maxDriverCells` size-gates an in-memory training path (the
    * [[Bpe]]/union-find discipline): when vectors·dim fits the budget the
    * quantized relation is collected ONCE and the Lloyd iterations run as
    * driver-side integer loops — identical arithmetic (exact Σ(x−c)²
    * longs, (dist, cell)-lex argmin, sign-carrying `%` and
    * toward-zero division are the same operations in Scala), so the
    * clustering is bit-identical to the distributed loop (spec-pinned).
    * Above the budget every iteration is the distributed
    * scan + k·dim-aggregate described above. The FINAL assignment is
    * always the distributed scan — only training state is size-gated.
    */
  def lloydQuantized(embeddings: DataFrame, idCol: String, vecCol: String,
                     k: Int, iterations: Int, scale: Int = 1000,
                     maxDriverCells: Long = 8000000L): DataFrame = {
    require(k >= 1 && iterations >= 1)
    // materialized once: every iteration's assignment scan and update
    // aggregate read this relation. Right-size its partitioning the
    // PageRank way (narrow coalesce over the checkpoint blocks): the
    // quantized state is a per-row kernel over ~centroid-count cells, and
    // at scan-scale parallelism an iterative chain of tiny tasks is pure
    // launch overhead; ~50 k vectors/task amortizes it, and a 100 TB
    // corpus exceeds the upstream partition count and keeps full
    // parallelism.
    val (q0, nVec) = Freeze.counted(
      embeddings
        .select(col(idCol).as("id"), quantize(col(vecCol), scale).as("qv")))
    val qParts = math.max(1, math.min(q0.rdd.getNumPartitions,
      math.ceil(nVec / 50000.0).toInt))
    val q = q0.coalesce(qParts)

    // init: k smallest (md5(id), id) vectors — portable seeded sample
    var centroids: Array[Array[Long]] = q
      .orderBy(md5(col("id").cast("string").cast("binary")), col("id"))
      .limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    if (centroids.isEmpty) // empty corpus: nothing to assign
      return q.select(col("id"), lit(0L).as("cluster")).limit(0)

    val dim = centroids.head.length
    def assigned: DataFrame = {
      // dist to each centroid: exact integer Σ(x-c)²; argmin via the
      // lexicographic min of (dist, cell) structs — ties take lower cell
      // each centroid rides the plan as ONE array Literal (`lit(c)`), not
      // a CreateArray of dim scalar literals: complex-typed literals are
      // codegen reference objects, so the generated source is identical
      // across iterations, runs, and datasets (scalar literals inline
      // their VALUES — k·dim of them made every iteration re-analyze a
      // 500-node tree and recompile ~10 janino sources per run because the
      // warm pass's centroid values differ from the timed run's)
      val cells = centroids.zipWithIndex.map { case (c, i) =>
        struct(
          aggregate(zip_with(col("qv"), lit(c), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, d) => acc + d).as("dist"),
          lit(i).as("cell"))
      }
      // a vector whose length differs from the centroid dim would get
      // NULL-padded diffs from zip_with and an arbitrary NULL-first
      // assignment — fail loud instead (the CellAssign discipline)
      q.select(col("id"), col("qv"),
        when(size(col("qv")) === dim, array_min(array(cells: _*)).getField("cell"))
          .otherwise(raise_error(concat(lit(s"kmeans: vector dim != $dim for id "),
            col("id").cast("string")))).as("cluster"))
    }

    // iteration i assigns against c_{i-1} then updates to c_i; the RESULT
    // is iteration `iterations`' assignment — made against
    // c_{iterations-1}, i.e. after iterations-1 updates (the final
    // update's centroids are never consumed, so it is not computed)
    if (iterations > 1 && nVec * dim <= maxDriverCells) {
      // iterations == 1 skips this arm entirely: the loop body below never
      // runs, so collecting the corpus would be a wasted job + allocation
      // (the final assignment is distributed either way)
      // size-gated in-memory training: one collect of the quantized
      // vectors replaces iterations·(scan + aggregate + collect) jobs —
      // at gate scale the distributed loop is pure job-launch machinery
      // (the BPE lesson). Ids are not needed for training, only vectors.
      val vs = q.select(col("qv")).collect().map(_.getSeq[Long](0).toArray)
      vs.find(_.length != dim).foreach(v => throw new IllegalArgumentException(
        s"kmeans: vector dim ${v.length} != $dim"))
      val kEff = centroids.length // may be < k when the corpus has < k rows
      for (_ <- 1 until iterations) {
        val sums = Array.ofDim[Long](kEff, dim)
        val counts = new Array[Long](kEff)
        vs.foreach { v =>
          // argmin of (dist, cell) lex — strict < keeps the LOWER cell on
          // equal distance, matching array_min over (dist, cell) structs
          var best = 0; var bestD = Long.MaxValue
          var c = 0
          while (c < kEff) {
            var d = 0L; var j = 0
            val cen = centroids(c)
            while (j < dim) { val t = v(j) - cen(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dim) { sums(best)(j) += v(j); j += 1 }
        }
        centroids = centroids.zipWithIndex.map { case (old, cell) =>
          val n = counts(cell)
          if (n == 0) old // empty cell keeps its previous centroid
          else old.indices.map { j =>
            val s = sums(cell)(j)
            (s - s % n) / n // exact: truncation toward zero, both engines
          }.toArray
        }
      }
    } else for (_ <- 1 until iterations) {
      // k·dim update rows to the driver — bounded state, never the corpus.
      // The exchange carries map-side-combined (cell, dim) partials; the
      // final agg is k·dim rows, so one reduce task (narrow coalesce over
      // the shuffle output) beats shuffle-partition-many tiny launches.
      val means = assigned
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .coalesce(1)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> {
          val s = r.getLong(2); val n = r.getLong(3)
          (s - s % n) / n // exact: truncation toward zero, both engines
        }).toMap
      centroids = centroids.zipWithIndex.map { case (old, cell) =>
        old.indices.map(j => means.getOrElse((cell, j), old(j))).toArray
      }
    }
    assigned.select(col("id"), col("cluster").cast("long").as("cluster"))
  }

  /** DuckDB render of the SAME computation over an `embeddings(vec_id,
    * embedding)` table — same grid, same init order, same tie-breaks, same
    * exact division — iterations unrolled as chained CTEs (all
    * MATERIALIZED: each is read by several downstream CTEs and DuckDB's
    * default inlining re-executes the chain per reference).
    */
  def lloydOracleSql(k: Int, iterations: Int, scale: Int = 1000): String = {
    val iters = (1 to iterations).map { i =>
      val prev = s"c${i - 1}"
      s"""d$i AS MATERIALIZED (
         |  SELECT q.vec_id, c.cell, sum((q.xq - c.c) * (q.xq - c.c)) AS dist
         |  FROM q JOIN $prev c USING (pos) GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT vec_id, min(dist) AS md FROM d$i GROUP BY 1),
         |a$i AS MATERIALIZED (
         |  SELECT d.vec_id, min(d.cell) AS cell
         |  FROM d$i d JOIN m$i m ON d.vec_id = m.vec_id AND d.dist = m.md
         |  GROUP BY 1),
         |u$i AS MATERIALIZED (
         |  SELECT a.cell, q.pos, CAST(sum(q.xq) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM a$i a JOIN q ON a.vec_id = q.vec_id GROUP BY 1, 2),
         |c$i AS MATERIALIZED (
         |  SELECT p.cell, p.pos,
         |         coalesce(CAST((u.s - u.s % u.n) // u.n AS BIGINT), p.c) AS c
         |  FROM $prev p LEFT JOIN u$i u ON p.cell = u.cell AND p.pos = u.pos)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS pos,
       |         CAST(round(CAST(embedding[i] AS DOUBLE) * $scale) AS BIGINT) AS xq
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
       |init AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
       |  FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT init.cell, q.pos, q.xq AS c FROM init JOIN q USING (vec_id)
       |  WHERE init.cell < $k),
       |$iters
       |SELECT vec_id AS id, CAST(cell AS BIGINT) AS cluster FROM a$iterations
       |""".stripMargin
  }
}
