package graft.ext

import org.apache.spark.sql.{DataFrame, Freeze}
import org.apache.spark.sql.functions._

/** Distributed PageRank — iterative sparse matrix–vector multiply, the
  * canonical "iterate a join+aggregate to fixpoint" operator family
  * (alongside [[Dedup.connectedComponents]]' min-label propagation).
  *
  * Per iteration: contributions = ranks ⋈ edges / out-degree, summed per
  * destination (one hash exchange on dst); dangling mass (rank parked on
  * zero-out-degree nodes) is collected by ONE in-plan aggregate and
  * redistributed uniformly — no driver-side action per iteration. Lineage
  * is truncated with a [[Freeze]] every other round so plan depth stays
  * O(1) regardless of iteration count — at 100 TB the edge relation is
  * hash-partitioned by src once and every iteration reuses that layout;
  * rank state is O(nodes), never O(edges).
  *
  * Deterministic contract for the oracle gate: with a fixed iteration
  * count the computation is a fixed float formula; the DuckDB render
  * ([[pageRankOracleSql]]) unrolls the SAME iterations as chained CTEs
  * (recursive-CTE aggregate restrictions sidestepped entirely). The gate
  * graph is symmetrized, so its dangling mass is exactly 0.0 and the
  * operator's `+ d·dm/n` term adds literal zero — bit-parity preserved
  * while the operator keeps full dangling handling for real graphs.
  */
object PageRank {

  /** Edges (src, dst) → (node, rank) after `iterations` rounds.
    * `nodes` = every endpoint; initial rank 1/n.
    *
    * `symmetricHalf = true`: the input carries each undirected edge ONCE
    * and the operator forms the symmetric closure `input ∪ reverse(input)`
    * itself. Contract: the input must be disjoint from its own reverse
    * (no self-loops, no pair present in both directions) — the closure is
    * then an exact 2× union and degrees/contributions are identical to
    * passing the pre-built union. The point is the eager edge
    * materialization: the checkpoint freezes HALF the rows and the other
    * half is derived per scan by a narrow column-swap projection over the
    * same frozen blocks — at any scale that halves the block-store write
    * and the resident edge copy. Its A/B is unrecorded: no measurement of
    * `symmetricHalf` against the pre-built union exists yet (ROADMAP open
    * item, graph_pagerank).
    */
  def pageRank(edges: DataFrame, iterations: Int,
               damping: Double = 0.85, noDangling: Boolean = false,
               symmetricHalf: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // checkpoint + count FUSED into one pass per eager relation (the eager
    // checkpoint already runs a counting action) — saves one block-scan job
    // each for the edge, degree, and (general-path) node relations
    val (e0, halfCount) = Freeze.counted(edges.select(col("src"), col("dst")))
    val eCount = if (symmetricHalf) 2L * halfCount else halfCount
    // The edge relation is scanned once per iteration (as the probe side of
    // the broadcast join), so its partition count is a per-iteration task
    // count multiplier. Right-size it to ~250 k edges/task (narrow coalesce
    // over the checkpoint blocks — no rewrite): a small graph stops paying
    // 32 task launches per scan per iteration; a 100 TB edge relation
    // exceeds the upstream partition count and keeps full parallelism.
    // Under symmetricHalf each frozen partition is scanned by TWO tasks
    // (direct + swapped), so the target stays ~250 k rows per TASK.
    val eParts = math.max(1, math.min(e0.rdd.getNumPartitions,
      math.ceil(halfCount / 250000.0).toInt))
    val eHalf = e0.coalesce(eParts)
    val e =
      if (symmetricHalf)
        eHalf.unionByName(
          eHalf.select(col("dst").as("src"), col("src").as("dst")))
      else eHalf
    val (deg, degCount) = Freeze.counted( // computed once, not per broadcast job per iteration
      e.groupBy("src").agg(count(lit(1)).cast("double").as("d")))
    // under noDangling every node has an out-edge, so deg's key set IS the
    // node set — the endpoint-union distinct (a second shuffle over the
    // edge relation, plus its checkpoint and count) exists only for the
    // general path; the node count is deg's row count, already in hand
    val (nodes, n) =
      if (noDangling) (deg.select(col("src").as("node")), degCount.toDouble)
      else {
        val (nd, nc) = Freeze.counted(
          e.select(col("src").as("node"))
            .unionByName(e.select(col("dst").as("node")))
            .distinct())
        (nd, nc.toDouble)
      }
    // Rank state is O(nodes) — orders of magnitude under the edge relation —
    // but every state-side stage (the weights broadcast job, the final agg,
    // checkpoint block writes) would otherwise inherit the session's
    // scan-scale shuffle parallelism. At ~2 k rows/task the per-task
    // scheduling overhead is amortized; below that, an iterative chain of
    // tiny 32-way stages is pure task-launch cost (measured at sf0.1:
    // 5.6 s → 2.1 s for 5 iterations on 16 k nodes). coalesce (narrow, no
    // exchange) AFTER each agg keeps map-side partial aggregation intact;
    // huge graphs hit the session cap and keep full parallelism.
    val statePartitions = math.max(1, math.min(
      edges.sparkSession.sessionState.conf.numShufflePartitions,
      math.ceil(n / 2000.0).toInt))
    var ranks = nodes.coalesce(statePartitions).withColumn("rank", lit(1.0 / n))
    for (iter <- 1 to iterations) {
      // the rank vector is O(nodes) and BROADCAST EXPLICITLY: checkpointed
      // relations carry no stats, so the planner otherwise assumes
      // worst-case size and sort-merge-shuffles the full EDGE relation
      // every iteration (measured 13.5 s for 5 iterations on 1.2 M edges;
      // broadcast: 1.7 s). deg is O(nodes) too and broadcast for the same
      // reason — statless SMJ costs two exchanges + sorts per iteration
      // (measured ~0.1 s/iteration on 16 k nodes). Contract: ranks ⋈ deg
      // must fit an executor — true up to hundreds of millions of nodes;
      // beyond that, pre-partition edges and ranks on the same key instead.
      val weights = ranks.join(broadcast(deg), ranks("node") === deg("src"))
        .select(col("src"), (col("rank") / col("d")).as("w"))
      val contribs = e.join(broadcast(weights), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w")).as("contrib"))
        .coalesce(statePartitions)
      // `noDangling = true`: caller guarantees every node has BOTH an
      // out-edge and an in-edge (e.g. symmetrized graphs) — then contribs
      // already covers every node (no left-join backfill needed) and the
      // dangling mass is exactly 0.0, whose d·(x+0.0) term the general
      // path computes as a float no-op — the bit-parity the two paths
      // share (PageRankSpec asserts exact ==). Saves a join exchange pair
      // AND an anti-join broadcast job per iteration.
      ranks = (if (noDangling) {
        contribs.select(col("node"),
          (lit((1 - damping) / n) + lit(damping) * col("contrib")).as("rank"))
      } else {
        // dangling mass: rank parked on nodes with no out-edges, gathered
        // by one scalar aggregate and broadcast back (an empty aggregate
        // sums to NULL -> coalesce 0)
        val dangling = ranks.join(
            broadcast(deg.select(col("src").as("node"))), Seq("node"), "left_anti")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
        // contribs is O(nodes): broadcast it so the backfill join streams the
        // (coalesced) node list with zero exchanges instead of a statless
        // sort-merge shuffle pair per iteration
        nodes.coalesce(statePartitions)
          .join(broadcast(contribs), Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"),
            (lit((1 - damping) / n) +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) + col("dm") / n))
              .as("rank"))
      })
      // lazy: fixed-iteration PageRank never inspects intermediate ranks,
      // so no per-iteration driver action — the final consumer materializes
      // the chain once, checkpoints truncating as it goes. EVERY OTHER
      // iteration (plus the last): plan depth stays bounded at two
      // join+agg levels, and skipping half the checkpoint materialization
      // barriers measured ~0.4 s over 5 iterations at sf0.1 — the
      // re-computation of one uncheckpointed level is cheaper than its
      // block write + job boundary.
      if (iter % 2 == 0 || iter == iterations)
        ranks = Freeze.deferred(ranks)
    }
    ranks
  }

  /** DuckDB render of the SAME computation over an edge CTE named `e`
    * (columns src, dst), for graphs with NO dangling nodes (the gate
    * symmetrizes; the operator's dm term is then exactly 0.0 = a no-op
    * float add). Iterations unroll as chained CTEs — same joins, same
    * sums, same formula shape.
    */
  def pageRankOracleSql(edgesCte: String, iterations: Int,
                        damping: Double = 0.85, roundTo: Int = 6): String = {
    val iters = (1 to iterations).map { i =>
      s"""pr$i AS (SELECT nd.node,
         |  (1.0 - $damping)/(SELECT n FROM cnt) + $damping * coalesce(c.contrib, 0.0) AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank / deg.d) AS contrib
         |    FROM pr${i - 1} p JOIN e ON p.node = e.src JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) c ON nd.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesCte),
       |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
       |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY 1),
       |pr0 AS (SELECT node, 1.0/(SELECT n FROM cnt) AS rank FROM nodes),
       |$iters
       |SELECT node, round(rank, $roundTo) AS rank FROM pr$iterations
       |""".stripMargin
  }
}
