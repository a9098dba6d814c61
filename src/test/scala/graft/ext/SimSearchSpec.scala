package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}

class SimSearchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("cosine column matches hand computation (double precision)") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f))).toDF("a", "b")
    val got = df.select(SimSearch.cosine($"a", $"b")).as[Double].head()
    val expect = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(math.abs(got - expect) < 1e-12)
  }

  test("zero-norm vectors yield NULL cosine instead of ANSI divide-by-zero") {
    val df = Seq(
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    // would throw SparkArithmeticException without the guard
    val out = SimSearch.bruteForceTopK(df, df, "vec_id", "embedding", 2)
      .select("probe_id", "nbr_id", "cosine").collect()
    assert(out.nonEmpty)
    val zeroPairs = out.filter(r => r.getLong(0) == 1L || r.getLong(1) == 1L)
    assert(zeroPairs.forall(_.isNullAt(2)), "degenerate pairs score NULL")
    val pairs = Dedup.embeddingCosinePairs(df, "vec_id", "embedding", 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists { case (a, b) => a == 1L || b == 1L },
      "NULL cosine excluded by threshold filter")
  }

  test("bruteForceTopK returns k ranked neighbors per probe, self excluded") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = SimSearch.bruteForceTopK(emb, emb.filter($"vec_id" < 3), "vec_id", "embedding", 5)
    val rows = out.as[(Long, Long, Double, Int)].collect()
    assert(rows.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L, 2L))
    rows.groupBy(_._1).foreach { case (probe, nbrs) =>
      assert(nbrs.length === 5)
      assert(!nbrs.exists(_._2 == probe), "probe must not match itself")
      val sims = nbrs.sortBy(_._4).map(_._3)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "ranked by sim desc")
    }
  }

  test("lshTopK hits are a subset of brute-force candidates' quality: " +
       "every LSH neighbor's sim <= true rank-1 sim, and recall@5 is measured") {
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter($"vec_id" < 10)
    val exact = SimSearch.bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    val approx = SimSearch.lshTopK(emb, probes, "vec_id", "embedding",
      k = 5, numPlanes = 3, dim = 64)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = if (exact.isEmpty) 1.0
      else approx.intersect(exact).size.toDouble / exact.size
    // testdata embeddings are near-uniform (true top-5 cosines 0.26-0.49),
    // the hardest case for sign-LSH: a cos≈0.4 neighbor disagrees on ~37%
    // of hyperplanes, so recall decays fast with plane count. Measured
    // parameter-recall curve (round-12 sweep, COVERAGE "Rounds 10–13 change
    // notes"; recall@5 at sf0.001 / sf0.01 / sf0.1):
    //   planes=2 → 0.82 / 0.88 / 0.84
    //   planes=3 → 0.54 / 0.74 / 0.68   <- this config
    //   planes=4 → 0.36 / 0.54 / 0.46
    //   planes=6 → 0.20 / 0.30 / 0.28
    //   planes=8 → 0.08 / 0.06 / 0.20
    // Floor = sf0.001's 0.54 minus regeneration margin: the data's geometry
    // genuinely caps recall — the curve IS the documentation.
    assert(recall >= 0.4, s"LSH recall@5 collapsed: $recall")
    assert(approx.nonEmpty)
  }

  test("ivfTopK: data-adaptive cells beat fixed hyperplanes on recall here") {
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter($"vec_id" < 10)
    val exact = SimSearch.bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = SimSearch.ivfTopK(emb, probes, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 8)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    // Measured (nlist, nprobe) → recall@5 curve (round-12 sweep, COVERAGE
    // "Rounds 10–13 change notes"; sf0.001 / sf0.01 / sf0.1) on the
    // near-uniform testdata:
    //   (16, 4)  → 0.54 / 0.50 / 0.54
    //   (16, 8)  → 0.72 / 0.72 / 0.80   <- this config
    //   (32, 16) → 0.80 / 0.74 / 0.84
    //   (16, 16) → 1.00 everywhere (probe-all = exact)
    // Recall tracks nprobe/nlist, not absolute cell count: with no cluster
    // structure, a true neighbor's cell is nearly random, so probing half
    // the cells finds ~3/4 of them. Floor = min measured 0.72 minus
    // regeneration margin.
    assert(recall >= 0.6, s"IVF recall@5 collapsed: $recall")
    // determinism: seeded centroid sample
    val ivf2 = SimSearch.ivfTopK(emb, probes, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 8)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(ivf === ivf2)
  }

  test("ivfTopK degrades gracefully when the corpus is smaller than nprobe") {
    import spark.implicits._
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    // 3 corpus rows < nlist=16, nprobe=4 > available centroids: must probe
    // all cells rather than reject the request
    val out = SimSearch.ivfTopK(tiny, tiny.filter($"vec_id" === 1L),
      "vec_id", "embedding", k = 2, nlist = 16, nprobe = 4)
      .select("nbr_id").as[Long].collect().toSet
    assert(out === Set(2L, 3L))
  }

  test("lsh buckets are deterministic across invocations (seeded planes)") {
    val emb = Tables.embeddings(spark, sfDir).limit(50)
    val b1 = emb.select(SimSearch.lshBucket($"embedding", 8, 64).as("b")).as[Long].collect()
    val b2 = emb.select(SimSearch.lshBucket($"embedding", 8, 64).as("b")).as[Long].collect()
    assert(b1.toSeq === b2.toSeq)
  }

  test("IVF index persists: written + reloaded index answers row-identically") {
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter($"vec_id" < 5)
    val direct = SimSearch.ivfTopK(emb, probes, "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 2)
      .orderBy("probe_id", "rank").collect().toSeq
    val idx = SimSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    SimSearch.writeIvfIndex(idx, dir)
    val loaded = SimSearch.readIvfIndex(spark, dir)
    // the reloaded matrix must be the trained one, in cell order
    assert(loaded.centroids.length === idx.centroids.length)
    assert(loaded.centroids.zip(idx.centroids).forall { case (a, b) => a.sameElements(b) })
    val persisted = SimSearch.ivfTopKIndexed(loaded, probes, "vec_id", "embedding",
        k = 3, nprobe = 2)
      .orderBy("probe_id", "rank").collect().toSeq
    assert(persisted === direct,
      "an index reloaded from parquet must answer exactly like the in-memory one")
  }

  test("recallGateAdaptive: fast config serves, recall miss escalates to safe, " +
       "double miss stays empty (the minhash-adaptive triad)") {
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter($"vec_id" < 3)
    val truth = SimSearch.bruteForceTopK(emb, probes, "vec_id", "embedding", 3)
      .select($"probe_id", $"nbr_id")
    // recall 0 by construction: neighbor ids shifted out of the id space
    val garbage = truth.select($"probe_id", ($"nbr_id" + 1000000L).as("nbr_id"))

    // 1) fast clears the floor: serve it, never BUILD the safe pipeline
    var safeBuilt = false
    val (fastOut, esc1) = SimSearch.recallGateAdaptive(emb, probes,
      truth, { safeBuilt = true; truth }, "vec_id", "embedding", k = 3, floor = 0.9)
    assert(!esc1 && !safeBuilt, "recall-1.0 fast config must serve without " +
      "constructing the by-name safe pipeline")
    assert(fastOut.as[(Long, Long)].collect().toSet ===
      Set((0L, 3L), (1L, 3L), (2L, 3L)), "one (probe, n_results) row per probe")

    // 2) fast misses: escalate, safe config's full-recall answer serves
    val (safeOut, esc2) = SimSearch.recallGateAdaptive(emb, probes,
      garbage, truth, "vec_id", "embedding", k = 3, floor = 0.9)
    assert(esc2, "recall-0 fast config must escalate")
    assert(safeOut.as[(Long, Long)].collect().toSet ===
      Set((0L, 3L), (1L, 3L), (2L, 3L)))

    // 3) both miss: the empty result stands (oracle will fail loud), flagged
    val (emptyOut, esc3) = SimSearch.recallGateAdaptive(emb, probes,
      garbage, garbage, "vec_id", "embedding", k = 3, floor = 0.9)
    assert(esc3 && emptyOut.isEmpty,
      "a quality collapse no parameter bump explains must surface as empty")

    // 4) probe DROPOUT is a recall miss, not a free pass: an approx that
    // answers 2 of 3 probes perfectly has mean recall 2/3 over ALL probes
    // — the unanswered probe counts as 0, so the 0.9 floor must escalate
    val dropout = truth.filter($"probe_id" < 2)
    val (dropOut, esc4) = SimSearch.recallGateAdaptive(emb, probes,
      dropout, truth, "vec_id", "embedding", k = 3, floor = 0.9)
    assert(esc4, "an unanswered probe must count toward the denominator")
    assert(dropOut.as[(Long, Long)].collect().toSet ===
      Set((0L, 3L), (1L, 3L), (2L, 3L)))

    // 5) EMPTY probes is not drift: no escalation, no safe-pipeline build
    var safeBuilt5 = false
    val noProbes = emb.filter($"vec_id" < 0)
    val (noOut, esc5) = SimSearch.recallGateAdaptive(emb, noProbes,
      truth.filter(lit(false)), { safeBuilt5 = true; truth },
      "vec_id", "embedding", k = 3, floor = 0.9)
    assert(!esc5 && !safeBuilt5 && noOut.isEmpty,
      "zero probes must not read as a recall miss")
  }
}
