package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}

/** Dedup family: exact canonicalization, Jaccard ground truth, and the
  * sketch operators' recall against it (SURVEY.md §2b).
  */
class DedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"),       // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat tonight"),       // near dup of 1
    (4L, "completely different words here about spark engines today"),
    (5L, "spark engines process completely different words here daily"),
  ).toDF("doc_id", "text")

  test("exactCanonical groups identical texts under min id") {
    val out = Dedup.exactCanonical(docs, "doc_id", "text")
      .select("doc_id", "canonical_id", "group_size")
      .as[(Long, Long, Long)].collect().toMap2
    assert(out(1L) === (1L, 2L) && out(2L) === (1L, 2L))
    assert(out(3L) === (3L, 1L))
  }

  implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("ngramJaccardPairs finds exact and near dups above threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.4)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) === 1.0, "identical docs have jaccard 1")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)), "near dup caught")
    assert(!pairs.keys.exists { case (a, b) => b == 4L || a == 4L && b != 5L },
      "unrelated docs not paired at 0.4")
  }

  test("prefix-filtered join returns exactly the naive exact pairs") {
    // real corpus slice: planted near-dups + hub shingles across thresholds
    // (0.8 exercises short prefixes, 0.1 degenerates to the full index,
    // 0.2 exercises the epsilon guard: 0.2*sz lands a float epsilon ABOVE
    // the exact integer for sz in {55, 110, ...}, where a raw ceil would
    // shorten the prefix by one and could drop boundary pairs)
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    for (t <- Seq(0.1, 0.2, 0.4, 0.8)) {
      val naive = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      val prefix = Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", n = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(prefix === naive, s"prefix pruning diverged at threshold $t")
    }
  }

  test("maxDocFreq cap drops hub shingles but keeps high-jaccard pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.9, maxDocFreq = Some(1000L))
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
  }

  test("capped jaccard is a subset of exact pairs, never overestimating") {
    val d = Tables.documents(spark, sfDir)
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.4)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val capped = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.4,
      maxDocFreq = Some(50L))
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(capped.keySet.subsetOf(exact.keySet),
      "dropping hub shingles must only remove pairs (full sizes kept)")
    capped.foreach { case (k, j) =>
      assert(j <= exact(k) + 1e-12, s"capped jaccard overestimates for $k")
    }
    assert(capped.nonEmpty, "planted near-dups should survive a df>=50 cap")
  }

  test("dropNearDups keeps exactly one survivor per component") {
    val out = Dedup.dropNearDups(docs, "doc_id", "text", 3, 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 4L, 5L), "cluster {1,2,3} collapses to min id 1")
  }

  test("minhashLshPairs: 100% recall vs exact jaccard on testdata documents") {
    val d = Tables.documents(spark, sfDir)
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 0.4,
      numHashes = 128, bands = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "verification must kill false positives")
    val recall = if (exact.isEmpty) 1.0 else lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall below 0.95 (found ${lsh.size}/${exact.size})")
  }

  test("adaptive minhash escalation: fast config far from threshold, safe rerun near it") {
    // far-from-threshold corpus: the only pair is exact (j = 1.0 ≥ 0.7)
    val far = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "completely different words here about spark engines today"),
    ).toDF("doc_id", "text")
    val (fastOut, esc1) = Dedup.minhashLshPairsAdaptive(far, "doc_id", "text",
      n = 3, threshold = 0.4, fastHashes = 64, fastBands = 32, escalateBelow = 0.7)
    assert(!esc1, "min observed j = 1.0 must keep the fast config")
    assert(fastOut.as[(Long, Long, Double)].collect().toSet === Set((1L, 2L, 1.0)))

    // near-threshold corpus: docs 1/3 differ in one token → 6 of 10 shingles
    // shared → j = 0.6 < 0.7, inside the band where the 64/32 miss
    // probability stops being negligible
    val (safeOut, esc2) = Dedup.minhashLshPairsAdaptive(docs, "doc_id", "text",
      n = 3, threshold = 0.4, fastHashes = 64, fastBands = 32, escalateBelow = 0.7)
    assert(esc2, "a j = 0.6 pair must trigger the 128/64 rerun")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(safeOut.as[(Long, Long, Double)].collect().toSet === exact,
      "escalated output must carry full recall vs the exact relation")

    // empty output: indistinguishable from a total miss → escalate
    val lonely = Seq((9L, "one single document alone in the corpus today ok")).toDF("doc_id", "text")
    val (emptyOut, esc3) = Dedup.minhashLshPairsAdaptive(lonely, "doc_id", "text",
      n = 3, threshold = 0.4, fastHashes = 64, fastBands = 32, escalateBelow = 0.7)
    assert(esc3, "zero observed pairs must take the safe config")
    assert(emptyOut.count() === 0L)
  }

  test("simhash: identical docs share fingerprints; pairs catch exact dups") {
    val fps = Dedup.simhash64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(2L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("portable simhash: banding == brute-force all-pairs; md5 base matches JDK") {
    // the 4-chunk pigeonhole must surface EXACTLY the hamming<=3 pairs a
    // brute-force scan of the fingerprints finds — no more (verify kills
    // extras), no fewer (recall) — on real corpus text
    val real = graft.Tables.documents(spark, sfDir)
    val fps = graft.ext.SimHashPortable.fingerprints(real, "doc_id", "text")
      .as[(Long, Long)].collect()
    val brute = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib)).toSet
    val banded = Dedup.simhashPairsPortable(real, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === brute,
      s"banding must equal brute force (banded ${banded.size}, brute ${brute.size})")
    // and the rendered md5 base-hash formula really is the first 16 md5 hex
    // digits as one 64-bit word — pinned against the JDK's MessageDigest
    val got = spark.sql(
      s"SELECT ${graft.ext.SimHashPortable.baseSparkSql("'hello'")}").head().getLong(0)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("hello".getBytes("UTF-8"))
    val want = java.nio.ByteBuffer.wrap(md).getLong // first 8 bytes, big-endian
    assert(got === want)
    // kernel ≡ rendered-SQL formula, fingerprint for fingerprint, on the
    // real corpus — the scan-side md5 kernel must never drift from what
    // the oracle computes
    val sqlForm = graft.ext.SimHashPortable.fingerprintsSql(real, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fps.toMap === sqlForm,
      "simhash64_md5 kernel diverged from the rendered vote formula")
  }

  test("connectedComponents is generic: string ids take the distributed loop") {
    // non-integral ids skip the driver union-find; the distributed path's
    // convergence detector must be type-generic (a decimal-sum check would
    // throw under ANSI here)
    val edges = Seq(("b", "e"), ("e", "i"), ("x", "y")).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(edges)
      .as[(String, String)].collect().toMap
    assert(comps("b") === "b" && comps("e") === "b" && comps("i") === "b")
    assert(comps("x") === "x" && comps("y") === "x")
  }

  test("connectedComponents keeps self-loop nodes in the labeling") {
    val edges = Seq((7L, 7L), (1L, 2L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(comps(7L) === 7L, "self-loop node must not vanish from the output")
    assert(comps(2L) === 1L)
  }

  test("connectedComponents labels transitive chains with the min id") {
    val edges = Seq((2L, 5L), (5L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comps(2L) === 2L && comps(5L) === 2L && comps(9L) === 2L,
      "chain 2-5-9 collapses to min id 2")
    assert(comps(20L) === 20L && comps(21L) === 20L)
  }

  test("canonicalizeNearDups keeps untouched docs as their own component") {
    val out = Dedup.canonicalizeNearDups(docs, "doc_id", "text", 3, 0.4)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L,
      "exact+near dup cluster collapses to doc 1")
    assert(out(4L) === 4L, "singleton keeps own id")
  }

  test("decontaminate: overlap threshold drops contaminated docs only") {
    val bench = Seq((100L, "q1 q2 q3 q4 q5 q6 q7")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "q1 q2 q3 q4 q5 q6 q7 tail"),  // shares 5 benchmark 3-grams -> dropped
      (2L, "q1 q2 q3 other words here"),  // shares 1 -> kept
      (3L, "nothing in common at all"),   // shares 0 -> kept
    ).toDF("doc_id", "text")
    val ov = Decontaminate.overlapCounts(corpus, "doc_id", "text", bench, "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(ov(1L) === 5L && ov(2L) === 1L && !ov.contains(3L))
    val kept = Decontaminate.decontaminate(corpus, "doc_id", "text", bench, "text", 3, 5L)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L, 3L))
  }

  test("dedupIncremental: history hits and in-batch repeats both drop") {
    val history = Seq("seen before").toDF("t")
      .select(TextOps.fingerprint($"t").as("fp"))
    val batch = Seq(
      (10L, "Seen   BEFORE"),   // normalizes to a history fingerprint -> dropped
      (11L, "fresh one"),       // kept
      (12L, "fresh one"),       // in-batch repeat -> dropped
      (13L, "another fresh"),   // kept
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncremental(batch, "doc_id", "text", history)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(11L, 13L))
    // empty history: plain first-occurrence dedup
    val noHist = Dedup.dedupIncremental(batch, "doc_id", "text",
      history.limit(0))
      .select("doc_id").as[Long].collect().sorted
    assert(noHist.toSeq === Seq(10L, 11L, 13L))

    // a REPLAYED identical row (same id AND text twice) keeps exactly one
    // copy — min-id-equality would keep both
    val replay = Seq((20L, "dup row"), (20L, "dup row")).toDF("doc_id", "text")
    assert(Dedup.dedupIncremental(replay, "doc_id", "text", history.limit(0))
      .count() === 1)

    // NULL-text rows: NULL fingerprint never matches history (anti-join
    // semantics, mirrored by the oracle's NOT EXISTS) and they dedup among
    // themselves as one group
    val nulls = Seq((30L, null: String), (31L, null: String), (32L, "real"))
      .toDF("doc_id", "text")
    val keptN = Dedup.dedupIncremental(nulls, "doc_id", "text", history)
      .select("doc_id").as[Long].collect().sorted
    assert(keptN.toSeq === Seq(30L, 32L))

    // NULL ids follow the row_number form's NULLS FIRST: a null-id row
    // wins its group, and an ALL-null-id group emits its real row — never
    // a corrupt all-NULL struct (min_by skips null ORDERING values, so the
    // order key must fold nullness in explicitly)
    val nullIds = Seq((Option.empty[Long], "same text"), (Some(40L), "same text"),
      (Option.empty[Long], "only nulls")).toDF("doc_id", "text")
    val keptIds = Dedup.dedupIncremental(nullIds, "doc_id", "text",
      history.limit(0)).select("doc_id", "text")
      .as[(Option[Long], String)].collect().toSet
    assert(keptIds === Set((None, "same text"), (None, "only nulls")))
  }

  test("dedupIncrementalBloom ≡ dedupIncremental on every edge case") {
    val history = Seq("seen before", "also seen").toDF("t")
      .select(TextOps.fingerprint($"t").as("fp"))
    val batch = Seq(
      (10L, "Seen   BEFORE"),   // history hit -> dropped
      (11L, "fresh one"),       // kept
      (12L, "fresh one"),       // in-batch repeat -> dropped
      (13L, "also  seen"),      // second history hit -> dropped
      (14L, null: String),      // NULL fp bypasses bloom AND anti-join
      (15L, null: String),      // ...but dedups against 14
      (16L, "another fresh"),   // kept
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val exact = ids(Dedup.dedupIncremental(batch, "doc_id", "text", history))
    assert(exact === Seq(11L, 14L, 16L))
    // default fpp, tiny fpp (all-maybe path), and fpp≈1 (max false
    // positives -> everything verifies exactly): all must equal the
    // exact-anti-join form — the bloom prunes WORK, never rows
    for (fpp <- Seq(0.01, 1e-9, 0.9)) {
      assert(ids(Dedup.dedupIncrementalBloom(batch, "doc_id", "text",
        history, fpp = fpp)) === exact, s"fpp=$fpp diverged")
    }
    // empty history: bloom aggregate over zero rows must not crash, and
    // nothing can be dropped by history
    assert(ids(Dedup.dedupIncrementalBloom(batch, "doc_id", "text",
      history.limit(0))) === Seq(10L, 11L, 13L, 14L, 16L))
    // pre-sized history (skips the count action) — same answer
    assert(ids(Dedup.dedupIncrementalBloom(batch, "doc_id", "text",
      history, expectedItems = 2L)) === exact)
  }

  test("gopherQualityFilter: each rule drops its violator independently") {
    val ok = (1 to 60).map(i => s"tok$i").mkString(" ")     // 60 tokens, avg len ~5
    val docs = Seq(
      (1L, ok),
      (2L, (1 to 10).map(i => s"tok$i").mkString(" ")),     // too few tokens
      (3L, (1 to 60).map(_ => "a").mkString(" ")),          // avg token len 1 (and repetitive)
      (4L, (1 to 30).map(_ => "left right").mkString(" ")), // dup-2gram frac ~1
    ).toDF("doc_id", "text")
    val kept = CorpusClean.gopherQualityFilter(docs, "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L))
  }

  test("rejectionFunnel: first failing rule wins; empty covers the NULL punct case") {
    val en = (1 to 40).map(_ => "the and for").mkString(" ")     // 120 en tokens
    val docs = Seq(
      (1L, en),                                                  // kept
      (2L, ""),                                                  // empty (punctRatio NULL)
      (3L, "short doc"),                                         // too_short
      (4L, (1 to 40).map(_ => "a.b.c").mkString(" ")),           // punct > 0.2
      (5L, (1 to 40).map(_ => "der die und").mkString(" ")),     // de → lang_blocked
      (6L, "a, b!"),                                             // short AND punctuated → first rule: too_short
      (7L, null),                                                // NULL text → empty, not kept
    ).toDF("doc_id", "text")
    val funnel = CorpusClean.rejectionFunnel(docs, "text",
        minTokens = 30, maxPunct = 0.2, langs = Seq("en", "es"))
      .as[(String, Long)].collect().toMap
    assert(funnel === Map("kept" -> 1L, "empty" -> 2L, "too_short" -> 2L,
      "too_punctuated" -> 1L, "lang_blocked" -> 1L),
      "NULL text must count as a rejection (run() drops it), never as kept")
  }

  test("embeddingCosinePairs matches a hand-computed cosine") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),   // cos = 1
      (3L, Array(0.0f, 1.0f)),                            // orthogonal
      (4L, Array(1.0f, 1.0f)),                            // cos = 1/sqrt(2)
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", 0.7)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 4L)) === 0.707107)
    assert(!pairs.contains((1L, 3L)))
  }

  test("fuzzyPairsBlocked: edit distance inside blocks only; cross-block missed by design") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delth"),   // same block, 1 substitution on the prefix
      (3L, "alpha completely different words here"), // same block, far
      (4L, "beta alpha gamma delta"),   // near 1 but DIFFERENT first token
    ).toDF("doc_id", "text")
    val out = Dedup.fuzzyPairsBlocked(docs, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out.keySet === Set((1L, 2L)), s"got $out")
    assert(out((1L, 2L)) === 1L)
  }

  test("fuzzyPairsBlocked deletion-neighborhood blocking recovers a first-token typo") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "thw quick brown fox jumps"), // the typo IS the first token
      (3L, "unrelated sentence entirely here"),
    ).toDF("doc_id", "text")
    val dual = Dedup.fuzzyPairsBlocked(docs, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(dual === Set((1L, 2L, 1L)))
    // short tokens: 1-edit pair found via shared deletion variant, the
    // unrelated token pairs with nothing
    val shorts = Seq((1L, "one x"), (2L, "two x"), (3L, "onx x")).toDF("doc_id", "text")
    val sp = Dedup.fuzzyPairsBlocked(shorts, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(sp === Set((1L, 3L, 1L)), s"got $sp")
  }

  test("fuzzyPairsBlocked: typo PAST position 24 of a long first token is " +
    "recovered (deletion positions capped at prefixLen, not a fixed 24)") {
    // 30-char first token, substitution at position 28 — the old fixed-24
    // cap generated no deletion variant there, so the pair had no shared
    // block key and was silently out of scope
    val long1 = "abcdefghijklmnopqrstuvwxyzABCD tail text"
    val long2 = "abcdefghijklmnopqrstuvwxyzABXD tail text"
    val docs = Seq((1L, long1), (2L, long2),
      (3L, "unrelated sentence entirely here")).toDF("doc_id", "text")
    val dual = Dedup.fuzzyPairsBlocked(docs, "doc_id", "text", maxDist = 3,
      prefixLen = 40)
      .as[(Long, Long, Long)].collect().toSet
    assert(dual === Set((1L, 2L, 1L)), s"got $dual")
  }

  test("exactSubstringSpans: shared sentence -> exact maximal span in both " +
    "docs; within-doc repetition also flagged; unique text never flagged") {
    // docs 1 and 2 share an 11-token sentence at different offsets;
    // doc 3 repeats its own 4-gram; doc 4 is entirely unique
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val docs = Seq(
      (1L, s"unique one two three $shared trailing tail here"),
      (2L, s"$shared other ending words"),
      (3L, "rep one rep two rep one rep two something else entirely now"),
      (4L, "totally fresh sentence with no duplicated token window at all"),
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(docs, "doc_id", "text", k = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).groupBy(_._1)
    // doc 1: shared sentence spans tokens [4, 15) -> duplicated 4-gram
    // positions 4..11, one island, span_end = 11 + 4 = 15
    assert(spans(1L).map(_._2).toSet === Set((4L, 15L, 8L)), s"got ${spans(1L).toSeq}")
    // doc 2: same sentence at offset 0 -> [0, 11)
    assert(spans(2L).map(_._2).toSet === Set((0L, 11L, 8L)), s"got ${spans(2L).toSeq}")
    // doc 3: "rep one rep two" repeats at 0 and 4 -> grams 0 and 4 dup;
    // positions 0..4 are all dup ("one rep two rep"/"rep two rep one"
    // appear once each — only the aligned repeats count), so the exact
    // expectation is positions {0,4} when interior grams are unique:
    // compute from the operator's own contract instead of hand-deriving
    val d3 = spans(3L).map(_._2)
    assert(d3.forall { case (s, e, _) => s >= 0 && e <= 12 } && d3.nonEmpty,
      s"doc 3 within-doc repetition must be flagged, got ${d3.toSeq}")
    assert(!spans.contains(4L), "unique doc has no spans")
  }

  test("dropNearDupsByQuality keeps the best-quality member, not the min id") {
    val scored = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight", 10L),
      (2L, "the quick brown fox jumps over the lazy dog tonight", 50L), // better copy, higher id
      (3L, "the quick brown fox jumps over the lazy cat tonight", 20L), // same component
      (4L, "completely different words here about spark engines today", 5L),
    ).toDF("doc_id", "text", "quality")
    val kept = Dedup.dropNearDupsByQuality(scored, "doc_id", "text",
      "quality", n = 3, threshold = 0.4).as[Long].collect().toSet
    assert(kept === Set(2L, 4L), "component {1,2,3} survives via max quality (doc 2)")
    // quality tie resolves to min id
    val tied = scored.withColumn("quality", lit(7L))
    val keptTied = Dedup.dropNearDupsByQuality(tied, "doc_id", "text",
      "quality", n = 3, threshold = 0.4).as[Long].collect().toSet
    assert(keptTied === Set(1L, 4L))
  }

  test("semDedupDrop removes the higher id of each same-cell similar pair") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),        // centroid 0
      (2L, Array(0f, 1f, 0f, 0f)),        // centroid 1
      (3L, Array(0.999f, 0.01f, 0f, 0f)), // ≈ vec 1 → cell 0, drops vs 1
      (4L, Array(0f, 0.995f, 0.1f, 0f)),  // ≈ vec 2 → cell 1, drops vs 2
      (5L, Array(0.7f, 0.7f, 0f, 0f)),    // cos ≈ .707 to both → survives
      (6L, Array(-1f, 0f, 0f, 0f)),       // anti-parallel → survives
    ).toDF("vec_id", "embedding")
    val kept = Dedup.semDedupDrop(vecs, "vec_id", "embedding",
      nClusters = 2, threshold = 0.95).as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 5L, 6L))
  }

  test("semDedupDrop: nClusters beyond corpus size keeps every vector (no pairs above threshold)") {
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val kept = Dedup.semDedupDrop(vecs, "vec_id", "embedding",
      nClusters = 16, threshold = 0.9).as[Long].collect().toSet
    assert(kept === Set(1L, 2L))
  }
}
