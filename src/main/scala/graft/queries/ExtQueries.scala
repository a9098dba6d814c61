package graft.queries

import org.apache.spark.sql.Freeze
import org.apache.spark.sql.functions._

import graft.Posture.withConfs
import graft.Tables
import graft.ext._
import graft.ops.{AggOps, Skew}

/** Queries covering the LLM-data-pipeline extension surface (SURVEY.md §2b):
  * text analysis, dedup (exact / n-gram Jaccard / MinHash+LSH / SimHash /
  * embedding cosine), similarity search, sessionization, event-time windows,
  * and multimodal column plumbing.
  *
  * Sketch-based operators (MinHash, SimHash, LSH buckets) have no SQL
  * oracle — their hash families aren't reproducible in DuckDB — so they ship
  * rows-only here and get recall/exactness assertions against their exact
  * counterparts in the ScalaTest specs.
  */
object ExtQueries {

  // dedup_minhash_lsh gate tuning, shared with PlanCheckSpec's library-plan
  // assertion so a retune can't silently decouple the tested plan from the
  // gate's (rationale at the gate definition)
  val MinhashGateN = 3
  val MinhashGateThreshold = 0.4
  val MinhashGateFastHashes = 64
  val MinhashGateFastBands = 32

  // Stream-gate pins the run helpers (StreamOps.streamPins) cannot know:
  // no-data batches back on for the Append-mode gates that flush in a
  // trailing no-data batch, and RocksDB, which transformWithState requires.
  private val noDataBatchesOn = "spark.sql.streaming.noDataMicroBatches.enabled" -> "true"
  private val rocksDbState = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // DuckDB-side token array, identical to TextOps.tokens semantics.
  private val duckTokens = "regexp_split_to_array(trim(text), '\\s+')"

  // mixing recipe for mix_weighted: graduated rates over the 20 synthetic
  // sources; src16..src19 deliberately absent (allow-list drop). Spark
  // predicate and DuckDB oracle both render from THIS map.
  private val mixRates: Map[String, Double] =
    (0 to 4).map(i => s"src$i" -> 1.0).toMap ++
      (5 to 9).map(i => s"src$i" -> 0.5).toMap ++
      (10 to 12).map(i => s"src$i" -> 0.2).toMap ++
      (13 to 15).map(i => s"src$i" -> 0.05).toMap

  // shared by sw_native_session (batch) and stream_session_windows
  // (streaming): '>' gap islands, end = last event + gap — one definition so
  // batch and streaming session semantics are gated against the SAME truth
  private val sessionIslandsSql =
    """WITH e AS (SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
      |s AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
      |                              THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY us
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq FROM l)
      |SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS value_sum,
      |       min(us) // 1000000 AS start_s,
      |       max(us) // 1000000 + 1800 AS end_s
      |FROM s GROUP BY user_id, seq
      |""".stripMargin

  // shared by fuzzy_join_blocked (the hand-thresholded operator, full
  // corpus) and j6_rule_rewritten_fuzzy (the naive spelling rewritten by
  // the ThresholdedLevenshteinRule optimizer rule, on a corpus slice):
  // identical semantics gated against the SAME truth, parameterized only
  // by the input restriction. The deletion-position cap MUST equal the
  // operator's (`nearTokenPairs` caps at prefixLen — both gates call with
  // prefixLen = 40): a smaller oracle cap misses candidate pairs whose
  // first tokens differ past it, false-failing the gates on long tokens.
  private def fuzzyBlockedOracleSql(where: String = "",
                                    prefixLen: Int = 40): String =
    s"""WITH d AS (SELECT doc_id, substr(trim(text), 1, $prefixLen) AS pfx,
      |             split_part(trim(text), ' ', 1) AS b1 FROM documents$where),
      |tv AS (SELECT b1, vk
      |       FROM (SELECT DISTINCT b1 FROM d),
      |            UNNEST(list_distinct(list_append(
      |              [substr(b1, 1, g-1) || substr(b1, g+1, 1000000)
      |               for g in range(1, least(len(b1), $prefixLen) + 1)], b1))) AS u(vk)
      |       WHERE vk <> ''),
      |nt AS (SELECT DISTINCT a.b1 AS t_a, b.b1 AS t_b
      |       FROM tv a JOIN tv b ON a.vk = b.vk AND a.b1 <> b.b1),
      |c AS MATERIALIZED (
      |      -- MATERIALIZED: without it DuckDB reorders the near
      |      -- branch into an inequality join carrying the outer
      |      -- levenshtein predicate — 12.5M full DPs (measured 83 s
      |      -- for an empty near set)
      |      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |             a.pfx AS pfx_a, b.pfx AS pfx_b
      |      FROM d a JOIN d b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
      |      UNION ALL
      |      SELECT a.doc_id, b.doc_id, a.pfx, b.pfx
      |      FROM d a JOIN nt ON a.b1 = nt.t_a
      |                JOIN d b ON b.b1 = nt.t_b AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(levenshtein(pfx_a, pfx_b) AS BIGINT) AS dist
      |FROM c WHERE levenshtein(pfx_a, pfx_b) <= 12
      |""".stripMargin

  /** Recall-scored ANN gate body with self-escalation (the logic lives in
    * [[SimSearch.recallGate]]/[[SimSearch.recallGateAdaptive]] — see their
    * scaladoc): the tuned fast config serves unless its mean recall@k
    * misses `floor`, in which case the gate re-queries at the by-name safe
    * config before failing. A fired escalation ~doubles the gate's wall
    * time — the log line makes that attributable to corpus drift instead
    * of reading as host weather (the minhash gate's discipline).
    */
  private def annRecallGate(name: String,
                            emb: org.apache.spark.sql.DataFrame,
                            probes: org.apache.spark.sql.DataFrame,
                            fastApprox: org.apache.spark.sql.DataFrame,
                            safeApprox: => org.apache.spark.sql.DataFrame,
                            k: Int, floor: Double,
                            safeDesc: String): org.apache.spark.sql.DataFrame = {
    val (out, escalated) = SimSearch.recallGateAdaptive(emb, probes,
      fastApprox, safeApprox, "vec_id", "embedding", k, floor)
    if (escalated) System.err.println(
      s"[graft] $name ESCALATED to $safeDesc: fast-config mean recall@$k " +
      s"missed the $floor floor - corpus distribution drifted from the " +
      s"tuned parameters (regenerated testdata?)")
    out
  }

  // shared by txt_top_bigrams (exact) and txt_top_bigrams_approx (MG
  // candidates + exact recount): both must produce the identical top-20
  private val topBigramsSql =
    """WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
      |bg AS (SELECT unnest(list_transform(generate_series(1, len(ts)-1),
      |         i -> ts[i] || ' ' || ts[i+1])) AS gram FROM tok)
      |SELECT gram, count(*) AS n FROM bg GROUP BY gram
      |ORDER BY n DESC, gram LIMIT 20""".stripMargin

  // BM25 gate constants — the Spark expression tree AND the DuckDB oracle
  // below render from these, so the two sides cannot drift. Terms are from
  // the synthetic vocabulary (TESTDATA.md).
  private val bm25Terms = Seq("spark", "join", "query")
  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** DuckDB mirror of TextOps.bm25TopK: identical formula with identical
    * left-associative arithmetic; double literals rendered via Scala's
    * shortest-round-trip `toString` so DuckDB parses the same IEEE bits.
    */
  private def bm25OracleSql: String = {
    val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(ts, x -> x = '$t')) AS tf_$i" }.mkString(",\n|       ")
    val dfCols = bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val k1p1 = (bm25K1 + 1.0).toString
    val oneMinusB = (1.0 - bm25B).toString
    val termScores = bm25Terms.indices.map(i =>
      s"""ln(1.0 + (n_docs - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
         | * (CAST(tf_$i AS DOUBLE) * $k1p1)
         | / (CAST(tf_$i AS DOUBLE) + $bm25K1 * ($oneMinusB + $bm25B * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))"""
        .stripMargin.replace("\n", "")).mkString("\n|  + ")
    s"""WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
       |p AS (SELECT doc_id, len(ts) AS dl,
       |       $tfCols
       |       FROM d),
       |s AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfCols FROM p)
       |SELECT doc_id, round(
       |    $termScores, 4) AS bm25
       |FROM p CROSS JOIN s
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** DuckDB CASE reproducing TextOps.languageId's fold arbitration (scores
    * in declaration order, earliest language wins ties) — shared by
    * txt_langid and corpus_clean so the two gates cannot drift.
    */
  private def duckLangCase: String = {
    val score = TextOps.defaultLexicons.map { case (lang, ws) =>
      lang -> s"len(list_filter($duckTokens, t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
    }.toMap
    s"""CASE WHEN ${score("en")} >= greatest(${score("es")}, ${score("de")}, ${score("fr")}, ${score("zh")}) THEN 'en'
       |     WHEN ${score("es")} >= greatest(${score("de")}, ${score("fr")}, ${score("zh")}) THEN 'es'
       |     WHEN ${score("de")} >= greatest(${score("fr")}, ${score("zh")}) THEN 'de'
       |     WHEN ${score("fr")} >= ${score("zh")} THEN 'fr'
       |     ELSE 'zh' END""".stripMargin
  }

  def all: Seq[GQ] = Seq(

    // ----- text analysis -----------------------------------------------------
    GQ("txt_token_count",
      Some(s"""SELECT doc_id, len($duckTokens) AS n_tokens
              |FROM documents""".stripMargin),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
          ),

    GQ("txt_token_count_bpe",
      Some(s"""SELECT doc_id,
              |  len(regexp_extract_all(text, '${TextOps.BpeishPattern}')) AS n_units
              |FROM documents""".stripMargin),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            TextOps.bpeishTokenCount(col("text")).cast("long").as("n_units"))
          ),

    // Deterministic train/val/test split: md5-thresholded, engine-portable;
    // the oracle CASE is generated from the SAME thresholds (Splits.oracleCase)
    // so implementation and gate cannot drift.
    GQ("split_by_hash", {
      val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      Some(s"""SELECT doc_id,
              |  ${Splits.oracleCase("CAST(doc_id AS VARCHAR)", fr)} AS split
              |FROM documents""".stripMargin)
    },
      (spark, dir) =>
        Splits.byHash(Tables.documents(spark, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select("doc_id", "split")
          ),

    // Corpus-level repeated-line removal (C4/RefinedWeb boilerplate step).
    // Testdata documents contain no newlines, so both engines synthesize
    // the SAME multi-line docs in-query: a 1-in-3 "subscribe" line, a
    // per-doc unique footer, and an every-doc copyright line. The gate is
    // non-vacuous: boilerplate lines must vanish, unique footers must
    // survive, and line order must be preserved.
    GQ("txt_remove_boilerplate",
      Some("""WITH d AS (SELECT doc_id,
             |  text || chr(10) ||
             |  CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
             |       ELSE 'footer ' || doc_id END || chr(10) ||
             |  'copyright 2026 example corp' AS text FROM documents),
             |ls AS (SELECT doc_id,
             |         unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos,
             |         unnest(string_split(text, chr(10))) AS line FROM d),
             |hot AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM ls)
             |        GROUP BY line HAVING count(*) >= 10),
             |kept AS (SELECT ls.* FROM ls
             |         WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.line = ls.line)),
             |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean
             |        FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean
             |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
             |""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir).select(col("doc_id"),
          concat(col("text"), lit("\n"),
            when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
              .otherwise(concat(lit("footer "), col("doc_id").cast("string"))),
            lit("\n"), lit("copyright 2026 example corp")).as("text"))
        TextOps.removeRepeatedLines(docs, "doc_id", "text", maxDocFreq = 10)
          .select("doc_id", "text_clean")
      }),

    // Weighted source mixing: graduated keep-rates over the 20 synthetic
    // sources (allow-list semantics — src16+ are absent and must vanish).
    // Both sides render the same digest-threshold CASE from the same map.
    GQ("mix_weighted", {
      Some(s"""SELECT doc_id, source FROM documents
              |WHERE ${Splits.oracleKeepPredicate("CAST(doc_id AS VARCHAR)", "source", mixRates)}
              |""".stripMargin)
    },
      (spark, dir) =>
        Splits.weightedKeep(Tables.documents(spark, dir), "doc_id", "source", mixRates)
          .select("doc_id", "source")
          ),

    // Sequence packing (concat-and-chunk): per-shard cumulative token
    // offsets -> which fixed-length training sequences each doc spans.
    GQ("pack_sequences",
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
             |            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
             |          FROM documents),
             |c AS (SELECT doc_id, shard, n_tokens,
             |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum FROM t)
             |SELECT doc_id, shard, n_tokens,
             |  CAST((cum - n_tokens) // 1024 AS BIGINT) AS start_seq,
             |  CAST((cum - 1) // 1024 AS BIGINT) AS end_seq,
             |  CAST((cum - 1) // 1024 - (cum - n_tokens) // 1024 + 1 AS BIGINT) AS n_seqs
             |FROM c""".stripMargin),
      (spark, dir) =>
        Pack.packSequences(Tables.documents(spark, dir), "doc_id", "text", 1024,
          (col("doc_id") % 8).as("shard"))
          ),

    // Corpus-bigram LM score: positional-bigram MLE probabilities, scaled
    // to integers per term so the per-doc sum is association-order-exact.
    GQ("lm_bigram_score",
      Some("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-1),
             |         i -> ts[i] || ' ' || ts[i+1])) AS bg FROM tok),
             |uw AS (SELECT unnest(ts) AS w1 FROM tok),
             |cu AS (SELECT w1, count(*) AS cu FROM uw GROUP BY 1),
             |cb AS (SELECT bg, count(*) AS cb FROM bi GROUP BY 1),
             |p AS (SELECT doc_id, CAST(round(CAST(cb.cb AS DOUBLE) / CAST(cu.cu AS DOUBLE) * 1e9) AS BIGINT) AS ps
             |      FROM bi JOIN cb ON bi.bg = cb.bg
             |              JOIN cu ON split_part(bi.bg, ' ', 1) = cu.w1)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  CAST(sum(ps) AS BIGINT) AS p_sum_scaled,
             |  CAST(sum(ps) // count(*) AS BIGINT) AS lm_avg_scaled
             |FROM p GROUP BY doc_id""".stripMargin),
      (spark, dir) => {
        // shuffle partitions sized to the relation widths for the EAGER
        // probability-table materialization inside bigramLmScores (its
        // aggregates are vocabulary-sized — thousands of rows drown in
        // the session's 16-way task launches; same reasoning as
        // graph_pagerank)
        withConfs(spark, "spark.sql.shuffle.partitions" -> "8") {
          Pack.bigramLmScores(Tables.documents(spark, dir), "doc_id", "text")
            .withColumnsRenamed(Map("id" -> "doc_id"))
            .select("doc_id", "n_bigrams", "p_sum_scaled", "lm_avg_scaled")
        }
      }),

    // DSIR hashed-n-gram importance scores (integer-exact scaled variant):
    // English docs as the target domain, the whole corpus as source; the
    // oracle renders the same md5 bucket, Laplace smoothing, and
    // single-expression ratio arithmetic from the builder beside the impl.
    GQ("dsir_importance",
      Some(graft.ext.Dsir.importanceScoresOracleSql(1024, "lang = 'en'")),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        graft.ext.Dsir.importanceScoresWithin(docs, col("lang") === "en",
          "doc_id", "text", 1024)
          .withColumnsRenamed(Map("id" -> "doc_id"))
      }),

    // The resampling half: top-200 most target-like docs, id tie-break —
    // TakeOrderedAndProject, never a global corpus sort.
    GQ("dsir_resample_top",
      Some(s"""WITH s AS (${graft.ext.Dsir.importanceScoresOracleSql(1024, "lang = 'en'")})
              |SELECT doc_id, w_sum_scaled FROM s
              |ORDER BY w_sum_scaled DESC, doc_id LIMIT 200""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val scored = graft.ext.Dsir.importanceScoresWithin(docs,
          col("lang") === "en", "doc_id", "text", 1024)
        graft.ext.Dsir.resampleTop(scored, 200)
          .withColumnsRenamed(Map("id" -> "doc_id"))
          .select("doc_id", "w_sum_scaled")
      }),

    // Symmetric int8 embedding quantization: every byte of q and the exact
    // double scale must match DuckDB's rendering of the same arithmetic
    // (rounding ties included). The vector is emitted as a comma-joined
    // STRING, not an array column: the driver's pandas-side compare sorts
    // rows by every column, and numpy arrays are unhashable/unsortable
    // there (round-4 gate error) — the string render still checks every
    // byte of every element.
    GQ("emb_quantize_int8",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e)
             |SELECT vec_id, scale,
             |  array_to_string(list_transform(v, x -> CAST(round(x / scale) AS TINYINT)), ',') AS q_csv
             |FROM s""".stripMargin),
      (spark, dir) =>
        Tables.embeddings(spark, dir)
          .withColumn("__graft_quant",
            graft.functions.VectorFunctions.quantizeI8(col("embedding")))
          .select(col("vec_id"), col("__graft_quant.scale").as("scale"),
            array_join(col("__graft_quant.q").cast("array<string>"), ",").as("q_csv"))
          ),

    // Deterministic stratified sample: up to 5 docs per source language,
    // md5-ordered — rerun- and partitioning-stable, unlike df.sample().
    GQ("sample_per_group",
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang,
             |         row_number() OVER (PARTITION BY lang
             |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 5""".stripMargin),
      (spark, dir) =>
        Sampling.stratifiedByHash(Tables.documents(spark, dir), "lang", "doc_id", 5)
          .select("doc_id", "lang")
          ),

    // CCNet-style quality-tier subsampling: three equal-population tiers
    // by doc length (exact percentile fences, strict-< lower-tier rule),
    // thinned at 0.2/0.6/keep-all via the md5-hex coin. Oracle renders the
    // SAME probs/thresholds from the same builder — they cannot drift.
    GQ("ccnet_bucket_sample",
      Some(graft.ext.Sampling.qualityBucketSampleOracleSql(
        "documents", "n_chars", "doc_id", "doc_id", Seq(0.2, 0.6, 1.0))),
      (spark, dir) =>
        Sampling.qualityBucketSample(Tables.documents(spark, dir),
          "n_chars", "doc_id", Seq(0.2, 0.6, 1.0))
          .select("doc_id", "bucket")
          ),

    // Exact token-count quantiles (linear interpolation both engines);
    // scalar columns rather than an array so the hash compare stays simple.
    GQ("txt_length_quantiles",
      Some(s"""WITH t AS (SELECT len($duckTokens) AS n FROM documents)
              |SELECT round(quantile_cont(n, 0.25), 6) AS p25,
              |       round(quantile_cont(n, 0.5), 6) AS p50,
              |       round(quantile_cont(n, 0.75), 6) AS p75,
              |       round(quantile_cont(n, 0.95), 6) AS p95
              |FROM t""".stripMargin),
      (spark, dir) => {
        // ONE percentile_compact buffer carries all four fences (flat
        // primitive state, bit-identical interpolation to the built-in —
        // a9_percentiles keeps the built-in as the reference-parity gate)
        val q = graft.functions.PercentileCompact.percentileCompact(
          col("n").cast("double"), Seq(0.25, 0.5, 0.75, 0.95))
        Tables.documents(spark, dir)
          .select(TextOps.tokenCount(col("text")).as("n"))
          .agg(q.as("__q"))
          .select(
            round(col("__q").getItem(0), 6).as("p25"),
            round(col("__q").getItem(1), 6).as("p50"),
            round(col("__q").getItem(2), 6).as("p75"),
            round(col("__q").getItem(3), 6).as("p95"))
      }),

    GQ("txt_quality",
      Some(s"""SELECT doc_id,
              |  CAST(length(text) AS BIGINT) AS n_chars_m,
              |  len($duckTokens) AS n_tokens,
              |  CAST(length(text) - (len($duckTokens) - 1) AS DOUBLE) / len($duckTokens) AS avg_token_len,
              |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
              |    / length(text) AS punct_ratio
              |FROM documents""".stripMargin),
      (spark, dir) =>
        TextOps.qualityMetrics(Tables.documents(spark, dir), "text")
          .select(col("doc_id"), col("n_chars_m").cast("long").as("n_chars_m"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("avg_token_len"), col("punct_ratio"))
          ),

    // Model-based quality gate: hashed bag-of-words linear classifier
    // (fastText hashing trick — the C4/CCNet model-filter operator shape).
    // Deterministic placeholder weights render into both dialects from ONE
    // generator; bucket assignment rides the md5 portable base word; the
    // gate is FLOAT-FREE — it hash-checks the exact integer logit
    // numerator and the integer-rule keep decision (engines' round()
    // implementations measurably disagree on systematic near-tie doubles,
    // so the float rendering stays API-only).
    GQ("quality_classifier", {
      val qcW = graft.ext.QualityModel.defaultWeights(64)
      Some(s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
              |            FROM documents),
              |b AS (SELECT doc_id, ${graft.ext.QualityModel.bucketDuckSql("t", 64)} AS bkt FROM tok),
              |s AS (SELECT doc_id, CAST(sum((${graft.ext.QualityModel.weightsDuckSql(qcW)})[bkt + 1]) AS BIGINT) AS sw,
              |             count(*) AS n
              |      FROM b GROUP BY doc_id)
              |SELECT d.doc_id, CAST(25 * s.n + s.sw AS BIGINT) AS q_num,
              |       CAST(s.n AS BIGINT) AS n_tokens,
              |       25 * s.n + s.sw >= 0 AS keep
              |FROM documents d JOIN s ON d.doc_id = s.doc_id
              |""".stripMargin)
      },
      (spark, dir) =>
        graft.ext.QualityModel.score(Tables.documents(spark, dir), "doc_id", "text",
          graft.ext.QualityModel.defaultWeights(64), biasUnits = 25)
          .select("doc_id", "q_num", "n_tokens", "keep")),

    GQ("txt_langid",
      Some(s"""SELECT doc_id,
              |  $duckLangCase AS lang_pred
              |FROM documents""".stripMargin),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            TextOps.languageId(col("text"), TextOps.defaultLexicons).as("lang_pred"))
          ),

    // Stopword-ratio quality signal — gates the LexiconHits kernel through
    // an oracle (integer-exact division, rounded identically both sides).
    GQ("txt_stopword_ratio", {
      val en = TextOps.defaultLexicons.head._2
      Some(s"""SELECT doc_id,
              |  round(CAST(len(list_filter($duckTokens,
              |    t -> t IN (${en.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
              |    / len($duckTokens), 6) AS stop_ratio
              |FROM documents""".stripMargin)
    },
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            round(TextOps.lexiconRatio(col("text"), TextOps.defaultLexicons.head._2), 6)
              .as("stop_ratio"))
          ),

    GQ("txt_fingerprint",
      Some("""SELECT doc_id,
             |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             |FROM documents""".stripMargin),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
          ),

    // ----- dedup -------------------------------------------------------------
    GQ("dedup_exact",
      Some("""SELECT doc_id,
             |       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             |       count(*)   OVER (PARTITION BY md5(text)) AS group_size
             |FROM documents""".stripMargin),
      (spark, dir) =>
        Dedup.exactCanonical(Tables.documents(spark, dir), "doc_id", "text")
          .select("doc_id", "canonical_id", "group_size")
          ),

    GQ("dedup_ngram_jaccard",
      Some("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(ts)-2),
             |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
             |       FROM tok),
             |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
             |com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
             |FROM com JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.4
             |""".stripMargin),
      (spark, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
          n = 3, threshold = 0.4)
          ),

    // Prefix-filtered exact join (AllPairs/PPJoin): LOSSLESS pruning, so it
    // shares the exact oracle above — the gate itself proves the candidate
    // pruning drops nothing.
    GQ("dedup_ngram_jaccard_prefix",
      Some("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(ts)-2),
             |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
             |       FROM tok),
             |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
             |com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
             |FROM com JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.4
             |""".stripMargin),
      (spark, dir) =>
        Dedup.ngramJaccardPairsPrefix(Tables.documents(spark, dir), "doc_id", "text",
          n = 3, threshold = 0.4)),

    // The capped heuristic alternative: hub shingles (doc freq ≥ cap) are
    // dropped from candidate generation AND intersection counts while full
    // set sizes are kept, so jaccard is underestimated — a SUBSET of the
    // exact pairs. The cap semantics are pure relational algebra, so the
    // oracle mirrors them exactly (anti-join the hub shingles, full sizes
    // in the denominator).
    GQ("dedup_ngram_jaccard_capped",
      Some("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(ts)-2),
             |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
             |       FROM tok),
             |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
             |hub AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY 1)
             |        WHERE df >= 50),
             |shc AS (SELECT sh.doc_id, sh.s FROM sh ANTI JOIN hub USING (s)),
             |com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |        FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
             |FROM com JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.4
             |""".stripMargin),
      (spark, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
          n = 3, threshold = 0.4, maxDocFreq = Some(50L))
          ),

    // MinHash+LSH carries the EXACT oracle directly: banded candidates +
    // exact verification emit true-jaccard pairs (a subset of the exact
    // relation), and with this hash family the subset is the WHOLE relation
    // (recall 1.0, deterministic — DedupSpec floors it at 0.95). Any missed
    // band/sketch regression drops pairs and fails the hash check; no
    // second exact computation runs inside the gate.
    GQ("dedup_minhash_lsh",
      Some("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(ts)-2),
             |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
             |       FROM tok),
             |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
             |com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
             |FROM com JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.4
             |""".stripMargin),
      (spark, dir) => {
        // 64 hashes / 32 bands (r=2), tuned against the MEASURED output-pair
        // distribution (sf0.1, COVERAGE "Rounds 10–13 change notes", Round
        // 12): every true pair has j >= 0.8
        // (p05 = 0.91), where 32 bands miss with prob (1-0.64)^32 ~= 4e-15;
        // even a hypothetical pair AT the 0.4 threshold misses with only
        // 0.004. Halves the signature kernel and the banding join vs the
        // library's belt-and-braces 128/64 default (which stays the default:
        // an unmeasured corpus gets the 1.4e-5-at-threshold config).
        //
        // SELF-ESCALATING against corpus regeneration (the driver rewrites
        // /root/testdata between rounds and has changed data properties
        // before): the 64/32 tuning is only sound while every true pair sits
        // far above the 0.4 threshold. If the fast pass surfaces ANY pair
        // with j < 0.7 — where 32-band miss probability starts to matter —
        // or finds nothing at all, rerun at the 128/64 default
        // (miss ~1.4e-5 at threshold) instead of gambling the exact-pair
        // oracle on a distribution nobody re-measured. Zero extra cost on
        // the measured corpus (min observed j ~= 0.91). Both branches are
        // spec-pinned in DedupSpec ("adaptive minhash escalation");
        // PlanCheckSpec asserts the fast config's plan via these same
        // constants.
        val (pairs, escalated) = Dedup.minhashLshPairsAdaptive(
          Tables.documents(spark, dir), "doc_id", "text",
          n = MinhashGateN, threshold = MinhashGateThreshold,
          fastHashes = MinhashGateFastHashes, fastBands = MinhashGateFastBands,
          escalateBelow = 0.7)
        // a fired escalation ~doubles this gate's wall time — make that
        // attributable to corpus drift instead of reading as host weather
        if (escalated) System.err.println(
          "[graft] dedup_minhash_lsh ESCALATED to 128/64: observed pair " +
          "jaccard below 0.7 (or no pairs) — corpus distribution drifted " +
          "from the 64/32 tuning assumption")
        pairs
      }
          ),

    // SimHash near-dup pairs, ORACLE-GATED end to end: the gate runs the
    // portable (md5-base) variant — same banding/bucket-join/hamming-verify
    // code path as the xxhash64 production kernel, base hash rendered from
    // ONE generator in both dialects (the zorder drift-proofing pattern).
    // The oracle computes fingerprints the same way, then brute-force
    // all-pairs hamming — a GROUND-TRUTH gate that also proves the 4-chunk
    // pigeonhole banding loses no pair at hamming <= 3. The xxhash64
    // kernel keeps its bit-parity spec (SketchSpec).
    GQ("dedup_simhash",
      Some(s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
              |            FROM documents),
              |h AS (SELECT doc_id, ${graft.ext.SimHashPortable.baseDuckSql("t")} AS b FROM tok),
              |fp AS (SELECT doc_id, ${graft.ext.SimHashPortable.fpAggDuckSql("b")} AS simhash
              |       FROM h GROUP BY doc_id)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |""".stripMargin),
      (spark, dir) =>
        Dedup.simhashPairsPortable(Tables.documents(spark, dir), "doc_id", "text",
          maxHamming = 3)
          .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
          ),

    // Cluster canonicalization over the exact-Jaccard pair graph; oracle
    // computes the same components with a recursive transitive closure
    // (clusters are small, so the closure stays tiny).
    GQ("dedup_cc_canonical",
      Some("""WITH RECURSIVE tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(ts)-2),
             |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
             |       FROM tok),
             |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
             |com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (SELECT id_a, id_b
             |          FROM com JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |          WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.4),
             |und AS (SELECT id_a AS u, id_b AS v FROM pairs
             |        UNION SELECT id_b, id_a FROM pairs),
             |reach(u, v) AS (SELECT u, v FROM und
             |                UNION
             |                SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u),
             |comp AS (SELECT u, least(u, min(v)) AS lbl FROM reach GROUP BY u)
             |SELECT d.doc_id, coalesce(c.lbl, d.doc_id) AS component
             |FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
             |""".stripMargin),
      (spark, dir) =>
        Dedup.canonicalizeNearDups(Tables.documents(spark, dir), "doc_id", "text",
          n = 3, threshold = 0.4)
          .select("doc_id", "component")
          ),

    // Actual near-dup REMOVAL surface: one survivor (min id) per component.
    GQ("dedup_drop_near",
      Some("""WITH RECURSIVE tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(ts)-2),
             |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
             |       FROM tok),
             |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
             |com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (SELECT id_a, id_b
             |          FROM com JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |          WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.4),
             |und AS (SELECT id_a AS u, id_b AS v FROM pairs
             |        UNION SELECT id_b, id_a FROM pairs),
             |reach(u, v) AS (SELECT u, v FROM und
             |                UNION
             |                SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u),
             |comp AS (SELECT u, least(u, min(v)) AS lbl FROM reach GROUP BY u)
             |SELECT d.doc_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
             |WHERE coalesce(c.lbl, d.doc_id) = d.doc_id
             |""".stripMargin),
      (spark, dir) =>
        Dedup.dropNearDups(Tables.documents(spark, dir), "doc_id", "text",
          n = 3, threshold = 0.4)
          .select("doc_id")
          ),

    // Quality-aware survivor selection over the SAME component graph: the
    // production dedup policy (keep the cleanest copy, not the first id) —
    // survivor = max n_chars, ties to min doc_id. Oracle reuses the
    // recursive-closure components and ranks members per component.
    GQ("dedup_drop_near_quality",
      Some("""WITH RECURSIVE tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(ts)-2),
             |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
             |       FROM tok),
             |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
             |com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (SELECT id_a, id_b
             |          FROM com JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |          WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.4),
             |und AS (SELECT id_a AS u, id_b AS v FROM pairs
             |        UNION SELECT id_b, id_a FROM pairs),
             |reach(u, v) AS (SELECT u, v FROM und
             |                UNION
             |                SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u),
             |comp AS (SELECT u, least(u, min(v)) AS lbl FROM reach GROUP BY u),
             |lab AS (SELECT d.doc_id, d.n_chars, coalesce(c.lbl, d.doc_id) AS component
             |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.u)
             |SELECT doc_id FROM (
             |  SELECT doc_id, row_number() OVER (PARTITION BY component
             |                                    ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM lab) WHERE rn = 1
             |""".stripMargin),
      (spark, dir) =>
        Dedup.dropNearDupsByQuality(Tables.documents(spark, dir), "doc_id", "text",
          qualityCol = "n_chars", n = 3, threshold = 0.4)
          .select("doc_id")
          ),

    GQ("dedup_embedding_cosine",
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
             |""".stripMargin),
      (spark, dir) =>
        Dedup.embeddingCosinePairs(Tables.embeddings(spark, dir), "vec_id", "embedding", 0.4)),

    // SemDeDup (Abbas et al. 2023): semantic near-dup REMOVAL with
    // cluster-bucketed candidates. Seeded deterministic centroids (the 8
    // lowest-id vectors, zero Lloyd iterations) make the cluster partition
    // oracle-reproducible, so the gate hash-checks the exact survivor set
    // end to end — centroid argmax assignment (rounded cosine, ties to the
    // lower index), within-cell cosine pairs, min-id survivorship.
    GQ("semdedup_drop",
      Some("""WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             |           FROM embeddings ORDER BY vec_id LIMIT 8),
             |r AS (SELECT row_number() OVER (ORDER BY cid) - 1 AS idx, ce FROM c),
             |a AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v FROM embeddings e),
             |asg AS (SELECT a.vec_id, a.v,
             |          (SELECT r.idx FROM r
             |           ORDER BY round(list_cosine_similarity(a.v, r.ce), 6) DESC, r.idx
             |           LIMIT 1) AS cell
             |        FROM a),
             |p AS (SELECT DISTINCT y.vec_id AS id_b
             |      FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id
             |      WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.4)
             |SELECT vec_id FROM asg WHERE vec_id NOT IN (SELECT id_b FROM p)
             |""".stripMargin),
      (spark, dir) =>
        Dedup.semDedupDrop(Tables.embeddings(spark, dir), "vec_id", "embedding",
          nClusters = 8, threshold = 0.4)),

    // ----- incremental exact dedup vs a fingerprint history ------------------
    // docs 0-99 stand in as prior runs' persisted fingerprints. The corpus
    // has NO natural duplicates, so the batch is doc_id >= 100 plus two
    // SYNTHESIZED slices both engines construct identically: docs 0-4
    // replayed as ids 20000+ (history hits — must all drop) and docs
    // 100-104 replayed as ids 30000+ (in-batch repeats — the lower original
    // id survives). A dedup whose anti-join or survivor logic silently
    // no-ops would keep the 10 synthetic rows and fail the hash. Oracle
    // uses NOT EXISTS (anti-join NULL semantics) + row_number (exactly one
    // survivor per fingerprint).
    GQ("dedup_incremental",
      Some("""WITH batch0 AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 100
             |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id < 5
             |  UNION ALL SELECT doc_id + 29900, text FROM documents WHERE doc_id BETWEEN 100 AND 104
             |),
             |fp AS (SELECT doc_id,
             |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             |       FROM batch0),
             |hist AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             |         FROM documents WHERE doc_id < 100),
             |kept AS (SELECT doc_id,
             |           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
             |         FROM fp b
             |         WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp))
             |SELECT doc_id FROM kept WHERE rn = 1
             |""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val batch = docs.filter(col("doc_id") >= 100).select("doc_id", "text")
          .unionByName(docs.filter(col("doc_id") < 5)
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(100, 104))
            .select((col("doc_id") + 29900).as("doc_id"), col("text")))
        val history = docs.filter(col("doc_id") < 100)
          .select(TextOps.fingerprint(col("text")).as("fp")).distinct()
        Dedup.dedupIncremental(batch, "doc_id", "text", historyFps = history)
          .select("doc_id")
      }),

    // Bloom-prefiltered incremental dedup: SAME semantics and oracle as
    // dedup_incremental (the bloom only prunes join work, never rows —
    // definitely-new fps skip the history anti-join, maybes verify
    // exactly), which is precisely the claim the shared hash gate proves.
    GQ("dedup_incremental_bloom",
      Some("""WITH batch0 AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 100
             |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id < 5
             |  UNION ALL SELECT doc_id + 29900, text FROM documents WHERE doc_id BETWEEN 100 AND 104
             |),
             |fp AS (SELECT doc_id,
             |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             |       FROM batch0),
             |hist AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             |         FROM documents WHERE doc_id < 100),
             |kept AS (SELECT doc_id,
             |           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
             |         FROM fp b
             |         WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp))
             |SELECT doc_id FROM kept WHERE rn = 1
             |""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val batch = docs.filter(col("doc_id") >= 100).select("doc_id", "text")
          .unionByName(docs.filter(col("doc_id") < 5)
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(100, 104))
            .select((col("doc_id") + 29900).as("doc_id"), col("text")))
        val history = docs.filter(col("doc_id") < 100)
          .select(TextOps.fingerprint(col("text")).as("fp")).distinct()
        // expectedItems passed from the known history scope (doc_id < 100):
        // the production caller tracks its history count — skipping the
        // sizing count() saves one driver action
        Dedup.dedupIncrementalBloom(batch, "doc_id", "text",
          historyFps = history, expectedItems = 100L)
          .select("doc_id")
      }),

    // Cross-corpus exact-substring duplicate spans (ExactSubstr, Lee et al.):
    // a position is duplicated iff its 8-token gram occurs >= 2 times in the
    // whole corpus (cross-doc or within-doc); consecutive duplicated
    // positions coalesce to maximal spans, end exclusive at last pos + 8.
    // Token-index bounds and gram STRINGS (not hashes) keep the formula
    // renderable in both dialects verbatim.
    GQ("dedup_substring_spans",
      Some("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
             |             FROM documents),
             |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             |             array_to_string(ts[i:i+7], ' ') AS gram
             |      FROM tok, LATERAL unnest(generate_series(1, len(ts) - 7)) AS t(i)),
             |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
             |p AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM d)),
             |isl AS (SELECT doc_id, pos,
             |               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |        FROM p)
             |SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
             |       count(*) AS n_grams
             |FROM isl GROUP BY doc_id, grp
             |""".stripMargin),
      (spark, dir) =>
        Dedup.exactSubstringSpans(Tables.documents(spark, dir), "doc_id", "text",
          k = 8)
          ),

    // ----- similarity search -------------------------------------------------
    GQ("ann_topk_bruteforce",
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
             |scored AS (SELECT p.vec_id AS probe_id, c.vec_id AS nbr_id,
             |                  round(list_cosine_similarity(p.v, c.v), 6) AS cosine
             |           FROM p JOIN c ON p.vec_id <> c.vec_id)
             |SELECT probe_id, nbr_id, cosine, rn AS rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY probe_id
             |                              ORDER BY cosine DESC, nbr_id) AS rn
             |  FROM scored) WHERE rn <= 5
             |""".stripMargin),
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        SimSearch.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
          .select(col("probe_id"), col("nbr_id"), col("cosine"),
            col("rank").cast("long").as("rank"))
      }),

    // IVF/LSH are RECALL-SCORED oracle gates, not rows-only: the query
    // joins the ANN result against the in-query brute-force truth, and the
    // final filter keeps rows only while mean recall@5 clears the floor
    // (measured on the near-uniform testdata embeddings across
    // sf0.001-0.1: IVF 0.50-0.54 → floor 0.4; LSH 0.36-0.54 → floor 0.3,
    // its SimSearchSpec floor; seeds are fixed, so values are
    // deterministic). A quality collapse empties the result and the hash
    // check fails — the driver now pins ANN QUALITY, not just a row count.
    GQ("ann_topk_ivf",
      Some("""SELECT vec_id AS probe_id, CAST(5 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id < 10""".stripMargin),
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val probes = emb.filter(col("vec_id") < 10)
        // nlist=16 / nprobe=8, floor 0.6: the parameter-recall curve in
        // SimSearchSpec (sf0.001/0.01/0.1) measures 0.72/0.72/0.80 here — the
        // near-uniform testdata (true top-5 cosines 0.26-0.49) caps what any
        // cell partitioning can do below nprobe/nlist ~= 1/2. Safe config on
        // a recall miss: nprobe = nlist, i.e. probe EVERY cell — exact by
        // construction (each corpus vector lives in exactly one cell), so
        // it clears any floor that brute force would.
        val approx = SimSearch.ivfTopK(emb, probes, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 8)
        annRecallGate("ann_topk_ivf", emb, probes, approx,
          SimSearch.ivfTopK(emb, probes, "vec_id", "embedding",
            k = 5, nlist = 16, nprobe = 16),
          k = 5, floor = 0.6, safeDesc = "nprobe=16 (all cells)")
      }),

    // The deployment shape of IVF: train once, PERSIST (centroids +
    // cell-assigned corpus as parquet), load in a consumer that shares
    // nothing but the path, and serve the query batch from the loaded
    // index. Same recall oracle as ann_topk_ivf; SimSearchSpec pins the
    // persisted path row-identical to the direct one.
    GQ("ann_topk_ivf_persist",
      Some("""SELECT vec_id AS probe_id, CAST(5 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id < 10""".stripMargin),
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val probes = emb.filter(col("vec_id") < 10)
        val idx = SimSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16)
        val path = graft.Scratch.fresh("ivf_index")
        // materialize the (probes×k)-row answer, then DELETE the on-disk
        // index, also when the write, the read or the freeze throws: it
        // holds a corpus copy, and scratch may be RAM-backed (/dev/shm)
        val approx =
          try {
            SimSearch.writeIvfIndex(idx, path)
            Freeze(SimSearch.ivfTopKIndexed(SimSearch.readIvfIndex(spark, path), probes,
              "vec_id", "embedding", k = 5, nprobe = 8)) // 16/8, floor 0.6: see ann_topk_ivf
          } finally graft.Scratch.delete(path)
        // safe re-query serves from the IN-MEMORY index (`idx`): the on-disk
        // copy is already deleted, and SimSearchSpec pins the persisted path
        // row-identical to the direct one, so the escape hatch answers the
        // same query. nprobe = nlist → exact (see ann_topk_ivf).
        annRecallGate("ann_topk_ivf_persist", emb, probes, approx,
          SimSearch.ivfTopKIndexed(idx, probes, "vec_id", "embedding",
            k = 5, nprobe = 16),
          k = 5, floor = 0.6, safeDesc = "nprobe=16 (all cells, in-memory index)")
      }),

    GQ("ann_topk_lsh",
      Some("""SELECT vec_id AS probe_id, CAST(5 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id < 10""".stripMargin),
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val probes = emb.filter(col("vec_id") < 10)
        // 3 planes, floor 0.5: sign-LSH on the near-uniform testdata loses
        // ~cos⁻¹(0.4)/π ≈ 37% of hyperplane votes per true neighbor, so
        // recall falls fast with plane count (SimSearchSpec curve at
        // sf0.001/0.01/0.1: planes=2 → 0.82/0.88/0.84, 3 → 0.54/0.74/0.68,
        // 4 → 0.36/0.54/0.46, 8 → ~0.1). planes=3 is the coarsest config
        // that still partitions (8 buckets + hamming-1 multiprobe); gate
        // SFs measure 0.74/0.68 against the 0.5 floor
        val approx = SimSearch.lshTopK(emb, probes, "vec_id", "embedding",
          k = 5, numPlanes = 3, dim = 64)
        // safe config on a recall miss: FEWER planes — 2 planes = 4 buckets
        // + hamming-1 multiprobe visits 3/4 of the corpus per probe, the
        // coarsest partitioning that is still LSH (SimSearchSpec: 0.82-0.88
        // recall across SFs, comfortably above the 0.5 floor)
        annRecallGate("ann_topk_lsh", emb, probes, approx,
          SimSearch.lshTopK(emb, probes, "vec_id", "embedding",
            k = 5, numPlanes = 2, dim = 64),
          k = 5, floor = 0.5, safeDesc = "numPlanes=2")
      }),

    // ----- end-to-end corpus cleaning ----------------------------------------
    // The composed pipeline (quality gate -> language keep-list -> near-dup
    // removal) gated as a whole: per-row predicates shrink the corpus before
    // the pair join, and near-dup components are computed among SURVIVORS.
    GQ("corpus_clean",
      Some(s"""WITH RECURSIVE q AS (
              |  SELECT doc_id, text FROM documents
              |  WHERE len($duckTokens) >= 30
              |    AND length(text) > 0
              |    AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
              |        / length(text) <= 0.2
              |    AND ($duckLangCase) IN ('en', 'es')
              |),
              |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM q),
              |sh AS (SELECT DISTINCT doc_id,
              |         unnest(list_transform(generate_series(1, len(ts)-2),
              |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
              |       FROM tok),
              |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
              |com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
              |pairs AS (SELECT id_a, id_b
              |          FROM com JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
              |          WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.4),
              |und AS (SELECT id_a AS u, id_b AS v FROM pairs
              |        UNION SELECT id_b, id_a FROM pairs),
              |reach(u, v) AS (SELECT u, v FROM und
              |                UNION
              |                SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u),
              |comp AS (SELECT u, least(u, min(v)) AS lbl FROM reach GROUP BY u)
              |SELECT q.doc_id FROM q LEFT JOIN comp c ON q.doc_id = c.u
              |WHERE coalesce(c.lbl, q.doc_id) = q.doc_id
              |""".stripMargin),
      (spark, dir) =>
        CorpusClean.run(Tables.documents(spark, dir), "doc_id", "text",
          minTokens = 30, maxPunct = 0.2, langs = Seq("en", "es"),
          n = 3, threshold = 0.4)
          .select("doc_id")
          ),

    // Rejection funnel over the SAME rules and parameters as corpus_clean:
    // first-failing-reason label per doc, counted — the "why did my corpus
    // shrink" report; one scan, reason-cardinality aggregate.
    GQ("corpus_filter_funnel",
      Some(s"""SELECT reason, CAST(count(*) AS BIGINT) AS n FROM (
              |  SELECT CASE
              |    WHEN text IS NULL OR length(text) = 0 THEN 'empty'
              |    WHEN len($duckTokens) < 30 THEN 'too_short'
              |    WHEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
              |         / length(text) > 0.2 THEN 'too_punctuated'
              |    WHEN ($duckLangCase) NOT IN ('en', 'es') THEN 'lang_blocked'
              |    ELSE 'kept' END AS reason
              |  FROM documents)
              |GROUP BY 1""".stripMargin),
      (spark, dir) =>
        CorpusClean.rejectionFunnel(Tables.documents(spark, dir), "text",
          minTokens = 30, maxPunct = 0.2, langs = Seq("en", "es"))
          ),

    // ----- decontamination: benchmark n-gram overlap removal -----------------
    // docs 0-9 stand in as the "benchmark" set; the corpus (doc_id >= 10)
    // drops every doc sharing >= 5 distinct 3-gram shingles with it. Spark
    // joins on 64-bit shingle hashes, the oracle on shingle strings —
    // identical counts modulo hash collisions, same contract as the gated
    // Jaccard family.
    GQ("decontaminate_overlap",
      Some("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(ts)-2),
             |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
             |       FROM tok),
             |b AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
             |ov AS (SELECT sh.doc_id, count(*) AS n_overlap
             |       FROM sh JOIN b USING (s) WHERE sh.doc_id >= 10 GROUP BY 1)
             |SELECT d.doc_id FROM documents d LEFT JOIN ov USING (doc_id)
             |WHERE d.doc_id >= 10 AND coalesce(ov.n_overlap, 0) < 5
             |""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        Decontaminate.decontaminate(
          docs.filter(col("doc_id") >= 10), "doc_id", "text",
          bench = docs.filter(col("doc_id") < 10), benchTextCol = "text",
          n = 3, minOverlap = 5L)
          .select("doc_id")
      }),

    // ----- Gopher rule battery (composite per-row quality gate) --------------
    GQ("gopher_quality", {
      val avg = s"CAST(length(text) - (len($duckTokens) - 1) AS DOUBLE) / len($duckTokens)"
      val dup2 = s"""1.0 - CAST(len(list_distinct(list_transform(
                    |  generate_series(1, len($duckTokens)-1),
                    |  i -> $duckTokens[i] || ' ' || $duckTokens[i+1]))) AS DOUBLE)
                    |/ len(list_transform(generate_series(1, len($duckTokens)-1),
                    |  i -> $duckTokens[i] || ' ' || $duckTokens[i+1]))""".stripMargin
      Some(s"""SELECT doc_id FROM documents
              |WHERE len($duckTokens) BETWEEN 50 AND 100000
              |  AND $avg BETWEEN 3.0 AND 10.0
              |  AND ($dup2) <= 0.2
              |""".stripMargin)
    },
      (spark, dir) =>
        CorpusClean.gopherQualityFilter(Tables.documents(spark, dir), "text")
          .select("doc_id")
          ),

    // ----- PII redaction + URL extraction ------------------------------------
    // The corpus has no planted PII, so both engines deterministically
    // synthesize identical contact strings into the text, then the redaction
    // and URL probe run over that. Patterns are RE2-safe (Java regex and
    // DuckDB agree — that agreement IS what the gate checks).
    GQ("txt_redact_pii",
      Some(s"""SELECT doc_id,
              |  regexp_replace(
              |    regexp_replace(text || ' contato: user' || doc_id ||
              |      '@mail.example.com tel +55 11 9999-' || doc_id ||
              |      ' site https://ex.example/' || doc_id,
              |      '${TextOps.EmailPattern}', '[EMAIL]', 'g'),
              |    '${TextOps.PhonePattern}', '[PHONE]', 'g') AS redacted,
              |  regexp_extract(text || ' contato: user' || doc_id ||
              |      '@mail.example.com tel +55 11 9999-' || doc_id ||
              |      ' site https://ex.example/' || doc_id,
              |      'https?://[^ \t\n]+') AS url
              |FROM documents""".stripMargin),
      (spark, dir) => {
        val synth = concat(col("text"), lit(" contato: user"), col("doc_id"),
          lit("@mail.example.com tel +55 11 9999-"), col("doc_id"),
          lit(" site https://ex.example/"), col("doc_id"))
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            TextOps.redactPii(synth).as("redacted"),
            TextOps.firstUrl(synth).as("url"))
      }),

    // ----- sentiment: broadcast lexicon join (EDBT'16 pattern, SURVEY §2b) ---
    GQ("txt_sentiment",
      Some("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
             |            FROM documents),
             |lex(w, wt) AS (VALUES ('fast', 1), ('big', 1), ('slow', -1), ('small', -1)),
             |sc AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score
             |       FROM tok JOIN lex USING (w) GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(sc.score, 0) AS score
             |FROM documents d LEFT JOIN sc USING (doc_id)
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val lex = Seq(("fast", 1L), ("big", 1L), ("slow", -1L), ("small", -1L))
          .toDF("w", "wt")
        val docs = Tables.documents(spark, dir)
        val scores = docs
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
          .join(broadcast(lex), "w")
          .groupBy("doc_id").agg(sum(col("wt")).as("score"))
        docs.select("doc_id").join(scores, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("score"), lit(0L)).as("score"))
      }),

    // ----- sessionization / event-time windows -------------------------------
    GQ("sessionize_stats",
      Some("""WITH e AS (SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
             |s AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
             |                              THEN 1 ELSE 0 END)
             |        OVER (PARTITION BY user_id ORDER BY us
             |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM l)
             |SELECT user_id, session_seq, count(*) AS n_events,
             |       round(sum(value), 4) AS value_sum,
             |       min(us) // 1000000 AS start_s, max(us) // 1000000 AS end_s
             |FROM s GROUP BY user_id, session_seq
             |""".stripMargin),
      (spark, dir) =>
        Sessionize.sessionStats(Tables.events(spark, dir), "user_id", "ts", "value",
          gapSeconds = 1800)
          .select("user_id", "session_seq", "n_events", "value_sum", "start_s", "end_s")
          ),

    GQ("tw_tumbling",
      Some("""SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000 AS window_start_s,
             |       count(*) AS n, round(sum(value), 4) AS value_sum
             |FROM events GROUP BY window_start_s""".stripMargin),
      (spark, dir) =>
        Sessionize.tumbling(Tables.events(spark, dir), "ts", 3600,
          Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("value_sum")))
          .select("window_start_s", "n", "value_sum")
          ),

    GQ("tw_sliding",
      Some("""WITH e AS (SELECT value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |g AS (SELECT value, (us // 1800000000) * 1800 AS s0 FROM e),
             |x AS (SELECT value, s0 AS ws FROM g
             |      UNION ALL SELECT value, s0 - 1800 FROM g)
             |SELECT ws AS window_start_s, count(*) AS n, round(sum(value), 4) AS value_sum
             |FROM x GROUP BY ws""".stripMargin),
      (spark, dir) =>
        Sessionize.sliding(Tables.events(spark, dir), "ts", 3600, 1800,
          Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("value_sum")))
          .select("window_start_s", "n", "value_sum")
          ),

    // ----- streaming under the gate ------------------------------------------
    // A REAL micro-batch run: the events table is landed as 2 parquet drops,
    // streamed back one file per trigger (2 micro-batches through the
    // incremental-execution engine + state store), windowed-aggregated in
    // Complete mode into a memory sink; the sink's final contents are the
    // gated result. Complete mode keeps every window's state, so the final
    // table equals the batch aggregate regardless of file arrival order —
    // which is exactly what the oracle asserts.
    GQ("stream_tumbling_counts",
      Some("""SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000 AS window_start_s,
             |       event_type, count(*) AS n, round(sum(value), 4) AS value_sum
             |FROM events GROUP BY window_start_s, event_type
             |""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLanding(spark, dir)
        val stream = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(1))
        StreamOps.runToMemory(
          StreamOps.windowedCounts(stream, widthSeconds = 3600, slideSeconds = 3600),
          "stream_tumbling_counts_sink", OutputMode.Complete())
        spark.table("stream_tumbling_counts_sink")
          .select(col("window_start_s"), col("event_type"), col("n"),
            round(col("value_sum"), 4).as("value_sum"))
      }),

    // Streaming SESSION WINDOWS under the gate (Append mode): a far-future
    // sentinel drop (processed as the last micro-batch) drags the watermark
    // past every real session's close, so the stateful session_window
    // aggregate emits its complete results in a finite replay — the
    // end-of-stream flush pattern. Result must equal the batch
    // gaps-and-islands oracle shared with sw_native_session: one truth for
    // session semantics across batch and streaming.
    GQ("stream_session_windows",
      Some(sessionIslandsSql),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLandingWithSentinel(spark, dir)
        // This gate's Append-mode emission NEEDS one trailing no-data
        // micro-batch: the sentinel's trigger only UPDATES the watermark;
        // closed sessions flush in the batch AFTER it, which carries no
        // data. Pin the conf on here so a session tuned for the other
        // finite replays (which disable no-data batches — they only pay
        // for them) cannot truncate this gate's output.
        withConfs(spark, noDataBatchesOn) {
          // ALL drops (both base files + the sentinel) in ONE data trigger:
          // the watermark is computed at END-of-batch from the max event
          // time seen — sentinel included — so every real session is
          // already closed < watermark when the trailing no-data batch
          // runs, and the flush emits there exactly as it did when the
          // sentinel rode its own trigger. Sessions never spanned triggers
          // in this landing (both base drops always shared trigger 1), so
          // collapsing to one data trigger drops a whole micro-batch
          // (~0.6 s) without weakening what the gate proves: append-mode
          // session_window emission through watermark advance.
          val stream = StreamOps.readEventStream(spark, landing)
          StreamOps.runToMemory(StreamOps.sessionCounts(stream, gapSeconds = 1800),
            "stream_session_sink", OutputMode.Append())
        }
        spark.table("stream_session_sink")
          .filter(col("user_id") =!= StreamOps.SentinelUser)
          .select(col("user_id"), col("n_events"),
            round(col("value_sum"), 4).as("value_sum"), col("start_s"), col("end_s"))
      }),

    // The SAME session semantics hand-built on transformWithState with
    // EVENT-TIME TIMERS (ListState of open intervals; a session emits only
    // when a timer's expiry proves the watermark passed end+gap) — the
    // full arbitrary-state surface of the Spark 4 API, pinned to the SAME
    // gaps-and-islands oracle as the native session_window gate above and
    // the batch operator: three session implementations, one truth.
    GQ("stream_session_tws",
      Some(sessionIslandsSql),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLandingWithSentinel(spark, dir)
        // timers fire in the trailing no-data batch after the sentinel
        // advances the watermark — same flush shape as session_window
        withConfs(spark, noDataBatchesOn, rocksDbState) {
          val stream = StreamOps.readEventStream(spark, landing)
          StreamOps.runToMemory(
            StreamOps.sessionizeTWS(spark, stream, gapSeconds = 1800),
            "stream_session_tws_sink", OutputMode.Append())
        }
        spark.table("stream_session_tws_sink")
          .filter(col("user_id") =!= StreamOps.SentinelUser)
          .select(col("user_id"), col("n_events"),
            round(col("value_sum"), 4).as("value_sum"), col("start_s"), col("end_s"))
      }),

    // Streaming EXACT DEDUP under the gate: the landing replays every base
    // drop a second time (originals in trigger 1, copies in trigger 2), so the
    // dropDuplicates state must absorb 10k replayed keys — the aggregate
    // equals the plain batch GROUP BY over the original events iff no
    // duplicate survived and no original was lost.
    // ----- streaming CDC apply (continuous MERGE via foreachBatch) -----------
    // Three single-file change drops (U/D/I, the cdc_merge slices) arrive in
    // three micro-batches; each merges into the parquet snapshot with a
    // write-then-swap. Final table must equal the one-shot batch merge —
    // same oracle shape as cdc_merge.
    GQ("stream_cdc_apply",
      Some("""WITH snap AS (SELECT o_orderkey, o_totalprice FROM orders),
             |chg AS (
             |  SELECT o_orderkey, o_totalprice + 1000 AS price, 'U' AS op
             |  FROM orders WHERE o_orderkey % 10 = 0
             |  UNION ALL SELECT o_orderkey, CAST(NULL AS DOUBLE), 'D' FROM orders WHERE o_orderkey % 10 = 1
             |  UNION ALL SELECT o_orderkey + 100000000, 1.0, 'I' FROM orders WHERE o_orderkey % 10 = 2),
             |kept AS (SELECT s.o_orderkey, s.o_totalprice AS price FROM snap s
             |         WHERE NOT EXISTS (SELECT 1 FROM chg c WHERE c.o_orderkey = s.o_orderkey)),
             |merged AS (SELECT o_orderkey, price FROM kept
             |           UNION ALL SELECT o_orderkey, price FROM chg WHERE op <> 'D')
             |SELECT o_orderkey, round(price, 2) AS price
             |FROM merged""".stripMargin),
      (spark, dir) => {
        import graft.streaming.StreamOps
        val landing = StreamOps.ordersChangesLanding(spark, dir)
        val base = graft.Scratch.fresh("cdc_apply")
        val snap = s"$base/snapshot"
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
          .coalesce(4).write.mode("overwrite").parquet(snap)
        val changes = spark.readStream
          .schema("o_orderkey BIGINT, price DOUBLE, op STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(landing)
        StreamOps.applyChangesStream(changes, snap, s"$base/ckpt", "o_orderkey", "op")
        spark.read.schema("o_orderkey BIGINT, price DOUBLE").parquet(snap)
          .select(col("o_orderkey"), round(col("price"), 2).as("price"))
      }),

    // ----- streaming parquet SINK round-trip ---------------------------------
    // The landing is streamed one file per trigger through a row-level
    // transform and APPENDED to a checkpointed parquet sink (the file
    // sink's transaction log + committed source offsets make the append
    // exactly-once); the gated result is the SINK read back, so the whole
    // write path — offset commits, _spark_metadata manifest, append across
    // triggers — must reproduce the batch truth. Re-invocation within a
    // JVM restarts from the committed checkpoint, finds nothing new, and
    // reads the identical sink (the restart/no-redelivery property itself
    // is driven file-by-file in StreamOpsSpec).
    GQ("stream_sink_parquet",
      Some("""SELECT event_id, user_id, event_type,
             |  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_s, value
             |FROM events WHERE user_id % 2 = 0""".stripMargin),
      (spark, dir) => {
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLanding(spark, dir)
        val base = graft.Scratch.dir("sink_parquet", dir)
        val stream = StreamOps.readEventStream(spark, landing,
            maxFilesPerTrigger = Some(1))
          .filter(col("user_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("ts_s"), col("value"))
        StreamOps.runToParquet(stream, s"$base/out", s"$base/ckpt")
        spark.read.parquet(s"$base/out")
          .select("event_id", "user_id", "event_type", "ts_s", "value")
      }),

    GQ("stream_dedup_counts",
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 4) AS value_sum
             |FROM events GROUP BY event_type""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLandingWithDuplicates(spark, dir)
        // 2 files per trigger: originals land in trigger 1, the two dup
        // copies (newer mtimes) in trigger 2 — duplicates still hit
        // PRE-EXISTING state, which is what the gate must prove
        val stream = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(2))
        StreamOps.runToMemory(
          StreamOps.dedupByKey(stream, "event_id")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum")),
          "stream_dedup_sink", OutputMode.Complete())
        spark.table("stream_dedup_sink")
          .select(col("event_type"), col("n"), round(col("value_sum"), 4).as("value_sum"))
      }),

    // BOUNDED-STATE streaming dedup under the gate: the production form —
    // dropDuplicatesWithinWatermark evicts a key once the watermark passes
    // its event time + delay, so state is O(redelivery window), not
    // O(stream lifetime). The replay's duplicates are byte-identical copies
    // (same event times, delivered one trigger later), so a delay covering
    // the table's span absorbs them all and the final counts must equal the
    // plain batch GROUP BY — same oracle as the unbounded-state gate, with
    // eviction mechanics live in the plan.
    GQ("stream_dedup_wm_counts",
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 4) AS value_sum
             |FROM events GROUP BY event_type""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLandingWithDuplicates(spark, dir)
        val stream = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(2))
        StreamOps.runToMemory(
          StreamOps.dedupByKeyWithinWatermark(stream, "ts", "35 days", "event_id")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum")),
          "stream_dedup_wm_sink", OutputMode.Complete())
        spark.table("stream_dedup_wm_sink")
          .select(col("event_type"), col("n"), round(col("value_sum"), 4).as("value_sum"))
      }),

    // mapGroupsWithState under the gate: per-user running totals emitted
    // every micro-batch in Update mode; a user's n_events strictly increases
    // across its emissions, so the final state is the per-user row with the
    // max n_events — which must equal the plain batch GROUP BY.
    GQ("stream_user_stats",
      Some("""SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS value_sum
             |FROM events GROUP BY user_id""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLanding(spark, dir)
        val stream = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(1))
        StreamOps.runToMemory(StreamOps.runningUserStats(spark, stream),
          "stream_user_stats_sink", OutputMode.Update())
        // Update mode re-emits a user's row per touching batch; final
        // state = the max n_events. Build AND physically plan the rollup
        // inside a stream-sized partition scope (executedPlan is a forced
        // lazy val) so its window exchange keeps the stream's partition
        // count instead of re-inheriting the session's scan-scale one.
        withConfs(spark, "spark.sql.shuffle.partitions" -> StreamOps.streamShuffleParts) {
          val res = graft.ops.AggOps.dedupByKeyOrdered(
              spark.table("stream_user_stats_sink"), Seq("user_id"),
              Seq(col("n_events").desc))
            .select(col("user_id"), col("n_events"),
              round(col("value_sum"), 4).as("value_sum"))
          res.queryExecution.executedPlan
          res
        }
      }),

    // The SAME running-stats state machine on Spark 4's transformWithState
    // API (named ValueState from the processor handle — the successor to
    // mapGroupsWithState), under the RocksDB state-store provider the API
    // requires: engine-surface coverage of the NEW arbitrary-state path,
    // gated against the identical batch oracle as stream_user_stats.
    GQ("stream_user_stats_tws",
      Some("""SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS value_sum
             |FROM events GROUP BY user_id""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLanding(spark, dir)
        withConfs(spark, rocksDbState) {
          val stream = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(1))
          StreamOps.runToMemory(StreamOps.runningUserStatsTWS(spark, stream),
            "stream_user_stats_tws_sink", OutputMode.Update())
        }
        // rollup planned inside a stream-sized scope — see stream_user_stats
        withConfs(spark, "spark.sql.shuffle.partitions" -> StreamOps.streamShuffleParts) {
          val res = graft.ops.AggOps.dedupByKeyOrdered(
              spark.table("stream_user_stats_tws_sink"), Seq("user_id"),
              Seq(col("n_events").desc))
            .select(col("user_id"), col("n_events"),
              round(col("value_sum"), 4).as("value_sum"))
          res.queryExecution.executedPlan
          res
        }
      }),

    // MapState on transformWithState — the third state shape (ValueState:
    // stream_user_stats_tws; ListState+timers: stream_session_tws): per-user
    // type→count map, one store entry per touched type per micro-batch.
    GQ("stream_type_counts_tws",
      Some("""SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY user_id, event_type""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLanding(spark, dir)
        withConfs(spark, rocksDbState) {
          val stream = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(1))
          StreamOps.runToMemory(StreamOps.typeCountsTWS(spark, stream),
            "stream_type_counts_tws_sink", OutputMode.Update())
        }
        // Update mode re-emits a (user,type) row per touching batch; final
        // state = the max count (n strictly increases). Planned inside a
        // stream-sized scope — see stream_user_stats.
        withConfs(spark, "spark.sql.shuffle.partitions" -> StreamOps.streamShuffleParts) {
          val res = graft.ops.AggOps.dedupByKeyOrdered(
              spark.table("stream_type_counts_tws_sink"),
              Seq("user_id", "event_type"), Seq(col("n").desc))
            .select("user_id", "event_type", "n")
          res.queryExecution.executedPlan
          res
        }
      }),

    // Stream-STATIC join: every micro-batch enriches against a broadcast
    // batch dimension (no join state, no watermark) — the streaming-
    // enrichment shape missing between the stateful gates above and the
    // batch J1 — rolled up by a Complete-mode streaming aggregate in the
    // same query; the oracle is the equivalent batch join+agg.
    GQ("stream_static_enrich",
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
             |       round(sum(value), 4) AS value_sum
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY c_mktsegment""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        // The scaled-integer stream sum below assumes `value` rides an
        // exact 2-decimal grid; if the driver regenerates events with
        // finer-precision doubles, each row silently contributes up to
        // 0.005 of SYSTEMATIC rounding bias against the oracle's raw-double
        // sum. Assert the grid over the FULL relation (a limit(1000) sample
        // reads an arbitrary slice of one partition and passes when the
        // off-grid rows live elsewhere — the downstream hash still fails,
        // but without this message); the single-column max-abs aggregate is
        // one cheap scan at gate scale.
        val gridRow = Tables.events(spark, dir)
          .agg(max(abs(col("value") * 100 - round(col("value") * 100))).as("d"))
          .head()
        // null max = empty sample or all-null values: vacuously on-grid
        // (an empty corpus fails downstream with its own attributable
        // shape); the require must not itself NPE
        val gridDrift = if (gridRow.isNullAt(0)) 0.0 else gridRow.getDouble(0)
        require(gridDrift < 1e-6,
          f"stream_static_enrich: events.value is off the 2-decimal grid " +
          f"(max drift $gridDrift%.2e) - the scaled-integer stream sum is " +
          f"unsound for this corpus; regenerated testdata?")
        val landing = StreamOps.eventsLanding(spark, dir)
        val stream = StreamOps.readEventStream(spark, landing)
        val dim = Tables.customer(spark, dir)
          .select("c_custkey", "c_mktsegment")
        // enrich AND aggregate inside the streaming query (Complete
        // mode): the production shape — nobody sinks raw joined rows —
        // and the sink then holds segment-count rows, not the full
        // 100 k-row join output whose external-row re-conversion and
        // 32-partition batch re-aggregation used to cost ~0.4 s more
        // than the stream itself
        // sum a SCALED INTEGER in the stream (value rides a 2-decimal
        // grid): Complete mode re-accumulates state across micro-batches
        // in a different association order than the oracle's single batch
        // — long addition is order-free, so the gate's float margin does
        // not depend on trigger count (the round-before-sum discipline)
        StreamOps.runToMemory(
          StreamOps.enrichWithDim(stream, dim, "user_id", "c_custkey")
            .groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n_events"),
              sum(round(col("value") * 100).cast("long")).as("value_sum_c")),
          "stream_static_enrich_sink", OutputMode.Complete())
        spark.table("stream_static_enrich_sink")
          .select(col("c_mktsegment"), col("n_events"),
            round(col("value_sum_c") / 100.0, 4).as("value_sum"))
      }),

    // ----- multimodal plumbing ----------------------------------------------
    // Payload = UTF-8 bytes of documents.text (no codec libs in-container);
    // FakeCodec metadata is a pure function of byte length, reproduced in SQL.
    GQ("mm_decode_meta",
      Some("""SELECT doc_id AS mediaId,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS nBytes,
             |  CASE octet_length(encode(text)) % 3 WHEN 0 THEN 'jpeg'
             |       WHEN 1 THEN 'png' ELSE 'webp' END AS format,
             |  CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
             |  CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
             |  CAST(octet_length(encode(text)) % 24 + 1 AS INTEGER) AS nFrames
             |FROM documents""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.asMediaTable(Tables.documents(spark, dir), "doc_id", "text")
        Multimodal.decodeMeta(spark, media).toDF()
      }),

    // FakeCodec frame count is pure byte-length arithmetic, so the stride
    // sampler's full output IS oracle-expressible (generate_series).
    GQ("mm_frame_sample",
      Some("""WITH m AS (SELECT doc_id, octet_length(encode(text)) % 24 + 1 AS nf
             |           FROM documents)
             |SELECT doc_id AS mediaId,
             |       CAST(unnest(generate_series(0, nf - 1, 6)) AS INTEGER) AS frameIdx
             |FROM m
             |""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.asMediaTable(Tables.documents(spark, dir), "doc_id", "text")
        Multimodal.sampleFrames(spark, media, stride = 6)
      }),

    // ----- multimodal REAL codec (javax.imageio) -----------------------------
    // Payloads are ACTUAL PNGs encoded in-partition with dimensions that are
    // pure arithmetic in the id — the oracle predicts width/height WITHOUT a
    // decoder, so a hash match proves the true encode→decode round-trip.
    GQ("mm_decode_meta_real",
      Some("""SELECT doc_id AS media_id, 'png' AS format,
             |  CAST(doc_id % 64 + 16 AS INTEGER) AS width,
             |  CAST(doc_id % 48 + 16 AS INTEGER) AS height,
             |  CAST(1 AS INTEGER) AS n_frames
             |FROM documents WHERE doc_id < 1000""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.syntheticImageTable(spark,
          Tables.documents(spark, dir).filter(col("doc_id") < 1000), "doc_id")
        Multimodal.decodeMeta(spark, media, Multimodal.ImageIoCodec)
          .select(col("mediaId").as("media_id"), col("format"),
            col("width"), col("height"), col("nFrames").as("n_frames"))
      }),

    // Real bilinear resize into a 32×32 box: the clamp arithmetic
    // (min(1, 32/w, 32/h), floor) is IEEE-identical in both engines, so the
    // decoded-then-resized dimensions are oracle-predictable too.
    GQ("mm_resize_real",
      Some("""WITH m AS (SELECT doc_id, doc_id % 64 + 16 AS w, doc_id % 48 + 16 AS h
             |           FROM documents WHERE doc_id < 1000),
             |s AS (SELECT doc_id, LEAST(1.0, 32.0 / w, 32.0 / h) AS sc, w, h FROM m)
             |SELECT doc_id AS media_id,
             |  CAST(GREATEST(1, FLOOR(w * sc)) AS INTEGER) AS width,
             |  CAST(GREATEST(1, FLOOR(h * sc)) AS INTEGER) AS height
             |FROM s""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.syntheticImageTable(spark,
          Tables.documents(spark, dir).filter(col("doc_id") < 1000), "doc_id")
        Multimodal.resize(spark, media, maxW = 32, maxH = 32,
            codec = Multimodal.ImageIoCodec)
          .select(col("mediaId").as("media_id"), col("width"), col("height"))
      }),

    // ----- multimodal REAL multi-frame container (animated GIF) -------------
    // Payloads are ACTUAL animated GIFs written frame-by-frame in-partition;
    // the frame count is id arithmetic, so the oracle predicts the sampled
    // stride indices without a decoder while the engine truly walks the
    // GIF's frame blocks (getNumImages(true)) — the real-container twin of
    // the FakeCodec-based mm_frame_sample.
    GQ("mm_frame_sample_real",
      Some("""WITH m AS (SELECT doc_id, doc_id % 24 + 1 AS nf
             |           FROM documents WHERE doc_id < 500)
             |SELECT doc_id AS media_id,
             |       CAST(unnest(generate_series(0, nf - 1, 6)) AS INTEGER) AS frame_idx
             |FROM m""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.syntheticGifTable(spark,
          Tables.documents(spark, dir).filter(col("doc_id") < 500), "doc_id")
        Multimodal.sampleFrames(spark, media, stride = 6,
            codec = Multimodal.ImageIoCodec)
          .select(col("mediaId").as("media_id"), col("frameIdx").as("frame_idx"))
      }),

    // ----- multimodal REAL audio codec (javax.sound.sampled) ----------------
    // Payloads are ACTUAL RIFF/WAVE containers encoded in-partition; sample
    // rate and frame count are pure arithmetic in the id, so the oracle
    // predicts the decoded header WITHOUT a decoder — a hash match proves
    // the true WAV encode→parse round-trip (format name, rate, channels,
    // frame count, floor-division duration).
    GQ("mm_audio_meta_real",
      Some("""SELECT doc_id AS media_id, 'wave' AS format,
             |  CAST(8000 * (doc_id % 3 + 1) AS INTEGER) AS sample_rate,
             |  1 AS channels,
             |  CAST(256 * (doc_id % 8 + 1) AS BIGINT) AS n_samples,
             |  CAST(256 * (doc_id % 8 + 1) * 1000 // (8000 * (doc_id % 3 + 1)) AS BIGINT)
             |    AS duration_ms
             |FROM documents WHERE doc_id < 1000""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.syntheticWavTable(spark,
          Tables.documents(spark, dir).filter(col("doc_id") < 1000), "doc_id")
        Multimodal.decodeAudioMeta(spark, media)
          .select(col("mediaId").as("media_id"), col("format"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("nSamples").as("n_samples"), col("durationMs").as("duration_ms"))
      }),

    // Features over the DECODED PCM: the sawtooth holds k = id%8+1 whole
    // 256-sample periods, so RMS (64*sqrt(5461.5), from Σv² over
    // -128..127 = 1,398,144), zero crossings (2k-1: one mid-period rise
    // per period + k-1 wrap-around falls), and peak (|-128·64| = 8192) are
    // closed forms — decoded-sample arithmetic must land exactly on them.
    GQ("mm_audio_features_real",
      Some("""SELECT doc_id AS media_id,
             |  round(64 * sqrt(5461.5), 4) AS rms,
             |  CAST(2 * (doc_id % 8 + 1) - 1 AS BIGINT) AS zero_crossings,
             |  8192 AS peak
             |FROM documents WHERE doc_id < 1000""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.syntheticWavTable(spark,
          Tables.documents(spark, dir).filter(col("doc_id") < 1000), "doc_id")
        Multimodal.audioFeatures(spark, media)
          .select(col("mediaId").as("media_id"),
            round(col("rms"), 4).as("rms"),
            col("zeroCrossings").as("zero_crossings"), col("peak"))
      }),

    // Features over DECODED PIXELS: striped PNGs whose strip grays rotate
    // (10,40,60,90) by id and always sum to 200, so each L1-normalized grid
    // feature is v/200 exactly at round 4 (float accumulation noise ≲1e-6 vs
    // a 5e-5 grid step — see syntheticStripeImageTable). The engine truly
    // decodes and bins pixels; the oracle is pure id arithmetic.
    GQ("mm_features_real",
      Some("""SELECT doc_id AS media_id, CAST(j AS INTEGER) AS strip,
             |  round(CASE (doc_id + j) % 4 WHEN 0 THEN 10 WHEN 1 THEN 40
             |             WHEN 2 THEN 60 ELSE 90 END / 200.0, 4) AS feat
             |FROM documents, (SELECT unnest(generate_series(0, 3)) AS j)
             |WHERE doc_id < 1000""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.syntheticStripeImageTable(spark,
          Tables.documents(spark, dir).filter(col("doc_id") < 1000), "doc_id")
        Multimodal.extractFeatures(spark, media, dim = 4,
            codec = Multimodal.ImageIoCodec).toDF()
          .select(col("mediaId").as("media_id"),
            posexplode(col("features")).as(Seq("strip", "f")))
          .select(col("media_id"), col("strip"),
            round(col("f").cast("double"), 4).as("feat"))
      }),

    // Perceptual image dedup over REAL decoded pixels: aHash bits from the
    // stripe images' luma profile (strip grays 10/40 fall under the 1/dim
    // mean, 60/90 over), SimHash banding + exact hamming verify on the
    // hashes. Stripe rotations differ by ≥4 bits, so maxHamming=3 keeps
    // EXACTLY the same-rotation pairs — id arithmetic the oracle states
    // without a decoder, like mm_features_real.
    GQ("mm_phash_dedup",
      Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
             |FROM d a JOIN d b
             |  ON a.doc_id % 4 = b.doc_id % 4 AND a.doc_id < b.doc_id""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.syntheticStripeImageTable(spark,
          Tables.documents(spark, dir).filter(col("doc_id") < 100), "doc_id")
        Multimodal.perceptualDupPairs(spark, media, dim = 8, maxHamming = 3,
            codec = Multimodal.ImageIoCodec)
          .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      }),

    // ----- skew: salted two-phase aggregate ----------------------------------
    // Oracle is the PLAIN group-by — the point is that the salted rewrite is
    // row-identical while bounding per-task hot-key volume.
    GQ("skew_salted_agg",
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 4) AS value_sum
             |FROM events GROUP BY event_type""".stripMargin),
      (spark, dir) =>
        Skew.saltedAggregate(Tables.events(spark, dir),
          keys = Seq("event_type"), discriminator = col("event_id"), buckets = 16,
          aggs = Seq(
            ("n", (c: org.apache.spark.sql.Column) => count(c),
                  (c: org.apache.spark.sql.Column) => sum(c)),
            ("value_sum", (c: org.apache.spark.sql.Column) => sum(c),
                          (c: org.apache.spark.sql.Column) => sum(c))),
          valueCols = Seq("event_id", "value"))
          .select(col("event_type"), col("n"),
            round(col("value_sum"), 4).as("value_sum"))
          ),

    // ----- skew: salted join -------------------------------------------------
    // Oracle is the PLAIN equi-join — the salted rewrite must be
    // row-identical while spreading each hot event_type key over 16 tasks.
    GQ("skew_salted_join",
      Some("""WITH t AS (SELECT event_type, count(*) AS type_n
             |           FROM events GROUP BY event_type)
             |SELECT e.event_id, e.event_type, t.type_n
             |FROM events e JOIN t USING (event_type)
             |""".stripMargin),
      (spark, dir) => {
        val events = Tables.events(spark, dir)
        val typeStats = events.groupBy("event_type")
          .agg(count(lit(1)).as("type_n"))
        Skew.saltedJoin(events.select("event_id", "event_type"), typeStats,
          usingCols = Seq("event_type"), discriminator = col("event_id"), buckets = 16)
          .select("event_id", "event_type", "type_n")
      }),

    // ----- multimodal resize — FakeCodec's clamp is pure byte-length
    // arithmetic (IEEE-identical LEAST/FLOOR on both engines), so the full
    // resize contract is oracle-gated; the REAL-codec twin is mm_resize_real.
    GQ("mm_resize",
      Some("""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n,
             |             octet_length(encode(text)) % 640 + 1 AS w,
             |             octet_length(encode(text)) % 480 + 1 AS h
             |           FROM documents),
             |s AS (SELECT doc_id, n, w, h,
             |        LEAST(1.0, 64.0 / w, 64.0 / h) AS sc FROM m)
             |SELECT doc_id AS mediaId,
             |  CAST(GREATEST(1, FLOOR(w * sc)) AS INTEGER) AS width,
             |  CAST(GREATEST(1, FLOOR(h * sc)) AS INTEGER) AS height,
             |  CAST(CASE WHEN n = 0 THEN 0
             |            ELSE GREATEST(1, FLOOR(n * sc * sc)) END AS BIGINT) AS nBytes
             |FROM s""".stripMargin),
      (spark, dir) => {
        val media = Multimodal.asMediaTable(Tables.documents(spark, dir), "doc_id", "text")
        Multimodal.resize(spark, media, maxW = 64, maxH = 64)
          .select("mediaId", "width", "height", "nBytes")
      }),

    // ----- text: term frequency (top bigrams corpus-wide) --------------------
    GQ("txt_top_bigrams",
      Some(topBigramsSql),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(explode(TextOps.shingles(col("text"), 2)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("gram").asc).limit(20)),

    // ----- text: approx top bigrams (Misra–Gries candidates + exact recount) -
    // The 100 TB shape for corpus-wide term stats: the exact path shuffles
    // every distinct gram; here a single freq_items_mg aggregate holds O(m)
    // state per partition, and only the <= m candidates are exactly
    // re-counted (broadcast semi-join). The MG guarantee (candidates ⊇ all
    // items with true count > N/m) makes the recounted top-20 EQUAL to the
    // exact top-20 whenever the 20th count clears N/m — on this corpus
    // N/m ≈ 130 at sf0.1 vs a 20th count of ~330 (and the vocabulary is
    // smaller than m, so the sketch is lossless outright) — hence the SAME
    // oracle as txt_top_bigrams. FreqItemsSpec proves the eviction/superset
    // behavior on adversarial vocabularies.
    GQ("txt_top_bigrams_approx",
      Some(topBigramsSql),
      (spark, dir) => {
        val grams = Tables.documents(spark, dir)
          .select(explode(TextOps.shingles(col("text"), 2)).as("gram"))
        val cands = grams
          .agg(graft.functions.FreqItems.freqItems(col("gram"), 2048).as("fi"))
          .select(explode(col("fi")).as("e")).select(col("e.item").as("gram"))
        grams.join(broadcast(cands), "gram")
          .groupBy("gram").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("gram").asc).limit(20)
      }),

    // ----- text: repeated-n-gram repetition signal (Gopher §A1.1) ------------
    // NULL (not 0) when the doc has fewer than n tokens — both engines agree.
    GQ("txt_repeated_ngrams",
      Some("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |g AS (SELECT doc_id,
             |        list_transform(generate_series(1, len(ts)-1), i -> ts[i] || ' ' || ts[i+1]) AS g2,
             |        list_transform(generate_series(1, len(ts)-2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS g3
             |      FROM tok)
             |SELECT doc_id,
             |  CASE WHEN len(g2) > 0 THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) END AS dup_2gram_frac,
             |  CASE WHEN len(g3) > 0 THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6) END AS dup_3gram_frac
             |FROM g""".stripMargin),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            round(TextOps.repeatedNgramFrac(col("text"), 2), 6).as("dup_2gram_frac"),
            round(TextOps.repeatedNgramFrac(col("text"), 3), 6).as("dup_3gram_frac"))
          ),

    // ----- text: per-doc top-3 terms by TF-IDF -------------------------------
    // Ranking is on the ROUNDED score in BOTH engines, so a 1-ulp ln()
    // difference cannot flip the window order.
    GQ("txt_tfidf_top_terms",
      Some("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |sc AS (SELECT doc_id, term,
             |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
             |       FROM tf JOIN dfreq USING (term) CROSS JOIN n)
             |SELECT doc_id, term, tfidf, rn AS rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |                               ORDER BY tfidf DESC, term) AS rn FROM sc)
             |WHERE rn <= 3""".stripMargin),
      (spark, dir) =>
        TextOps.tfidfTopTerms(Tables.documents(spark, dir), "doc_id", "text", k = 3)
          .select(col("doc_id"), col("term"), col("tfidf"), col("rank").cast("long").as("rank"))
          ),

    // ----- text: per-doc token entropy (low-entropy quality screen) ----------
    // H = log2(n) − Σ c·log2(c) / n over per-doc token counts: the identity
    // lets both engines compute entropy from two plain sums (explode → one
    // (doc,tok) count agg → one per-doc agg; no window, no O(n²) HOF).
    GQ("txt_word_entropy",
      Some("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
             |SELECT doc_id, round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy
             |FROM tf GROUP BY doc_id""".stripMargin),
      (spark, dir) =>
        TextOps.tokenEntropy(Tables.documents(spark, dir), "doc_id", "text")
          ),

    // ----- text: BM25 relevance top-k ----------------------------------------
    // Okapi BM25 (Lucene +1 idf) against a fixed query-term set; Spark
    // expression tree and this SQL are rendered from the SAME constants
    // (terms, k1, b) with the identical left-associative op sequence, so
    // the doubles agree to the last bit before the round(…,4) guard.
    GQ("txt_bm25_topk",
      Some(bm25OracleSql),
      (spark, dir) =>
        TextOps.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
          bm25Terms, k = 20, k1 = bm25K1, b = bm25B)
          ),

    // ----- strict ordered funnel (view → click → purchase) -------------------
    // Each step's completion is the EARLIEST event of that type strictly
    // after the previous step's completion; one min-aggregate per step over
    // a per-user relation that only shrinks down the funnel.
    GQ("funnel_steps",
      Some("""WITH e AS (SELECT user_id AS uid, event_type AS etype,
             |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |s1 AS (SELECT uid, min(us) AS t FROM e WHERE etype = 'view' GROUP BY 1),
             |s2 AS (SELECT e.uid, min(e.us) AS t FROM e JOIN s1 USING (uid)
             |       WHERE e.etype = 'click' AND e.us > s1.t GROUP BY 1),
             |s3 AS (SELECT e.uid, min(e.us) AS t FROM e JOIN s2 USING (uid)
             |       WHERE e.etype = 'purchase' AND e.us > s2.t GROUP BY 1)
             |SELECT * FROM (
             |  SELECT 1 AS step_idx, 'view' AS step, count(*) AS users FROM s1
             |  UNION ALL SELECT 2, 'click', count(*) FROM s2
             |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
             |""".stripMargin),
      (spark, dir) =>
        Sessionize.funnel(Tables.events(spark, dir), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
          ),

    // ----- per-group winsorization (clip to [p05, p95]) ----------------------
    // "Cap, don't drop": heavy tails pin to their group's exact-percentile
    // fences. Fences of 2-decimal inputs carry ≤4 decimals, so round(x·10⁴)/10⁴
    // is exact on both engines (no 5th-decimal halfway exists here).
    GQ("winsorize_clip",
      Some("""WITH f AS (SELECT l_returnflag AS rf,
             |    percentile_cont(0.05) WITHIN GROUP (ORDER BY l_extendedprice) AS lo,
             |    percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS hi
             |  FROM lineitem GROUP BY 1)
             |SELECT l_orderkey, l_linenumber, l_returnflag,
             |  round(least(greatest(l_extendedprice, lo), hi) * 10000) / 10000 AS price_w
             |FROM lineitem JOIN f ON l_returnflag = rf
             |""".stripMargin),
      (spark, dir) =>
        graft.ops.Outliers.winsorize(Tables.lineitem(spark, dir),
          Seq("l_returnflag"), "l_extendedprice", 0.05, 0.95)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            (round(col("l_extendedprice_w") * 10000) / 10000).as("price_w"))
          ),

    // ----- native session_window (batch form of the streaming operator) ------
    // Session boundaries are the same '> gap' islands as sessionize_stats
    // (Spark merges INCLUSIVELY at an exactly-gap-sized silence — pinned by
    // SessionizeTextSpec); what differs is the window shape: end_s is
    // last_event + gap (the window bound), not the last event itself.
    GQ("sw_native_session",
      Some(sessionIslandsSql),
      (spark, dir) =>
        Sessionize.nativeSessionStats(Tables.events(spark, dir), "user_id", "ts", "value",
          gapSeconds = 1800)
          .select("user_id", "n_events", "value_sum", "start_s", "end_s")
          ),

    // ----- text: context-window chunking (width 32, stride 16) ---------------
    GQ("txt_chunk_windows",
      Some("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |st AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts), 16)) AS start FROM tok)
             |SELECT doc_id, CAST((start - 1) // 16 AS BIGINT) AS chunk_idx,
             |       array_to_string(list_slice(ts, start, start + 31), ' ') AS chunk,
             |       CAST(len(list_slice(ts, start, start + 31)) AS BIGINT) AS n_tokens
             |FROM st""".stripMargin),
      (spark, dir) =>
        TextOps.chunkWindows(Tables.documents(spark, dir), "doc_id", "text",
          width = 32, stride = 16)
          ),

    // ----- text: top-2-gram character coverage (Gopher repetition battery) ---
    GQ("txt_top_ngram_frac",
      Some("""WITH tok AS (SELECT doc_id, length(text) AS n_chars,
             |               regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
             |g AS (SELECT doc_id, n_chars,
             |        unnest(list_transform(generate_series(1, len(ts)-1),
             |          i -> ts[i] || ' ' || ts[i+1])) AS gram
             |      FROM tok),
             |c AS (SELECT doc_id, n_chars, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
             |r AS (SELECT doc_id, round(CAST(c * length(gram) AS DOUBLE) / n_chars, 6) AS top_gram_char_frac,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
             |      FROM c)
             |SELECT d.doc_id, r.top_gram_char_frac
             |FROM documents d LEFT JOIN (SELECT * FROM r WHERE rn = 1) r ON d.doc_id = r.doc_id
             |""".stripMargin),
      (spark, dir) =>
        TextOps.topNgramCharFrac(Tables.documents(spark, dir), "doc_id", "text", n = 2)
          ),

    // ----- embeddings: L2 norm (gates the normF kernel directly) -------------
    GQ("emb_l2_norm",
      Some("""SELECT vec_id,
             |  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2
             |FROM embeddings""".stripMargin),
      (spark, dir) =>
        Tables.embeddings(spark, dir)
          .select(col("vec_id"),
            round(graft.functions.VectorFunctions.normF(col("embedding")), 6).as("l2"))
          ),

    // ----- blocked fuzzy-match join (edit distance) --------------------------
    // Record-linkage pattern: levenshtein only runs inside first-token
    // blocks PLUS a deletion-neighborhood (FastSS) secondary block that
    // recovers first-token-typo pairs (tokens within ~1 edit share a
    // deletion variant); candidate joins are plain hash equi-joins and the
    // O(len²) distance touches block-local pairs exactly once each.
    GQ("fuzzy_join_blocked",
      Some(fuzzyBlockedOracleSql()),
      (spark, dir) =>
        Dedup.fuzzyPairsBlocked(Tables.documents(spark, dir), "doc_id", "text",
          maxDist = 12, prefixLen = 40)
          ),

    // ----- optimizer-rule path: naive levenshtein rewritten to banded ---------
    // The SAME fuzzy join written the way a user would — an un-thresholded
    // `levenshtein(a, b) <= 12` predicate — with ThresholdedLevenshteinRule
    // registered. The rule must rewrite the predicate into Catalyst's banded
    // early-exit form (asserted on the optimized plan, every run), and the
    // result must hash-match the same DuckDB oracle as the hand-thresholded
    // operator: the rule is correctness-gated end-to-end, not just
    // plan-shape-tested. Runs on a 1/3 corpus slice: the naive spelling
    // deliberately has no Myers pre-filter, so its candidate DP cost is the
    // point of the REWRITE, not of the gate — the slice keeps the gate's
    // numerator budget (~0.5 s at sf0.1) while exercising the identical
    // rule path (the hand-thresholded operator stays gated on the full
    // corpus by fuzzy_join_blocked).
    GQ("j6_rule_rewritten_fuzzy",
      Some(fuzzyBlockedOracleSql(" WHERE doc_id % 3 = 0")),
      (spark, dir) => {
        graft.plans.ThresholdedLevenshteinRule.register(spark)
        try {
          val out = Dedup.fuzzyPairsBlockedNaive(
            Tables.documents(spark, dir).filter(col("doc_id") % 3 === 0),
            "doc_id", "text", maxDist = 12, prefixLen = 40)
          // assert on the expression tree, not the plan string (printing is
          // version-dependent); pushdown moves the predicate into join
          // conditions, so walk every node
          val opt = out.queryExecution.optimizedPlan
          val fired = opt.collect { case n => n.expressions }.flatten.exists(
            _.collect({
              case l: org.apache.spark.sql.catalyst.expressions.Levenshtein =>
                l.threshold.isDefined
            }).contains(true))
          require(fired,
            "ThresholdedLevenshteinRule must rewrite the naive predicate " +
              s"to the banded form; optimized plan was:\n$opt")
          out
        } finally {
          // the require above forced optimizedPlan (a lazy val), so `out`
          // keeps its rewritten plan; unregistering restores the shared
          // session's optimizer for every gate that runs after this one
          graft.plans.ThresholdedLevenshteinRule.unregister(spark)
        }
      }),

    // ----- per-source corpus curation report ---------------------------------
    // The daily data-curation dashboard: docs, tokens, exact-dup rate
    // (distinct fingerprints), mean length per source. Built as a TWO-LEVEL
    // aggregate — (source, fingerprint) partials, then per-source rollup —
    // so the distinct count never plans the multi-distinct Expand that
    // doubles every input row (the Profile.summarize discipline;
    // PlanCheckSpec asserts no Expand).
    GQ("corpus_report",
      Some("""WITH f AS (SELECT source,
             |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             |    len(regexp_split_to_array(trim(text), '\s+')) AS tc, n_chars
             |  FROM documents),
             |g AS (SELECT source, fp, count(*) AS c, CAST(sum(tc) AS BIGINT) AS t,
             |        CAST(sum(n_chars) AS BIGINT) AS ch
             |      FROM f GROUP BY 1, 2)
             |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
             |  CAST(sum(t) AS BIGINT) AS n_tokens,
             |  count(*) AS n_unique,
             |  round(CAST(sum(ch) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS avg_chars
             |FROM g GROUP BY source""".stripMargin),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("source"), TextOps.fingerprint(col("text")).as("fp"),
            TextOps.tokenCount(col("text")).as("tc"), col("n_chars"))
          .groupBy("source", "fp")
          .agg(count(lit(1)).as("c"), sum(col("tc")).cast("long").as("t"),
            sum(col("n_chars")).cast("long").as("ch"))
          .groupBy("source")
          .agg(sum(col("c")).cast("long").as("n_docs"),
            sum(col("t")).cast("long").as("n_tokens"),
            count(lit(1)).as("n_unique"),
            round(sum(col("ch")).cast("double") / sum(col("c")).cast("double"), 4)
              .as("avg_chars"))
          ),

    // ----- cohort retention triangle -----------------------------------------
    // Users cohort by the epoch-week of their first event; each cell counts
    // distinct users of the cohort active `offset` weeks later. Activity
    // pre-distincts to (user, week) before any join or count.
    GQ("cohort_retention",
      Some("""WITH e AS (SELECT DISTINCT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 604800 AS w FROM events),
             |c AS (SELECT user_id, min(w) AS cw FROM e GROUP BY 1)
             |SELECT c.cw AS cohort_week, e.w - c.cw AS week_offset,
             |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
             |FROM e JOIN c USING (user_id)
             |GROUP BY 1, 2""".stripMargin),
      (spark, dir) =>
        Sessionize.cohortRetention(Tables.events(spark, dir), "user_id", "ts")
          ),

    // ----- per-label embedding centroid --------------------------------------
    // Element-wise mean vector per label — the class-prototype / cluster-seed
    // aggregate every embedding pipeline runs. Emitted LONG (label, pos, m)
    // rather than as a reassembled array: array columns are unsortable in
    // the comparison harness (the emb_quantize_int8 lesson) and float→string
    // joining would couple the gate to engine number formatting.
    // Shape at 100 TB: posexplode → ONE (label,pos) aggregate — partial
    // map-side sums make the shuffle |labels|·dims rows, not |vectors|·dims.
    GQ("emb_group_centroid",
      Some("""SELECT label, i - 1 AS pos,
             |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
             |FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
             |GROUP BY 1, 2""".stripMargin),
      (spark, dir) =>
        Tables.embeddings(spark, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos").cast("long").as("pos"))
          .agg(round(avg(col("x")), 6).as("m"))
          ),

    // Integer-exact quantized Lloyd k-means: vectors on a fixed round(x·1000)
    // grid, exact BIGINT distances, (dist, cell)-lexicographic assignment,
    // (s − s%n)/n centroid updates — the clustering is bit-identical across
    // engines, so the gate hash-compares the full assignment (no recall
    // floor needed). Oracle unrolls the same 3 iterations as chained CTEs.
    GQ("emb_kmeans_lloyd",
      Some(graft.ext.KMeans.lloydOracleSql(k = 8, iterations = 3)),
      (spark, dir) =>
        graft.ext.KMeans.lloydQuantized(Tables.embeddings(spark, dir),
          "vec_id", "embedding", k = 8, iterations = 3)
          ),

    // ----- as-of (point-in-time) join ----------------------------------------
    // Each event picks up the customer's most recent order at-or-before the
    // event time (no future leakage). Right side deduped to one row per
    // (custkey, orderdate) so both engines choose the same match.
    GQ("asof_event_order",
      Some("""WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey, o_orderdate
             |                     ORDER BY o_orderkey DESC) AS rn FROM orders),
             |rr AS (SELECT * FROM r WHERE rn = 1)
             |SELECT e.event_id, e.user_id, rr.o_orderkey, rr.o_totalprice
             |FROM events e ASOF LEFT JOIN rr
             |  ON e.user_id = rr.o_custkey AND CAST(e.ts AS TIMESTAMP) >= rr.o_orderdate
             |""".stripMargin),
      (spark, dir) => {
        // the oracle's rn=1 dedup (keep max o_orderkey per (custkey, date))
        // rides the as-of carry window as a tie-break key — no separate
        // dedup shuffle + rank pass over orders
        graft.ops.AsOfJoin.asOf(
          Tables.events(spark, dir).select("event_id", "user_id", "ts"),
          Tables.orders(spark, dir),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightAttrs = Seq("o_orderkey", "o_totalprice"),
          rightTieBreak = Seq("o_orderkey"))
          .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      }),

    // FORWARD as-of: least right-time >= left-time (merge_asof
    // direction='forward') — same one-window machinery under a descending
    // scan; DuckDB's ASOF takes the <= condition natively.
    GQ("asof_forward",
      Some("""WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey, o_orderdate
             |                     ORDER BY o_orderkey DESC) AS rn FROM orders),
             |rr AS (SELECT * FROM r WHERE rn = 1)
             |SELECT e.event_id, e.user_id, rr.o_orderkey, rr.o_totalprice
             |FROM events e ASOF LEFT JOIN rr
             |  ON e.user_id = rr.o_custkey AND CAST(e.ts AS TIMESTAMP) <= rr.o_orderdate
             |""".stripMargin),
      (spark, dir) =>
        graft.ops.AsOfJoin.asOf(
          Tables.events(spark, dir).select("event_id", "user_id", "ts"),
          Tables.orders(spark, dir),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightAttrs = Seq("o_orderkey", "o_totalprice"),
          rightTieBreak = Seq("o_orderkey"), direction = "forward")
          .select("event_id", "user_id", "o_orderkey", "o_totalprice")),

    // NEAREST as-of: the temporally closer of the backward and forward
    // matches, exact-distance ties -> backward (merge_asof
    // direction='nearest'). Oracle: both ASOF directions joined back and
    // chosen per row with the same strict-< rule.
    GQ("asof_nearest",
      Some("""WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey, o_orderdate
             |                     ORDER BY o_orderkey DESC) AS rn FROM orders),
             |rr AS (SELECT * FROM r WHERE rn = 1),
             |b AS (SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
             |        rr.o_orderkey AS bk, rr.o_totalprice AS bp, rr.o_orderdate AS bt
             |      FROM events e ASOF LEFT JOIN rr
             |        ON e.user_id = rr.o_custkey AND CAST(e.ts AS TIMESTAMP) >= rr.o_orderdate),
             |f AS (SELECT e.event_id, rr.o_orderkey AS fk, rr.o_totalprice AS fp,
             |        rr.o_orderdate AS ft
             |      FROM events e ASOF LEFT JOIN rr
             |        ON e.user_id = rr.o_custkey AND CAST(e.ts AS TIMESTAMP) <= rr.o_orderdate)
             |SELECT b.event_id, b.user_id,
             |  CASE WHEN bk IS NULL THEN fk WHEN fk IS NULL THEN bk
             |       WHEN abs(epoch(ft) - epoch(ts)) < abs(epoch(ts) - epoch(bt)) THEN fk
             |       ELSE bk END AS o_orderkey,
             |  CASE WHEN bk IS NULL THEN fp WHEN fk IS NULL THEN bp
             |       WHEN abs(epoch(ft) - epoch(ts)) < abs(epoch(ts) - epoch(bt)) THEN fp
             |       ELSE bp END AS o_totalprice
             |FROM b JOIN f USING (event_id)
             |""".stripMargin),
      (spark, dir) =>
        graft.ops.AsOfJoin.asOf(
          Tables.events(spark, dir).select("event_id", "user_id", "ts"),
          Tables.orders(spark, dir),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightAttrs = Seq("o_orderkey", "o_totalprice"),
          rightTieBreak = Seq("o_orderkey"), direction = "nearest")
          .select("event_id", "user_id", "o_orderkey", "o_totalprice")),

    // ----- as-of join via the CUSTOM PHYSICAL OPERATOR -----------------------
    // Same query as asof_event_order, executed by AsOfMergeJoinExec (custom
    // LogicalPlan + Strategy + SparkPlan): children clustered on the key,
    // sorted (key, time), one-pass merge with O(1) carried state — no
    // union, no window. Must hash-match the identical DuckDB ASOF oracle.
    GQ("asof_event_order_merge",
      Some("""WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey, o_orderdate
             |                     ORDER BY o_orderkey DESC) AS rn FROM orders),
             |rr AS (SELECT * FROM r WHERE rn = 1)
             |SELECT e.event_id, e.user_id, rr.o_orderkey, rr.o_totalprice
             |FROM events e ASOF LEFT JOIN rr
             |  ON e.user_id = rr.o_custkey AND CAST(e.ts AS TIMESTAMP) >= rr.o_orderdate
             |""".stripMargin),
      (spark, dir) => {
        // the oracle's rn=1 dedup (max o_orderkey per (custkey, orderdate))
        // folds into the merge's own right-side sort via rightTieBreak —
        // the former separate dedupByKeyOrdered paid a full shuffle + rank
        // over orders before the join even started
        val orders = Tables.orders(spark, dir)
          .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        graft.plans.AsOfMergeJoin.asOf(
          Tables.events(spark, dir).select("event_id", "user_id", "ts"),
          orders,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightAttrs = Seq("o_orderkey", "o_totalprice"),
          rightTieBreak = Seq("o_orderkey"))
          .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      }),

    // ----- as-of join with tolerance (max staleness) -------------------------
    // Same backward as-of as asof_event_order, but a match older than 30
    // days is discarded (NULL attrs, like no-match) — the "stale quote is
    // no quote" contract. Zero extra shuffles: the matched row's time rides
    // in the carried struct and the bound is a post-carry column test.
    GQ("asof_tolerance",
      Some("""WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey, o_orderdate
             |                     ORDER BY o_orderkey DESC) AS rn FROM orders),
             |rr AS (SELECT * FROM r WHERE rn = 1),
             |m AS (SELECT e.event_id, e.user_id, rr.o_orderkey, rr.o_totalprice,
             |        epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(rr.o_orderdate) AS age_us
             |      FROM events e ASOF LEFT JOIN rr
             |        ON e.user_id = rr.o_custkey AND CAST(e.ts AS TIMESTAMP) >= rr.o_orderdate)
             |SELECT event_id, user_id,
             |  CASE WHEN age_us <= 2592000000000 THEN o_orderkey END AS o_orderkey,
             |  CASE WHEN age_us <= 2592000000000 THEN o_totalprice END AS o_totalprice
             |FROM m""".stripMargin),
      (spark, dir) => {
        // same tie-break fusion as asof_event_order: the rn=1 dedup rides
        // the carry window, tolerance stays a post-carry column test
        graft.ops.AsOfJoin.asOf(
          Tables.events(spark, dir).select("event_id", "user_id", "ts"),
          Tables.orders(spark, dir),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightAttrs = Seq("o_orderkey", "o_totalprice"),
          // o_orderdate reads as TIMESTAMP_NTZ; session TZ is UTC so the
          // cast to TIMESTAMP is identity and unix_micros applies
          tolerance = Some((lt, rt) =>
            unix_micros(lt.cast("timestamp")) - unix_micros(rt.cast("timestamp"))
              <= lit(2592000000000L)),
          rightTieBreak = Seq("o_orderkey"))
          .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      }),

    // ----- range join (point-in-interval, bucket-decomposed) -----------------
    // Each lineitem ship date finds every order (custkey < 50) whose 7-day
    // post-order window contains it. DuckDB plans the inequality join with
    // IEJoin; graft's bucket decomposition gets the same rows with two hash
    // shuffles — the 100 TB shape.
    GQ("range_point_in_interval",
      Some("""WITH iv AS (SELECT o_orderkey,
             |              datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo
             |            FROM orders WHERE o_custkey < 50)
             |SELECT l.l_orderkey, l.l_linenumber, iv.o_orderkey
             |FROM lineitem l JOIN iv
             |  ON datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) >= iv.lo
             | AND datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) < iv.lo + 7
             |WHERE l.l_partkey < 500
             |""".stripMargin),
      (spark, dir) => {
        val points = Tables.lineitem(spark, dir)
          .filter(col("l_partkey") < 500)
          .select(col("l_orderkey"), col("l_linenumber"),
            unix_date(to_date(col("l_shipdate"))).cast("long").as("p"))
        val intervals = Tables.orders(spark, dir)
          .filter(col("o_custkey") < 50)
          .select(col("o_orderkey"),
            unix_date(to_date(col("o_orderdate"))).cast("long").as("lo"))
          .withColumn("hi", col("lo") + 7)
        graft.ops.RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", width = 7)
          .select("l_orderkey", "l_linenumber", "o_orderkey")
      }),

    // ----- Unicode normalization (NFC / strip accents / case fold) ----------
    // The canonicalization pass multilingual dedup needs: visually equal
    // strings in precomposed vs combining form hash apart without NFC.
    // Inputs are CONSTRUCTED (the testdata corpus is ASCII, where these
    // ops are identity): Spark builds them from \u escapes, the oracle
    // from chr() codepoints — same logical strings, and the gate proves
    // the JDK Normalizer and DuckDB's utf8proc agree on precomposed,
    // combining-mark, undecomposable (ß, Ø) and mixed inputs.
    GQ("txt_normalize_unicode",
      Some("""WITH t(id, s) AS (VALUES
             | (CAST(1 AS BIGINT), 'caf' || chr(233)), (2, 'cafe' || chr(769)),
             | (3, 'n' || chr(771)), (4, chr(252)), (5, 'stra' || chr(223) || 'e'),
             | (6, chr(216)), (7, 'hello'), (8, ''),
             | (9, 'A' || chr(768) || 'B'), (10, chr(233) || 'e' || chr(769)))
             |SELECT id, nfc_normalize(s) AS nfc, strip_accents(s) AS stripped,
             |       lower(strip_accents(s)) AS folded FROM t""".stripMargin),
      (spark, dir) => {
        import graft.functions.UnicodeNorm.{nfc, stripAccents}
        // explicit \u escapes: rows 2/3/9/10 are the COMBINING-MARK forms
        // (U+0301 etc.) — the inputs NFC actually has to recompose; a
        // precomposed literal would make the normalization a no-op
        val rows = Seq(
          1L -> "caf\u00e9", 2L -> "cafe\u0301", 3L -> "n\u0303",
          4L -> "\u00fc", 5L -> "stra\u00dfe", 6L -> "\u00d8",
          7L -> "hello", 8L -> "", 9L -> "A\u0300B", 10L -> "\u00e9e\u0301")
        import spark.implicits._
        rows.toDF("id", "s")
          .select(col("id"), nfc(col("s")).as("nfc"),
            stripAccents(col("s")).as("stripped"),
            lower(stripAccents(col("s"))).as("folded"))
      }),

    // ----- BPE tokenizer training (Sennrich 2016) ----------------------------
    // Six greedy merge rounds over the word-frequency relation; the oracle
    // unrolls the SAME loop (Bpe.trainMergesOracleSql) — identical pair
    // counting, identical lexicographic tie-break, identical (tok)-wrapped
    // substring merges. The gate pins the learned merge TABLE itself.
    GQ("bpe_train_merges",
      Some(graft.ext.Bpe.trainMergesOracleSql(numMerges = 6)),
      (spark, dir) =>
        graft.ext.Bpe.trainMerges(spark, Tables.documents(spark, dir),
          "text", numMerges = 6)),

    // The inference half: train 4 rules, bake them into a scan-side
    // replace chain, count subword units per document. The oracle trains
    // with the same unrolled CTEs and encodes with the same chain — one
    // statement proves train AND apply end-to-end.
    GQ("bpe_encode",
      Some(graft.ext.Bpe.encodeCountsOracleSql(numMerges = 4)),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val rules = graft.ext.Bpe.trainMerges(spark, docs, "text", numMerges = 4)
          .orderBy("rank").select("pair")
          .collect().map(_.getString(0)).toSeq
        graft.ext.Bpe.encodeCounts(docs, "doc_id", "text", rules)
      }),

    // ----- graph: PageRank over the customer–supplier trade graph -----------
    // Symmetrized bipartite edges (supplier keys offset out of the customer
    // id space), 5 fixed iterations; the oracle unrolls the SAME iterations
    // as chained CTEs (PageRank.pageRankOracleSql) — one float formula,
    // both dialects. Symmetrization makes dangling mass exactly 0.0, so
    // the operator's full dangling-redistribution term is a bit-exact
    // no-op here while staying live for real directed graphs.
    // The offset is DERIVED (max(o_custkey)+1), not the historical literal
    // 100000: both engines compute it from the same relation, so node ids
    // stay hash-identical, and the gate is safe on ScaleCheck's tiled dirs
    // (whose custkeys exceed any sf0.1-era constant) — the generic
    // cold/warm tool (`ScaleCheck twice`) can now measure this family too.
    GQ("graph_pagerank",
      Some(graft.ext.PageRank.pageRankOracleSql(
        """SELECT o_custkey AS src, l_suppkey + (SELECT max(o_custkey) + 1 FROM orders) AS dst
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |UNION
          |SELECT l_suppkey + (SELECT max(o_custkey) + 1 FROM orders) AS src, o_custkey AS dst
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
        iterations = 5)),
      (spark, dir) => {
        // shuffle partitions sized to the DATA for the EAGER edge-prep
        // phase (distinct + deg aggregate + checkpoint materialization all
        // run inside pageRank before this fn returns): at sf0.1, 1.2 M
        // edges / 16 k nodes drown in 32-way task launches (5.6 s → 2.2 s
        // at 8 parts, same reasoning as the stream gates' state-store
        // sizing), while a 100× tile dir pinned at 8 measures spill + lost
        // parallelism instead of the algorithm (296 s pinned vs 32-part
        // data-sized, round 13). Sized from the lineitem parquet FOOTPRINT
        // (driver-side FS metadata, ~12.5 MB ≈ the 750 k-row task target —
        // no extra Spark job inside the timed body): sf0.1 → 8 (the
        // historical pin, so the 1×/10× growth series stays comparable),
        // 30× → 24, 100× → capped at one task wave (the session's core
        // count — 32 on the bench box). KNIFE-EDGE to
        // know about when reading a shifted series: the 10× point holds
        // the pin of 8 by a ~4 % byte margin only (sf0.1 lineitem
        // ≈ 10.8 MB → 10× tile ≈ 108 MB vs the 112.5 MB 9-part boundary);
        // a testdata drop with fatter compression crosses it silently, so
        // attribute any 10× pagerank shift to the partition bucket FIRST
        // (ScaleCheck's timings expose it as a step, not noise).
        val liPath = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
        val liBytes = liPath.getFileSystem(spark.sessionState.newHadoopConf())
          .getContentSummary(liPath).getLength
        val oneWave = spark.sparkContext.defaultParallelism.toLong
        withConfs(spark, "spark.sql.shuffle.partitions" ->
            math.max(8L, math.min(oneWave, liBytes / 12500000L)).toString) {
          val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
          // one tiny driver-side agg (single column of orders) — the cost
          // of the tiled-safe offset, paid identically by the oracle's
          // scalar subquery. cast("long") + null check = the FULL
          // keyStride discipline: an int32 o_custkey in a future drop must
          // widen, not ClassCastException on getLong
          val maxCust = ord.agg(max(col("o_custkey")).cast("long")).head
          // max over an empty table is NULL — fail with the actual problem
          // instead of a bare NullPointerException
          if (maxCust.isNullAt(0)) sys.error("graph_pagerank: empty orders table")
          val off = maxCust.getLong(0) + 1L
          val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
          val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          // distinct BEFORE symmetrizing: forward edges always have
          // src <= max(custkey) < off <= dst and reversed ones the
          // opposite, so the two sets are disjoint and their union needs
          // no second dedup — half the distinct shuffle (the oracle's
          // UNION dedups the same disjoint sets to the same rows)
          val fwd = joined.select(col("o_custkey").as("src"),
            (col("l_suppkey") + off).as("dst")).distinct()
          // symmetricHalf: the operator forms fwd ∪ reverse(fwd) itself
          // from the FROZEN half (src < off <= dst makes fwd disjoint from
          // its reverse, the flag's contract) — the eager edge checkpoint
          // materializes half the rows and the reversed half is a narrow
          // column swap over the same blocks (r19; was ~50% of the gate)
          graft.ext.PageRank.pageRank(fwd, iterations = 5, noDangling = true,
              symmetricHalf = true)
            .select(col("node"), round(col("rank"), 6).as("rank"))
        }
      }),

    // ----- technical indicators (the reference's stock-analytics domain) -----
    // All one window pass per (user, time) ordering. EMA/MACD are LEFT
    // FOLDS over a bounded trailing frame, rendered verbatim in both
    // dialects (Spark collect_list+aggregate ≡ DuckDB list+list_reduce) —
    // same float ops, same order, bit-identical before the display round.
    GQ("fin_ema",
      Some("""SELECT user_id, event_id,
             |  round(list_reduce(
             |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                      ROWS BETWEEN 29 PRECEDING AND CURRENT ROW),
             |    (acc, x) -> acc * 0.8 + x * 0.2), 6) AS ema
             |FROM events""".stripMargin),
      (spark, dir) =>
        TechIndicators.ema(Tables.events(spark, dir), "user_id",
            Seq("ts", "event_id"), "value", alpha = 0.2, span = 30)
          .select(col("user_id"), col("event_id"), round(col("ema"), 6).as("ema"))),

    GQ("fin_rsi",
      Some("""WITH d AS (
             |  SELECT user_id, event_id, ts,
             |    coalesce(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0) AS delta
             |  FROM events),
             |g AS (SELECT user_id, event_id, ts,
             |    avg(CASE WHEN delta > 0.0 THEN delta ELSE 0.0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ag,
             |    avg(CASE WHEN delta < 0.0 THEN -delta ELSE 0.0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS al
             |  FROM d)
             |SELECT user_id, event_id,
             |  round(CASE WHEN ag + al = 0.0 THEN NULL
             |             ELSE 100.0 * (ag / (ag + al)) END, 4) AS rsi
             |FROM g""".stripMargin),
      (spark, dir) =>
        TechIndicators.rsi(Tables.events(spark, dir), "user_id",
            Seq("ts", "event_id"), "value", period = 14)
          .select(col("user_id"), col("event_id"), round(col("rsi"), 4).as("rsi"))),

    GQ("fin_macd",
      Some("""WITH w AS (
             |  SELECT user_id, event_id,
             |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                      ROWS BETWEEN 35 PRECEDING AND CURRENT ROW) AS vf,
             |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                      ROWS BETWEEN 77 PRECEDING AND CURRENT ROW) AS vs
             |  FROM events)
             |SELECT user_id, event_id,
             |  round(list_reduce(vf, (acc, x) -> acc * (1.0 - 2.0/13.0) + x * (2.0/13.0))
             |      - list_reduce(vs, (acc, x) -> acc * (1.0 - 2.0/27.0) + x * (2.0/27.0)), 6) AS macd
             |FROM w""".stripMargin),
      (spark, dir) =>
        TechIndicators.macd(Tables.events(spark, dir), "user_id",
            Seq("ts", "event_id"), "value", fast = 12, slow = 26)
          .select(col("user_id"), col("event_id"), round(col("macd"), 6).as("macd"))),

    // mean/σ as left-fold Σx / Σx² over the collected frame (see
    // TechIndicators.bollinger): bit-identical across engines where the
    // built-in windowed avg/stddev re-associate differently. Display round
    // is 6, NOT 4: value is 2-decimal and frames hold ≤20 rows, so the
    // mean has ≤6 decimals — at round-4 a 5th-decimal 5 is an EXACT
    // midpoint and the engines' round() disagree there (Spark rounds the
    // shortest decimal rendering half-up, DuckDB rounds the binary value
    // — observed 45.75375 → 45.7538 vs 45.7537); at round-6 the mean sits
    // ON the grid and the σ terms are irrational, so no midpoints exist.
    GQ("fin_bollinger",
      Some("""WITH w AS (
             |  SELECT user_id, event_id,
             |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
             |  FROM events),
             |s AS (SELECT user_id, event_id,
             |    CAST(len(vals) AS DOUBLE) AS n,
             |    list_reduce(list_prepend(0.0, vals), (acc, x) -> acc + x) AS s1,
             |    list_reduce(list_prepend(0.0, vals), (acc, x) -> acc + x * x) AS s2
             |  FROM w),
             |b AS (SELECT user_id, event_id, s1 / n AS ma,
             |    CASE WHEN n < 2 THEN NULL ELSE
             |      sqrt(CASE WHEN (s2 - s1 * s1 / n) / (n - 1) < 0.0 THEN 0.0
             |                ELSE (s2 - s1 * s1 / n) / (n - 1) END) END AS sd
             |  FROM s)
             |SELECT user_id, event_id,
             |  round(ma, 6) AS bb_mid,
             |  round(ma + 2.0 * sd, 6) AS bb_up,
             |  round(ma - 2.0 * sd, 6) AS bb_dn
             |FROM b""".stripMargin),
      (spark, dir) =>
        TechIndicators.bollinger(Tables.events(spark, dir), "user_id",
            Seq("ts", "event_id"), "value", period = 20, k = 2.0)
          .select(col("user_id"), col("event_id"),
            round(col("bb_mid"), 6).as("bb_mid"),
            round(col("bb_up"), 6).as("bb_up"),
            round(col("bb_dn"), 6).as("bb_dn"))),

    GQ("fin_drawdown",
      Some("""WITH p AS (
             |  SELECT user_id, event_id, value,
             |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
             |  FROM events)
             |SELECT user_id, event_id,
             |  round(CASE WHEN peak = 0.0 THEN NULL
             |             ELSE (peak - value) / peak END, 6) AS drawdown
             |FROM p""".stripMargin),
      (spark, dir) =>
        TechIndicators.drawdown(Tables.events(spark, dir), "user_id",
            Seq("ts", "event_id"), "value")
          .select(col("user_id"), col("event_id"),
            round(col("drawdown"), 6).as("drawdown"))),

    // ----- moving window frame (§2b ranking/frames) --------------------------
    GQ("w2_moving_avg",
      Some("""SELECT o_custkey, o_orderkey,
             |       round(avg(o_totalprice) OVER (PARTITION BY o_custkey
             |             ORDER BY o_orderdate, o_orderkey
             |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
             |FROM orders""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-6, 0)
        Tables.orders(spark, dir)
          .withColumn("ma7", round(avg(col("o_totalprice")).over(w), 6))
          .select("o_custkey", "o_orderkey", "ma7")
      }),

    // NOTE: the stream-stream LEFT OUTER join (StreamOps.pairsWithinLeftOuter,
    // watermark-driven unmatched-row flush via the sentinel landing) is
    // asserted ≡ batch in StreamOpsSpec rather than registered here: its
    // bench cost is ~5 s of pure fixed micro-batch/landing overhead
    // regardless of data volume (measured at both 10% and 2% row scopes),
    // and five streaming gates already hold the micro-batch machinery under
    // the oracle. The INNER form (stream_stream_join) stays gated.

    // ----- per-source token-budget subsample: "2000 tokens per source",
    // docs taken in md5-order until the budget is spent (greedy, last doc
    // may overshoot — partial documents would change their content).
    GQ("mix_token_budget",
      Some(s"""WITH t AS (SELECT doc_id, source, len($duckTokens) AS n_tokens FROM documents),
              |c AS (SELECT doc_id, source, n_tokens,
              |        sum(n_tokens) OVER (PARTITION BY source
              |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum FROM t)
              |SELECT doc_id, source, n_tokens FROM c
              |WHERE cum - n_tokens < 2000""".stripMargin),
      (spark, dir) =>
        Sampling.tokenBudgetPerGroup(
            Tables.documents(spark, dir)
              .select(col("doc_id"), col("source"),
                TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
            "source", "doc_id", "n_tokens", budget = 2000L)
          .select("doc_id", "source", "n_tokens")
          ),

    // ----- RANGE window frame (value-based, not row-count): 30-day trailing
    // spend per customer — every order in the same window regardless of how
    // many rows share a date, which ROWS BETWEEN cannot express. Ordered on
    // epoch DAYS (numeric) so both engines frame identically.
    GQ("w5_range_frame",
      Some("""WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
             |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d FROM orders)
             |SELECT o_custkey, o_orderkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY d
             |        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 4) AS spend_30d
             |FROM o""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
          .rangeBetween(-30L, 0L)
        Tables.orders(spark, dir)
          .withColumn("d", expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"))
          .withColumn("spend_30d", round(sum(col("o_totalprice")).over(w), 4))
          .select("o_custkey", "o_orderkey", "spend_30d")
      }),

    // ----- vocabulary build + id encoding: the "tokenize to ids" stage of
    // an LM training pipeline. Ids dense by (global freq desc, term) — the
    // same rank both engines can compute — and each doc's id sequence is
    // reassembled in POSITION order (collect_list order alone is
    // partitioning luck) and emitted as a csv string, the flat packed
    // column a training exporter wants.
    GQ("txt_vocab_encode",
      Some(s"""WITH tok AS (SELECT doc_id, $duckTokens AS ts FROM documents),
              |pos AS (SELECT doc_id, unnest(ts) AS term,
              |        unnest(generate_series(1, len(ts))) AS pos FROM tok),
              |vc AS (SELECT term, count(*) AS n FROM pos GROUP BY term),
              |vid AS (SELECT term, row_number() OVER (ORDER BY n DESC, term) AS id FROM vc)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_csv
              |FROM pos JOIN vid USING (term)
              |GROUP BY doc_id""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        // shuffle join on the term: a broadcast vocab was A/B'd here and
        // LOST at bench scale (1.48 vs 1.07 s), see Vocab scaladoc
        Vocab.encode(docs, "doc_id", "text", Vocab.build(docs, "text"))
          .select(col("doc_id"), col("n_tokens"), col("ids_csv"))
      }),

    // ----- stream-stream interval join under the gate: per-user pairs of
    // events within 5 minutes, computed by TWO independent file-stream
    // readers over the same multi-drop landing, ONE file per trigger — so
    // left rows from drop 1 must pair with right rows from drop 2 and the
    // cross-micro-batch join state genuinely fires (a single-trigger run
    // would make that path vacuous). Wide watermark = no eviction during
    // the finite replay; a 24×7 deployment tightens it to bound state
    // (StreamOps.pairsWithin documents the shape).
    // Scoped to user_id % 4 = 0 (identically in the oracle): the gate's
    // value is cross-micro-batch pairing CORRECTNESS; per-row join
    // throughput is what the batch join/range/as-of gates measure, and the
    // stream's cost is dominated by fixed micro-batch machinery anyway.
    GQ("stream_stream_join",
      Some("""WITH e AS (SELECT user_id, event_id,
             |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
             |  WHERE user_id % 4 = 0)
             |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
             |FROM e a JOIN e b ON a.user_id = b.user_id
             |  AND b.us > a.us AND b.us <= a.us + 300000000
             |""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLanding(spark, dir)
        // asymmetric triggers: the LEFT side drips one file per trigger
        // (2 micro-batches), the right ingests everything in its first —
        // left batch-2 rows must still match right rows buffered from an
        // EARLIER trigger, so the cross-micro-batch state path fires with
        // half the trigger count (micro-batch fixed cost dominates this
        // finite replay)
        val left = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(1))
          .filter(col("user_id") % 4 === 0)
        val right = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(2))
          .filter(col("user_id") % 4 === 0)
        StreamOps.runToMemory(
          StreamOps.pairsWithin(left, right, withinSeconds = 300, watermark = "30 days"),
          "stream_stream_join_sink", OutputMode.Append())
        spark.table("stream_stream_join_sink").select("user_id", "a_id", "b_id")
      }),

    // Stream-stream LEFT OUTER join under the gate: the outer form needs the
    // WATERMARK PROOF the inner form doesn't — a left row NULL-extends only
    // once the watermark shows no matching right row can still arrive. The
    // sentinel landing's far-future drop provides that proof in a finite
    // replay (same end-of-stream flush pattern as the session gates), and
    // the unmatched rows emit in the trailing no-data batch. The sentinel
    // must SURVIVE the pre-join filter (it carries the watermark) and is
    // dropped from the output. Oracle: the equivalent batch LEFT JOIN.
    GQ("stream_stream_left_outer",
      Some("""WITH e AS (SELECT user_id, event_id,
             |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
             |  WHERE user_id % 8 = 0)
             |SELECT a.user_id, a.event_id AS a_id,
             |       coalesce(b.event_id, -1) AS b_id
             |FROM e a LEFT JOIN e b ON a.user_id = b.user_id
             |  AND b.us > a.us AND b.us <= a.us + 300000000
             |""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        import graft.streaming.StreamOps
        val landing = StreamOps.eventsLandingWithSentinel(spark, dir)
        // unmatched lefts flush in the batch AFTER the sentinel advanced
        // the watermark — that batch carries no data, so it must run
        withConfs(spark, noDataBatchesOn) {
          // ALL drops (base pair + sentinel) in ONE data trigger: the
          // watermark is computed at end-of-batch from the max event time
          // seen — sentinel included — so the unmatched-left flush still
          // happens in the trailing no-data batch. What THIS gate proves is
          // the watermark-proven NULL extension (cross-micro-batch pair
          // buffering is stream_stream_join's job), so the second data
          // trigger bought nothing but its ~0.6 s of machinery.
          def side() = StreamOps
            .readEventStream(spark, landing)
            .filter(col("user_id") % 8 === 0 ||
              col("user_id") === StreamOps.SentinelUser)
          StreamOps.runToMemory(
            StreamOps.pairsWithinLeftOuter(side(), side(), withinSeconds = 300),
            "stream_stream_left_outer_sink", OutputMode.Append())
        }
        spark.table("stream_stream_left_outer_sink")
          .filter(col("user_id") =!= StreamOps.SentinelUser)
          .select("user_id", "a_id", "b_id")
      }),
  )
}
