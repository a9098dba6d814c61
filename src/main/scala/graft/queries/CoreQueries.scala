package graft.queries

import org.apache.spark.sql.{DataFrame, Freeze, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Posture.withConfs
import graft.Tables
import graft.ops._

/** One registry entry: a Spark query over the testdata dir plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL the driver hash-compares
  * against. Column names/aliases MUST match between the two — the driver
  * sorts columns by name before hashing. Row ORDER is immaterial: the driver
  * also sorts rows by every column before comparing (tools/selfcheck.py
  * mirrors it), so gates carry NO presentation ORDER BY — a global sort costs
  * an exchange plus a range-sampling pass that re-executes the child plan,
  * measured 0.3-0.8 s per gate at sf0.1 (p1 1.12→0.32 s). Sorts remain only
  * where they are semantics (ORDER BY … LIMIT k top-k selection).
  */
final case class GQ(name: String, oracle: Option[String], run: (SparkSession, String) => DataFrame)

/** Queries covering the reference's own operator inventory (SURVEY.md §2a).
  *
  * Determinism rules applied throughout (SURVEY.md §7 "hard parts"):
  *  - any float produced by re-associated arithmetic (sum/avg across rows) is
  *    `round`ed identically on both sides; single-expression row arithmetic
  *    (`a * (1 - b)`) is bit-exact across engines and left unrounded;
  *  - timestamps are projected as DATE or formatted strings (events.ts is
  *    nanosecond-precision parquet; Spark truncates to micros on read);
  *  - the only ORDER BYs left are top-k selections (ORDER BY … LIMIT k),
  *    kept total orders on non-null keys (Spark defaults to NULLS FIRST,
  *    DuckDB to NULLS LAST — avoided entirely).
  */
object CoreQueries {

  /** Write-once cache for j3's co-bucketed table pair (the operator's cost
    * model IS write-once-join-many: the bucketed layout is paid at ingest,
    * every later join is exchange-free). Returns the two catalog table
    * names; per (JVM, dir) the bucketed write happens exactly once.
    * Bench pre-builds this during warm-up so the timed gate measures the
    * steady-state join; Verify pays the one-time write honestly.
    */
  private val bucketedPair = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  def ensureBucketedPair(spark: SparkSession, dir: String): (String, String) = {
    // canonical path as the cache key, Scratch.pathTag as the table-name
    // tag: two spellings of one directory must share an entry, and two
    // different directories must never share table names (pathTag's md5
    // prefix carries the collision-resistance argument)
    val canonical = new java.io.File(dir).getCanonicalPath
    bucketedPair.getOrElseUpdate(canonical, {
      val tag = graft.Scratch.pathTag(canonical)
      // the database and both tables are located in scratch, not under the
      // warehouse dir, so nothing the pair writes outlives the JVM
      val loc = graft.Scratch.dir("bkt_pair", canonical)
      val db = "bkt_gate"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      val li = s"li_$tag"; val o = s"o_$tag"
      graft.io.ParquetIO.writeBucketed(
        Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity"),
        db, li, s"$loc/$li", Seq("l_orderkey"), 8)
      graft.io.ParquetIO.writeBucketed(
        Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
          .withColumnRenamed("o_orderkey", "l_orderkey"),
        db, o, s"$loc/$o", Seq("l_orderkey"), 8)
      (s"$db.$li", s"$db.$o")
    })
  }

  /** Pin a DataFrame's physical plan while `confs` are set (forcing the lazy
    * `executedPlan` caches it on the Dataset's QueryExecution — later
    * materialization by Bench reuses it), run `check` against the plan
    * string, then restore every conf. */
  private def withPinnedPlan(spark: SparkSession, confs: (String, String)*)
                            (mk: => DataFrame)(check: String => Unit): DataFrame =
    withConfs(spark, confs: _*) {
      val df = mk
      check(df.queryExecution.executedPlan.toString)
      df
    }

  // shared by rank_top_per_group (window form) and rank_top_per_group_agg
  // (bounded-heap aggregate form): both must produce the identical rows
  private val topPerGroupSql =
    """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |         row_number() OVER (PARTITION BY p_brand
      |                            ORDER BY p_retailprice DESC, p_partkey) AS rn
      |  FROM part) WHERE rn <= 3
      |""".stripMargin

  def all: Seq[GQ] = Seq(

    // ----- S1: in-memory localized dimension source --------------------------
    // Reference: extract_stocks_job.py:64-74 (_create_stock_mapping).
    // The oracle VALUES are rendered from the same Model.stockDim rows.
    GQ("s1_inline_dim", {
      def q(s: String) = "'" + s.replace("'", "''") + "'"
      val values = graft.pipeline.Model.stockDim
        .map { case (s, t, c) => s"(${q(s)},${q(t)},${q(c)})" }.mkString(",\n")
      Some(s"SELECT * FROM (VALUES\n$values\n) AS t(sector, ticker, company)")
    },
      (spark, _) => {
        import spark.implicits._
        graft.pipeline.Model.stockDim.toDF("sector", "ticker", "company")
      }),

    // ----- S2 at the 100 TB shape: DataSourceV2 quote scan -------------------
    // One input partition per ticker, fetched + parsed on EXECUTORS (the
    // DSv2 replacement for the reference's driver-side yfinance loop,
    // SURVEY §3 E3). Hermetic transport serves deterministic v8 chart JSON;
    // the oracle VALUES are generated from the SAME row definition
    // (SyntheticTransport.rowsFor) so JSON, parser, and gate cannot drift.
    GQ("s2_dsv2_quotes", {
      val rows = Seq("SYN1", "SYN2", "SYN3")
        .flatMap(graft.sources.SyntheticTransport.rowsFor)
      def n(o: Option[Double]) = o.fold("NULL")(_.toString)
      val values = rows.map { case (d, t, close, vol) =>
        s"('$d','$t',${n(close)},${n(close.map(_ + 0.5))},${n(close.map(_ - 0.5))}," +
          s"${n(close)},${vol.get})"
      }.mkString(",\n")
      Some(s"""SELECT "Date", "Ticker",
              |  CAST("Close" AS DOUBLE) AS "Close", CAST("High" AS DOUBLE) AS "High",
              |  CAST("Low" AS DOUBLE) AS "Low", CAST("Open" AS DOUBLE) AS "Open",
              |  CAST("Volume" AS BIGINT) AS "Volume"
              |FROM (VALUES
              |$values
              |) t("Date", "Ticker", "Close", "High", "Low", "Open", "Volume")
              |ORDER BY "Ticker", "Volume"""".stripMargin)
    },
      (spark, _) =>
        spark.read.format("graft-quotes")
          .option("tickers", "SYN1,SYN2,SYN3")
          .option("transport", classOf[graft.sources.SyntheticTransport].getName)
          .load()
          ),

    // ----- S4: partition-pruned parquet scan ---------------------------------
    // Reference reads one dataproc=<date>/ dir (transform_stocks_job.py:115);
    // here the date predicate reaches the scan as a pushed filter instead.
    GQ("s4_pruned_scan",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |       CAST(l_shipdate AS DATE) AS ship_date
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-03-01'
             |  AND l_shipdate <  TIMESTAMP '1995-04-01'
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        Tables.lineitem(spark, dir)
          .filter($"l_shipdate" >= "1995-03-01" && $"l_shipdate" < "1995-04-01")
          .select($"l_orderkey", $"l_linenumber", $"l_quantity",
            to_date($"l_shipdate").as("ship_date"))
      }),

    // ----- S6: unpivot wide→long ---------------------------------------------
    // Reference: pandas stack() (extract_stocks_job.py:99-102); Spark-native
    // df.unpivot keeps it distributed.
    GQ("s6_unpivot",
      Some("""SELECT l_orderkey, l_linenumber, metric, value FROM (
             |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem WHERE l_orderkey < 100
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem WHERE l_orderkey < 100
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem WHERE l_orderkey < 100
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem WHERE l_orderkey < 100
             |)""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        Tables.lineitem(spark, dir)
          .filter($"l_orderkey" < 100)
          .unpivot(
            ids = Array($"l_orderkey", $"l_linenumber"),
            values = Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
            variableColumnName = "metric",
            valueColumnName = "value")
      }),

    // ----- P1: NaN→NULL conditional cast projection --------------------------
    GQ("p1_nan_null_cast",
      Some("""SELECT l_orderkey, l_linenumber,
             |  CASE WHEN l_quantity IS NOT NULL AND NOT isnan(l_quantity)
             |       THEN l_quantity END AS l_quantity,
             |  CASE WHEN l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
             |       THEN l_extendedprice END AS l_extendedprice
             |FROM lineitem""".stripMargin),
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        CleanOps.nanSafeCast(li, Seq(
          "l_orderkey" -> LongType, "l_linenumber" -> IntegerType,
          "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType))
      }),

    // ----- P2: bulk rename ---------------------------------------------------
    GQ("p2_rename_bulk",
      Some("""SELECT l_orderkey AS chave_pedido, l_linenumber AS numero_linha,
             |       l_quantity AS quantidade, l_extendedprice AS preco
             |FROM lineitem""".stripMargin),
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        CleanOps.renameAll(li, Map(
          "l_orderkey" -> "chave_pedido", "l_linenumber" -> "numero_linha",
          "l_quantity" -> "quantidade", "l_extendedprice" -> "preco"))
      }),

    // ----- P3: literal partition-tag column ----------------------------------
    GQ("p3_lit_column",
      Some("""SELECT r_regionkey, r_name, '20260812' AS dataproc
             |FROM region""".stripMargin),
      (spark, dir) =>
        CleanOps.withProcessDate(Tables.region(spark, dir), "20260812")
          ),

    // ----- P4+P5: cast cleanup + conjunctive validity filter -----------------
    GQ("p4_p5_cast_filter",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             |       CAST(l_shipdate AS DATE) AS ship_date
             |FROM lineitem
             |WHERE l_quantity > 0 AND l_extendedprice > 0 AND l_shipdate IS NOT NULL
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val li = Tables.lineitem(spark, dir)
          .withColumn("ship_date", to_date($"l_shipdate"))
        CleanOps.filterValid(li, Seq(
          $"l_quantity" > 0, $"l_extendedprice" > 0, $"ship_date".isNotNull))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "ship_date")
      }),

    // ----- P6: same-day equality filter --------------------------------------
    // News kept only when published_date == extracted_date; analog: lineitems
    // shipped the same day the order was placed.
    GQ("p6_same_day_filter",
      Some("""SELECT l.l_orderkey, l.l_linenumber, CAST(l.l_shipdate AS DATE) AS ship_date
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |WHERE CAST(l.l_shipdate AS DATE) IS NOT NULL
             |  AND CAST(o.o_orderdate AS DATE) IS NOT NULL
             |  AND CAST(l.l_shipdate AS DATE) = CAST(o.o_orderdate AS DATE)
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val li = Tables.lineitem(spark, dir)
        val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
        val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        CleanOps.sameDayFilter(joined, to_date($"l_shipdate"), to_date($"o_orderdate"))
          .select($"l_orderkey", $"l_linenumber", to_date($"l_shipdate").as("ship_date"))
      }),

    // ----- P8: regex truncation of ISO timestamp to date part ----------------
    GQ("p8_regex_truncate",
      Some("""SELECT regexp_replace(strftime(ts, '%Y-%m-%dT%H:%M:%S'), 'T.*', '') AS day,
             |       count(*) AS n
             |FROM events GROUP BY day""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val ev = Tables.events(spark, dir)
          .withColumn("iso", date_format($"ts", "yyyy-MM-dd'T'HH:mm:ss"))
        CleanOps.truncateIsoToDate(ev, "iso", "day")
          .groupBy("day").agg(count(lit(1)).as("n"))
      }),

    // ----- P10: null/NaN-drop on subset --------------------------------------
    GQ("p10_na_drop",
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND value IS NOT NULL AND NOT isnan(value)
             |""".stripMargin),
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select("event_id", "user_id", "event_type", "value")
        CleanOps.dropNullsIn(ev, Seq("user_id", "event_type", "value", "not_a_column"))
      }),

    // ----- P11: dynamic schema normalization ---------------------------------
    // Misname the incoming columns, drop one, and let SchemaOps recover the
    // canonical schema (transform_news_job.py:42-84 semantics).
    GQ("p11_schema_normalize",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
             |       CAST(NULL AS DOUBLE) AS l_tax
             |FROM lineitem""".stripMargin),
      (spark, dir) => {
        val messy = Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
          .withColumnsRenamed(Map(
            "l_orderkey" -> "L_Order_Key", "l_linenumber" -> "LLINENUMBER",
            "l_quantity" -> "l_quantity ", "l_returnflag" -> " L_RETURN_FLAG"))
        SchemaOps.normalizeColumns(messy, Seq(
          "l_orderkey" -> LongType, "l_linenumber" -> IntegerType,
          "l_quantity" -> DoubleType, "l_returnflag" -> StringType,
          "l_tax" -> DoubleType))
      }),

    // P11b — the reference's substring-containment fallback
    // (transform_news_job.py:66-71): `published_time_utc`-style suffixed
    // names normalize onto the expected column; `l_returnflag` exercises the
    // exact path in the same run so both passes are gated together.
    GQ("p11b_schema_fuzzy",
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate, l_returnflag,
             |       CAST(NULL AS VARCHAR) AS l_comment
             |FROM lineitem""".stripMargin),
      (spark, dir) => {
        val messy = Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag")
          .withColumnsRenamed(Map(
            "l_orderkey" -> "L_Order_Key_ID", "l_linenumber" -> "l_linenumber_seq",
            "l_shipdate" -> "L_Ship_Date_UTC", "l_returnflag" -> "l_return_flag"))
        SchemaOps.normalizeColumns(messy, Seq(
          "l_orderkey" -> LongType, "l_linenumber" -> IntegerType,
          "l_shipdate" -> DateType, "l_returnflag" -> StringType,
          "l_comment" -> StringType))
      }),

    // ----- P12: arithmetic projection ----------------------------------------
    // Single-expression row arithmetic — bit-identical across engines.
    GQ("p12_arithmetic",
      Some("""SELECT l_orderkey, l_linenumber,
             |       l_extendedprice * (1 - l_discount) AS revenue
             |FROM lineitem""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        Tables.lineitem(spark, dir)
          .select($"l_orderkey", $"l_linenumber",
            ($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
      }),

    // ----- P13: string sanitize ----------------------------------------------
    GQ("p13_sanitize",
      Some("""SELECT doc_id, md5(trim(text)) AS fp FROM documents""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        CleanOps.sanitize(Tables.documents(spark, dir), "text")
          .select($"doc_id", md5($"text".cast(BinaryType)).as("fp"))
      }),

    // ----- J1: broadcast dim enrichment join ---------------------------------
    GQ("j1_dim_enrich_join",
      Some("""SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
             |FROM customer c
             |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
             |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
             |""".stripMargin),
      (spark, dir) => {
        val c = Tables.customer(spark, dir)
          .withColumnRenamed("c_nationkey", "n_nationkey")
        val n = Tables.nation(spark, dir)
        val r = Tables.region(spark, dir)
          .withColumnRenamed("r_regionkey", "n_regionkey")
        JoinOps.enrichWithDim(JoinOps.enrichWithDim(c, n, Seq("n_nationkey")), r, Seq("n_regionkey"))
          .select("c_custkey", "c_name", "n_name", "r_name")
      }),

    // ----- J3: co-located BUCKETED join (zero exchanges) ---------------------
    // Both sides bucketed+sorted on the key at write time, so the fact-fact
    // join plans with NO Exchange — asserted on the pinned plan inside the
    // gate (broadcast forced off: at real fact-fact scale neither side
    // broadcasts, which is exactly when bucketing pays). Oracle: the plain
    // join — bucketing must be invisible in the rows.
    GQ("j3_bucketed_join",
      Some("""SELECT l_orderkey % 16 AS grp, count(*) AS n,
             |       CAST(sum(l_quantity) AS BIGINT) AS qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1""".stripMargin),
      (spark, dir) => {
        val (liT, oT) = ensureBucketedPair(spark, dir)
        withPinnedPlan(spark,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
          spark.table(liT).join(spark.table(oT), "l_orderkey")
            .groupBy((col("l_orderkey") % 16).as("grp"))
            .agg(count(lit(1)).as("n"),
              sum(col("l_quantity")).cast("long").as("qty"))
        } { plan =>
          // exactly ONE exchange in the whole plan — the final agg's
          // hashpartitioning(grp). A second Exchange (or any broadcast)
          // means a join side lost its bucketed layout and shuffled.
          // (The previous form sliced the text ABOVE the final
          // HashAggregate, which never contains the join subtree — the
          // assertion could not fail.)
          val finalPlan = plan.split("== Initial Plan ==")(0)
          val exchanges = finalPlan.linesIterator.count(_.contains("Exchange"))
          require(exchanges == 1,
            s"co-bucketed join must not shuffle (expected only the agg exchange, saw $exchanges):\n$plan")
          require(finalPlan.contains("Bucketed: true"), s"bucketed scan not used:\n$plan")
        }
      }),

    // ----- J4: runtime BLOOM-FILTER join pruning ------------------------------
    // Catalyst builds a bloom filter from the selective dim side and injects
    // it into the fact scan, so most probe rows die before the exchange —
    // at 100 TB the difference between shuffling the whole fact table and
    // the ~fraction that can match. Thresholds pinned to fixture scale
    // (the defaults target 10 GB probe scans); might_contain asserted on
    // the pinned plan. Oracle: the plain filtered join — the bloom filter
    // must be lossless (it only prunes rows that provably cannot match).
    GQ("j4_bloom_pruned_join",
      Some("""SELECT l_returnflag, count(*) AS n,
             |       CAST(sum(l_quantity) AS BIGINT) AS qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY 1""".stripMargin),
      (spark, dir) =>
        withPinnedPlan(spark,
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
          val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity", "l_returnflag")
          val sel = Tables.orders(spark, dir)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select("o_orderkey")
          li.join(sel, col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n"),
              sum(col("l_quantity")).cast("long").as("qty"))
        } { plan =>
          require(plan.contains("might_contain"),
            s"expected an injected runtime bloom filter on the probe side:\n$plan")
        }),

    // ----- J2 (+A1): per-group aggregates attached to detail rows ------------
    // Window form: one shuffle instead of the reference's agg + join-back two.
    GQ("j2_agg_join_back",
      Some("""SELECT s_suppkey, s_nationkey,
             |       round(avg(s_acctbal) OVER (PARTITION BY s_nationkey), 6) AS nation_avg_bal,
             |       count(*) OVER (PARTITION BY s_nationkey) AS nation_cnt
             |FROM supplier""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        JoinOps.withGroupAggregates(Tables.supplier(spark, dir), Seq("s_nationkey"), Seq(
          "nation_avg_bal" -> avg($"s_acctbal"),
          "nation_cnt" -> count(lit(1))))
          .select($"s_suppkey", $"s_nationkey",
            round($"nation_avg_bal", 6).as("nation_avg_bal"), $"nation_cnt")
      }),

    // ----- A1: group-by hash aggregate (TPC-H Q1 shape) ----------------------
    GQ("a1_groupby_agg",
      Some("""SELECT l_returnflag, l_linestatus,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price,
             |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |       round(avg(l_quantity), 6) AS avg_qty,
             |       count(*) AS n
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        AggOps.groupAgg(Tables.lineitem(spark, dir), Seq("l_returnflag", "l_linestatus"), Seq(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_price"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
          round(avg($"l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("n")))
      }),

    // ----- A2/A3: global count -----------------------------------------------
    GQ("a2_count_star",
      Some("SELECT count(*) AS n_rows FROM lineitem"),
      (spark, dir) => Tables.lineitem(spark, dir).agg(count(lit(1)).as("n_rows"))),

    // ----- A3/E2/S5: the SQL entry path over a registered view ---------------
    // The reference's Athena preview queries (queries.sql) and catalog scans
    // run as spark.sql text; this exercises parse→analyze→optimize on the
    // same engine surface.
    GQ("a3_sql_entry",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |       round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY o_orderpriority""".stripMargin),
      (spark, dir) => {
        Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
        spark.sql(
          """SELECT o_orderpriority, count(*) AS n,
            |       round(sum(o_totalprice), 2) AS total
            |FROM orders_v GROUP BY o_orderpriority""".stripMargin)
      }),

    // ----- K1 sink: partitioned write → read-back round trip -----------------
    // Writes through the real partitioned-parquet sink, reads the directory
    // back, aggregates per partition value — sink fidelity inside the oracle
    // gate (partition column round-trips as its string directory value).
    GQ("k1_write_roundtrip",
      Some("""SELECT l_returnflag, count(*) AS n FROM lineitem
             |GROUP BY l_returnflag""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val out = graft.Scratch.dir("k1_roundtrip", dir)
        // route each partition value to ONE task before the write: a naive
        // partitionBy from 32 upstream tasks commits 3×32 tiny files (one
        // narrow-row shuffle buys a 32× smaller commit)
        graft.io.ParquetIO.writePartitioned(
          Tables.lineitem(spark, dir).select("l_orderkey", "l_returnflag")
            .repartition(col("l_returnflag")),
          out, Seq("l_returnflag"))
        spark.read.parquet(out)
          .groupBy($"l_returnflag".cast("string").as("l_returnflag"))
          .agg(count(lit(1)).as("n"))
      }),

    // K2 — TWO-LEVEL partitioned write (dataproc=*/setor=* — the reference's
    // refined-stocks layout) through the same sink, read back and
    // aggregated per (dataproc, setor) leaf: both partition columns must
    // round-trip through their directory encoding, and every leaf count
    // must match the source. The physical nesting itself (setor dirs under
    // the dataproc dir) is GoldenPipelineSpec's assertion.
    GQ("k2_two_level_write",
      Some("""SELECT '2024-01-15' AS dataproc, o_orderpriority AS setor,
             |       count(*) AS n
             |FROM orders GROUP BY setor""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val out = graft.Scratch.dir("k2_roundtrip", dir)
        graft.io.ParquetIO.writePartitioned(
          Tables.orders(spark, dir)
            .select(col("o_orderkey"),
              col("o_orderpriority").as("setor"))
            .withColumn("dataproc", lit("2024-01-15"))
            .repartition(col("dataproc"), col("setor")),
          out, Seq("dataproc", "setor"))
        spark.read.parquet(out)
          .groupBy($"dataproc".cast("string").as("dataproc"),
            $"setor".cast("string").as("setor"))
          .agg(count(lit(1)).as("n"))
      }),

    // K3 — catalog-mediated write: external partitioned table registered in
    // the catalog, rows inserted THROUGH the table (insertInto, the same
    // insert every pipeline write uses), scanned back via the catalog (S5).
    // Fresh location + drop/recreate so every run starts from an empty table.
    GQ("k3_catalog_write",
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      (spark, dir) => {
        import graft.io.Catalog
        val db = "graft_k3_db"
        val table = "orders_by_status"
        // location is unique PER INVOCATION: the session FileStatusCache
        // remembers the previous run's file listing for a reused path, and
        // a delete+recreate at the same location makes the next insertInto
        // plan against phantom files (FileNotFoundException when the same
        // JVM runs this gate twice — warm-up + measured run)
        val loc = graft.Scratch.fresh("k3")
        Catalog.ensureDatabase(spark, db)
        Catalog.dropTable(spark, db, table)
        Catalog.createExternalTable(spark, db, table,
          StructType(Seq(StructField("o_orderkey", LongType),
            StructField("o_totalprice", DoubleType))),
          partitions = Seq("o_orderstatus" -> "STRING"), location = loc)
        Catalog.appendToTable(
          Tables.orders(spark, dir).select("o_orderkey", "o_totalprice", "o_orderstatus"),
          db, table)
        Catalog.readTable(spark, db, table)
          .groupBy(col("o_orderstatus").cast("string").as("o_orderstatus"))
          // decimal sum: money totals at 1e9 magnitude would flunk the hash
          // gate on double re-association; decimal is exact on both engines
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
      }),

    // ----- A4: full-row distinct ---------------------------------------------
    GQ("a4_distinct",
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |""".stripMargin),
      (spark, dir) =>
        AggOps.distinctRows(Tables.lineitem(spark, dir).select("l_returnflag", "l_linestatus"))
          ),

    // ----- A5: keyed dedup, deterministic survivor ---------------------------
    GQ("a5_keyed_dedup",
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date
             |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
             |                                   ORDER BY o_orderdate, o_orderkey) AS rn
             |      FROM orders) WHERE rn = 1
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        AggOps.dedupByKeyOrdered(Tables.orders(spark, dir),
          Seq("o_custkey"), Seq($"o_orderdate".asc, $"o_orderkey".asc))
          .select($"o_custkey", $"o_orderkey", to_date($"o_orderdate").as("order_date"))
      }),

    // ----- A6-A8: multi-level aggregation (ROLLUP / CUBE / GROUPING SETS) ----
    // Grouping keys are NULL-free in TPC-H, so the subtotal rows' NULLs can
    // be coalesced to an 'ALL' label and the output keeps a total, NULL-free
    // ORDER BY (sidestepping Spark NULLS FIRST vs DuckDB NULLS LAST).
    // sum(l_quantity) values are integral doubles — round(4) is belt and
    // braces for re-association.
    GQ("a6_rollup",
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             |  CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 4) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |""".stripMargin),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("n"), col("sum_qty"))
          ),

    // o_totalprice carries exactly 2 decimals, so the re-associated sum has
    // no sub-cent digits and round(2) is stable.
    GQ("a7_cube",
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS st, coalesce(o_orderpriority, 'ALL') AS pri,
             |  CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |""".stripMargin),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
            col("n"), col("sum_price"))
          ),

    GQ("a8_grouping_sets",
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
             |""".stripMargin),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"))
          ),

    // ----- J3: pivot (long -> wide) ------------------------------------------
    // Explicit pivot values (no distinct-scan) — required for plan stability
    // AND the deterministic column set the oracle's CASE form mirrors.
    GQ("j3_pivot",
      Some("""SELECT l_returnflag,
             |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS "F",
             |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS "O"
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupBy(col("l_returnflag"))
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(round(sum(col("l_quantity")), 4))
          ),

    // ----- W3: ranking-function suite ----------------------------------------
    // ntile / lead / cume_dist / first_value in one windowed projection.
    // cume_dist is a single rank/count division — identical doubles both
    // engines — rounded only for display stability.
    GQ("w3_rank_suite",
      Some("""SELECT o_orderkey,
             |  CAST(ntile(4) OVER w AS BIGINT) AS tile,
             |  lead(o_orderkey) OVER w AS next_key,
             |  round(cume_dist() OVER w, 6) AS cd,
             |  first_value(o_orderkey) OVER w AS first_key
             |FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
             |""".stripMargin),
      (spark, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderstatus")).orderBy(col("o_orderkey"))
        Tables.orders(spark, dir)
          .select(col("o_orderkey"),
            ntile(4).over(w).cast("long").as("tile"),
            lead(col("o_orderkey"), 1).over(w).as("next_key"),
            round(cume_dist().over(w), 6).as("cd"),
            first_value(col("o_orderkey")).over(w).as("first_key"))
      }),

    // ----- CDC merge (upsert/delete apply) -----------------------------------
    // Changes synthesized identically in both engines from orders: keys
    // % 10 = 0 updated (+1000), % 10 = 1 deleted, % 10 = 2 re-inserted
    // under shifted keys. Every op path fires at every SF.
    GQ("cdc_merge",
      Some("""WITH snap AS (SELECT o_orderkey, o_totalprice FROM orders),
             |chg AS (
             |  SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice, 'U' AS op
             |  FROM orders WHERE o_orderkey % 10 = 0
             |  UNION ALL SELECT o_orderkey, CAST(NULL AS DOUBLE), 'D' FROM orders WHERE o_orderkey % 10 = 1
             |  UNION ALL SELECT o_orderkey + 100000000, 1.0, 'I' FROM orders WHERE o_orderkey % 10 = 2),
             |kept AS (SELECT s.* FROM snap s
             |         WHERE NOT EXISTS (SELECT 1 FROM chg c WHERE c.o_orderkey = s.o_orderkey)),
             |merged AS (SELECT o_orderkey, o_totalprice FROM kept
             |           UNION ALL SELECT o_orderkey, o_totalprice FROM chg WHERE op <> 'D')
             |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
             |FROM merged""".stripMargin),
      (spark, dir) => {
        val snap = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
        val o = Tables.orders(spark, dir)
        val changes = o.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") + 1000).as("o_totalprice"),
            lit("U").as("op"))
          .unionByName(o.filter(col("o_orderkey") % 10 === 1)
            .select(col("o_orderkey"), lit(null).cast("double").as("o_totalprice"),
              lit("D").as("op")))
          .unionByName(o.filter(col("o_orderkey") % 10 === 2)
            .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
              lit(1.0).as("o_totalprice"), lit("I").as("op")))
        Merge.applyChanges(snap, changes, "o_orderkey", "op")
          .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      }),

    // ----- time-series resample + forward fill -------------------------------
    // Hourly grid per user over events, gaps inherit the latest value —
    // the quote-series gap-fill of the reference's domain.
    GQ("ts_resample_ffill",
      Some("""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s, value FROM events),
             |b AS (SELECT user_id, s // 3600 * 3600 AS bucket, s, value FROM e),
             |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
             |                                   ORDER BY s DESC, value DESC) AS rn FROM b),
             |lastv AS (SELECT user_id, bucket, value FROM r WHERE rn = 1),
             |span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM lastv GROUP BY 1),
             |spine AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket FROM span),
             |j AS (SELECT sp.user_id, sp.bucket, lv.value
             |      FROM spine sp LEFT JOIN lastv lv
             |        ON sp.user_id = lv.user_id AND sp.bucket = lv.bucket)
             |SELECT user_id, bucket,
             |  round(last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
             |        ROWS UNBOUNDED PRECEDING), 4) AS value_ffill
             |FROM j""".stripMargin),
      (spark, dir) =>
        WindowOps.resampleFfill(
          Tables.events(spark, dir)
            .withColumn("es", unix_timestamp(col("ts"))),
          "user_id", "es", "value", stepSeconds = 3600)
          .select(col("user_id"), col("bucket"),
            round(col("value_ffill"), 4).as("value_ffill"))),

    // ----- time-series resample + linear interpolation -----------------------
    // Same hourly grid as ts_resample_ffill; empty buckets take the straight
    // line between surrounding observed buckets (pandas
    // resample().last().interpolate()). Both engines run the identical IEEE
    // op sequence `pv + (nv - pv) * (bucket - pb) / (nb - pb)` pre-round.
    GQ("ts_interpolate_linear",
      Some("""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s, value FROM events),
             |b AS (SELECT user_id, s // 3600 * 3600 AS bucket, s, value FROM e),
             |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
             |                                   ORDER BY s DESC, value DESC) AS rn FROM b),
             |lastv AS (SELECT user_id, bucket, value FROM r WHERE rn = 1),
             |span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM lastv GROUP BY 1),
             |spine AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket FROM span),
             |j AS (SELECT sp.user_id, sp.bucket, lv.value
             |      FROM spine sp LEFT JOIN lastv lv
             |        ON sp.user_id = lv.user_id AND sp.bucket = lv.bucket),
             |f AS (SELECT user_id, bucket, value,
             |  last_value(value IGNORE NULLS) OVER wb AS pv,
             |  last_value(CASE WHEN value IS NOT NULL THEN bucket END IGNORE NULLS) OVER wb AS pb,
             |  first_value(value IGNORE NULLS) OVER wf AS nv,
             |  first_value(CASE WHEN value IS NOT NULL THEN bucket END IGNORE NULLS) OVER wf AS nb
             |  FROM j
             |  WINDOW wb AS (PARTITION BY user_id ORDER BY bucket ROWS UNBOUNDED PRECEDING),
             |         wf AS (PARTITION BY user_id ORDER BY bucket
             |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT user_id, bucket,
             |  round((CASE WHEN value IS NOT NULL THEN value
             |        ELSE pv + (nv - pv) * (bucket - pb) / (nb - pb) END) * 10000) / 10000 AS value_interp
             |FROM f""".stripMargin),
      // round-to-4 via `round(x·10⁴)/10⁴` on BOTH engines: interpolating
      // 2-decimal inputs at exact grid fractions lands on true 5th-decimal
      // halfways (…49.50375), where Spark's round(x,4) (shortest-repr
      // BigDecimal) and DuckDB's (exact binary) disagree; scaled to an
      // integer boundary the halfway is an exactly-representable .5 double
      // and both engines round it half-away-from-zero identically.
      (spark, dir) =>
        WindowOps.resampleInterp(
          Tables.events(spark, dir)
            .withColumn("es", unix_timestamp(col("ts"))),
          "user_id", "es", "value", stepSeconds = 3600)
          .select(col("user_id"), col("bucket"),
            (round(col("value_interp") * 10000) / 10000).as("value_interp"))),

    // ----- global row index without a global sort ----------------------------
    // row_number() with no PARTITION BY plans as Exchange SinglePartition —
    // the whole dataset through one task. IndexOps.globalIndex produces the
    // identical output via quantile-bucketed two-phase numbering
    // (IndexOpsSpec asserts the no-SinglePartition plan shape).
    GQ("global_index",
      Some("""SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS idx
             |FROM orders""".stripMargin),
      (spark, dir) =>
        IndexOps.globalIndex(Tables.orders(spark, dir), "o_orderkey")
          .select(col("o_orderkey"), col("idx"))),

    // ----- TPC-H Q3-shape: 3-way star join + grouped top-k -------------------
    // customer(filtered dim) ⋈ orders ⋈ lineitem with date predicates on both
    // fact branches; revenue per order; top-10. The predicates push to the
    // parquet scans, the customer side broadcasts, orders⋈lineitem shuffles
    // once on orderkey (PlanCheckSpec asserts all three). Per-order sums are
    // ≤7 addends — association drift ≪ round(…,2).
    GQ("tpch_q3ish",
      Some("""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
             |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
             |  AND l_orderkey = o_orderkey
             |  AND o_orderdate < TIMESTAMP '1998-06-01'
             |  AND l_shipdate > TIMESTAMP '1998-06-01'
             |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
      (spark, dir) => {
        val cut = lit("1998-06-01").cast("timestamp")
        val cust = Tables.customer(spark, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val ord = Tables.orders(spark, dir)
          .filter(col("o_orderdate") < cut)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val li = Tables.lineitem(spark, dir)
          .filter(col("l_shipdate") > cut)
          .select("l_orderkey", "l_extendedprice", "l_discount")
        cust.join(ord, col("c_custkey") === col("o_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          // semantic sort: ORDER BY … LIMIT k selects WHICH rows survive
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      }),

    // ----- TPC-H Q5-shape: 6-way snowflake join --------------------------------
    // region→nation→supplier dims broadcast down onto the lineitem⋈orders
    // fact shuffle; customer closes the cycle (c_nationkey = s_nationkey).
    // Gate reports per-nation count + avg revenue: an order-count times a
    // rounded MEAN, not a rounded total — sum drift exceeds the rounding
    // guard at sf0.1 magnitudes (same rationale as the s9 gate).
    GQ("tpch_q5ish",
      Some("""SELECT n_name, count(*) AS n_rows,
             |       round(avg(l_extendedprice * (1 - l_discount)), 4) AS avg_revenue
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY 1""".stripMargin),
      (spark, dir) => {
        val asiaNations = Tables.nation(spark, dir)
          .join(Tables.region(spark, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val sup = Tables.supplier(spark, dir)
          .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_nationkey", "n_name")
        val ord = Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val li = Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
        // explicit broadcasts pin the left-deep dim-onto-fact shape: without
        // them the static planner (bench runs AQE off) bushy-reorders this
        // into customer ⋈ supplier on nationkey — a ~200×-per-nation row
        // blowup — followed by a sort-merge of the fact against it.
        // Scale note: at verification scale every non-lineitem side clears
        // the broadcast threshold. On a warehouse-scale TPC-H the ord and
        // cust hints come OFF (a year of orders / the customer dim no
        // longer fit an executor) and the plan degrades to shuffle
        // equi-joins keyed on the fact's own join keys — the safe shape;
        // the blowup this guards against is a stats-blind reorder, not a
        // property of the declarative query
        li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(cust), col("c_custkey") === col("o_custkey")
            && col("c_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_rows"),
            round(avg(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
              .as("avg_revenue"))
      }),

    // ----- snapshot diff (added / removed / changed) -------------------------
    // The audit step before a CDC apply: one full outer hash join on the
    // key, scan-side null-safe compares, unchanged keys dropped. The new
    // snapshot is synthesized with the same %10 slices as cdc_merge so all
    // three change paths fire at every SF.
    GQ("snapshot_diff",
      Some("""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
             |n AS (SELECT o_orderkey AS k,
             |        CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
             |             ELSE o_totalprice END AS v
             |      FROM orders WHERE o_orderkey % 10 <> 1
             |      UNION ALL SELECT o_orderkey + 100000000, 1.0
             |      FROM orders WHERE o_orderkey % 10 = 2)
             |SELECT coalesce(o.k, n.k) AS o_orderkey,
             |  CASE WHEN o.k IS NULL THEN 'added'
             |       WHEN n.k IS NULL THEN 'removed' ELSE 'changed' END AS change,
             |  round(o.v, 2) AS old_price, round(n.v, 2) AS new_price
             |FROM o FULL JOIN n ON o.k = n.k
             |WHERE o.k IS NULL OR n.k IS NULL OR o.v <> n.v
             |""".stripMargin),
      (spark, dir) => {
        val orders = Tables.orders(spark, dir)
        val o = orders.select(col("o_orderkey"), col("o_totalprice").as("price"))
        val n = orders.filter(col("o_orderkey") % 10 =!= 1)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1000)
              .otherwise(col("o_totalprice")).as("price"))
          .unionByName(orders.filter(col("o_orderkey") % 10 === 2)
            .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
              lit(1.0).as("price")))
        Merge.snapshotDiff(o, n, "o_orderkey", Seq("price"))
          .select(col("o_orderkey"), col("change"),
            round(col("old_price"), 2).as("old_price"),
            round(col("new_price"), 2).as("new_price"))
      }),

    // ----- SCD2 version history ----------------------------------------------
    // Each customer's order stream is the change log of a (custkey → price)
    // attribute; orderkey breaks same-day ties so versioning is total.
    GQ("scd2_history",
      Some("""SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
             |  CAST(o_orderdate AS DATE) AS valid_from,
             |  CAST(lead(o_orderdate) OVER w AS DATE) AS valid_to,
             |  (lead(o_orderdate) OVER w IS NULL) AS is_current
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |""".stripMargin),
      (spark, dir) =>
        Merge.scd2Versions(Tables.orders(spark, dir),
            "o_custkey", "o_orderdate", tieCols = Seq("o_orderkey"))
          .select(col("o_custkey"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("price"),
            to_date(col("valid_from")).as("valid_from"),
            to_date(col("valid_to")).as("valid_to"), col("is_current"))
          ),

    // ----- P14: JSON schema-on-read ------------------------------------------
    // events.props is a JSON string column; from_json projects it through a
    // declared schema on the scan side (codegen'd Jackson parse, no UDF) —
    // the semi-structured ingestion shape of every event pipeline.
    GQ("p14_json_extract",
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
             |  CAST(count(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
             |                  THEN 1 END) AS BIGINT) AS n_hi
             |FROM events GROUP BY event_type""".stripMargin),
      (spark, dir) =>
        Tables.events(spark, dir)
          .withColumn("k", from_json(col("props"), StructType(Seq(
            StructField("k", LongType)))).getField("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
            count(when(col("k") >= 50, lit(1))).as("n_hi"))
          ),

    // ----- A9: exact interpolated percentiles --------------------------------
    // Spark `percentile` and DuckDB `percentile_cont` share the SQL-standard
    // index = p·(n-1) linear interpolation; quantities are small integral
    // doubles so the interpolated values are exact binary fractions.
    // At 100 TB the same query swaps in approx_percentile (KLL/GK sketch) —
    // exact percentile holds every group's values.
    GQ("a9_percentiles",
      Some("""SELECT l_returnflag,
             |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity), 6) AS p25,
             |  round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity), 6) AS p50,
             |  round(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity), 6) AS p75
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupBy(col("l_returnflag"))
          .agg(round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
            round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
            round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"))
          ),

    // ----- A10: second-moment statistics -------------------------------------
    // corr/stddev/covar accumulate co-moments whose partition merge order
    // differs between engines — rounding absorbs the ~1e-12-relative drift
    // (verified stable at sf0.01 AND sf0.1).
    GQ("a10_corr_stats",
      Some("""SELECT l_returnflag,
             |  round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
             |  round(stddev_samp(l_quantity), 4) AS q_stddev,
             |  round(covar_samp(l_quantity, l_extendedprice), 2) AS qp_covar
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupBy(col("l_returnflag"))
          .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qp_corr"),
            round(stddev_samp(col("l_quantity")), 4).as("q_stddev"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("qp_covar"))
          ),

    // ----- fixed-width histogram binning -------------------------------------
    // Profiling companion: bin = floor(x / width) is a single exact double
    // op, so bins agree across engines with no boundary ambiguity.
    GQ("profile_histogram",
      Some("""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
             |  CAST(floor(l_extendedprice / 5000) * 5000 AS DOUBLE) AS bin_lo,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM lineitem GROUP BY 1, 2""".stripMargin),
      (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupBy(floor(col("l_extendedprice") / 5000).as("bin"))
          .agg(count(lit(1)).as("n"))
          .withColumn("bin_lo", (col("bin") * 5000).cast("double"))
          .select("bin", "bin_lo", "n")
          ),

    // ----- equi-depth histogram (percentile-bounded bins) --------------------
    // The data-skew-proof sibling of profile_histogram: deciles of
    // l_extendedprice. Fences come from ONE percentile aggregate broadcast
    // back; bucket assignment is a scan-side list-filter count (strict '<':
    // rows equal to a fence go to the lower bucket on both engines).
    GQ("profile_equidepth",
      Some("""WITH q AS (SELECT percentile_cont([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
             |             WITHIN GROUP (ORDER BY l_extendedprice) AS qs FROM lineitem)
             |SELECT CAST(len(list_filter(q.qs, f -> f < l_extendedprice)) AS BIGINT) AS bucket,
             |       count(*) AS n
             |FROM lineitem CROSS JOIN q
             |WHERE l_extendedprice IS NOT NULL
             |GROUP BY 1""".stripMargin),
      (spark, dir) =>
        Profile.equiDepthHistogram(Tables.lineitem(spark, dir), "l_extendedprice", b = 10)
          ),

    // ----- share of total (ratio-to-report without a global window) ----------
    // sum() OVER () with no partition is the same single-task funnel as
    // unpartitioned row_number; the scale shape is a one-row global
    // aggregate broadcast-cross-joined back onto the grouped relation.
    GQ("share_of_total",
      Some("""WITH g AS (SELECT o_orderpriority, count(*) AS n,
             |             sum(o_totalprice) AS s FROM orders GROUP BY 1),
             |t AS (SELECT sum(o_totalprice) AS st FROM orders)
             |SELECT o_orderpriority, n, round(s / st, 6) AS share
             |FROM g CROSS JOIN t""".stripMargin),
      (spark, dir) => {
        val o = Tables.orders(spark, dir)
        val g = o.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s"))
        val t = o.agg(sum(col("o_totalprice")).as("st"))
        g.crossJoin(broadcast(t))
          .select(col("o_orderpriority"), col("n"),
            round(col("s") / col("st"), 6).as("share"))
      }),

    // ----- incremental aggregate maintenance ---------------------------------
    // The standing rollup is built from the even-key half, the odd-key half
    // arrives as a delta batch, and mergeAggState must land exactly on the
    // direct full-table aggregate (the oracle). avg derives from merged
    // sums; mn/mx are raw parquet doubles (bit-exact both engines).
    GQ("incremental_agg",
      Some("""SELECT o_orderpriority, count(o_totalprice) AS n,
             |  round(sum(o_totalprice) / count(o_totalprice), 4) AS avg_price,
             |  min(o_totalprice) AS mn, max(o_totalprice) AS mx
             |FROM orders GROUP BY 1""".stripMargin),
      (spark, dir) => {
        val o = Tables.orders(spark, dir)
        val state = AggOps.buildAggState(
          o.filter(col("o_orderkey") % 2 === 0), Seq("o_orderpriority"), "o_totalprice")
        val delta = AggOps.buildAggState(
          o.filter(col("o_orderkey") % 2 === 1), Seq("o_orderpriority"), "o_totalprice")
        AggOps.mergeAggState(state, delta, Seq("o_orderpriority"))
          .select(col("o_orderpriority"), col("n"),
            round(col("s") / col("n"), 4).as("avg_price"),
            col("mn"), col("mx"))
      }),

    // leave-one-out target encoding: the leakage-safe categorical mean.
    // Subtraction-then-divide is per-row exact given the category sum;
    // the sum itself re-associates across engines -> round 4 like the
    // other grouped float-sum gates.
    GQ("feat_target_encode_loo",
      Some("""SELECT o_orderkey,
             |  round((s - o_totalprice) / (n - 1), 4) AS te_loo
             |FROM (SELECT o_orderkey, o_totalprice,
             |        sum(o_totalprice) OVER (PARTITION BY o_orderpriority) AS s,
             |        count(o_totalprice) OVER (PARTITION BY o_orderpriority) AS n
             |      FROM orders) t
             |""".stripMargin),
      (spark, dir) =>
        graft.ops.FeatureOps.targetEncodeLoo(Tables.orders(spark, dir),
            "o_orderpriority", "o_totalprice")
          .select(col("o_orderkey"), round(col("te_loo"), 4).as("te_loo"))),

    // mutual information between two categoricals from ONE contingency
    // aggregate (marginals as window sums over the tiny cell relation).
    // Both engines promote integer division to double and share ln's
    // 1-ulp class -> round 6.
    GQ("feat_mutual_information",
      Some("""WITH c AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
             |         count(*) AS nxy FROM orders GROUP BY 1, 2),
             |m AS (SELECT nxy,
             |        sum(nxy) OVER () AS n,
             |        sum(nxy) OVER (PARTITION BY x) AS nx,
             |        sum(nxy) OVER (PARTITION BY y) AS ny FROM c)
             |SELECT round(sum((nxy / n) * ln(nxy * n / (nx * ny))), 6) AS mi_nats
             |FROM m""".stripMargin),
      (spark, dir) =>
        graft.ops.FeatureOps.mutualInformation(Tables.orders(spark, dir),
            "o_orderpriority", "o_orderstatus")
          .select(round(col("mi_nats"), 6).as("mi_nats"))),

    // Cramér's V from the same contingency machinery: χ² with observed-zero
    // cells folded in via Σ_all E = n (absent cells contribute exactly
    // their expected count), normalized to 0..1.
    GQ("feat_cramers_v",
      Some("""WITH c AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
             |         count(*) AS nxy FROM orders GROUP BY 1, 2),
             |m AS (SELECT x, y, nxy,
             |        sum(nxy) OVER () AS n,
             |        sum(nxy) OVER (PARTITION BY x) AS nx,
             |        sum(nxy) OVER (PARTITION BY y) AS ny FROM c)
             |SELECT round(sqrt(
             |  (sum(pow(nxy - nx * ny / n, 2) / (nx * ny / n)) + (max(n) - sum(nx * ny / n)))
             |  / (max(n) * (least(count(DISTINCT x), count(DISTINCT y)) - 1))), 6) AS cramers_v
             |FROM m""".stripMargin),
      (spark, dir) =>
        graft.ops.FeatureOps.cramersV(Tables.orders(spark, dir),
            "o_orderpriority", "o_orderstatus")
          .select(round(col("cramers_v"), 6).as("cramers_v"))),

    // k-fold out-of-fold target encoding (the practitioner form; LOO above
    // is its k=n limit). Oracle mirrors the exact aggregation SHAPE —
    // per-(category, fold) sums rolled up per category — so both engines
    // run the same two-level float summation; round 4 as ever.
    GQ("feat_target_encode_kfold",
      Some("""WITH pf AS (SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
             |         sum(o_totalprice) AS sf, count(o_totalprice) AS nf
             |       FROM orders GROUP BY 1, 2),
             |st AS (SELECT cat, fold, sf, nf,
             |         sum(sf) OVER (PARTITION BY cat) AS s,
             |         CAST(sum(nf) OVER (PARTITION BY cat) AS BIGINT) AS n
             |       FROM pf)
             |SELECT o.o_orderkey,
             |  round(CASE WHEN st.n = st.nf THEN NULL
             |        ELSE (st.s - st.sf) / (st.n - st.nf) END, 4) AS te_oof
             |FROM orders o
             |JOIN st ON o.o_orderpriority = st.cat AND o.o_orderkey % 5 = st.fold
             |""".stripMargin),
      (spark, dir) =>
        graft.ops.FeatureOps.targetEncodeKFold(
            Tables.orders(spark, dir)
              .withColumn("fold", col("o_orderkey") % 5),
            "o_orderpriority", "o_totalprice", "fold")
          .select(col("o_orderkey"), round(col("te_oof"), 4).as("te_oof"))),

    // incremental JOIN maintenance: the delta rule ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB.
    // Base = even order/customer keys, deltas = odd; old view ∪ delta must
    // equal the full join — which is exactly the oracle.
    GQ("incremental_join",
      Some("""SELECT o_orderkey, o_totalprice, c_custkey, c_mktsegment
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |""".stripMargin),
      (spark, dir) => {
        val o = Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_custkey").as("c_custkey"))
        val c = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
        val (oBase, oDelta) = (o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1))
        val (cBase, cDelta) = (c.filter(col("c_custkey") % 2 === 0),
          c.filter(col("c_custkey") % 2 === 1))
        val oldView = oBase.join(cBase, Seq("c_custkey"))
        val delta = JoinOps.incrementalJoinDelta(
          oBase, oDelta, cBase, cDelta, Seq("c_custkey"))
        oldView.unionByName(delta)
          .select("o_orderkey", "o_totalprice", "c_custkey", "c_mktsegment")
      }),

    // ----- declarative data-quality rule check -------------------------------
    // deequ/dbt-test pattern: k named predicates in ONE wide aggregation
    // over ONE scan, exploded to a long report. Violation = predicate false
    // OR NULL. The 0–0.08 discount band deliberately fires (~15% of rows).
    GQ("dq_check",
      Some("""WITH s AS (SELECT count(*) AS n,
             |  sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS v0,
             |  sum(CASE WHEN l_discount BETWEEN 0 AND 0.08 THEN 0 ELSE 1 END) AS v1,
             |  sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS v2,
             |  sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS v3
             |  FROM lineitem)
             |SELECT * FROM (
             |  SELECT 'discount_band' AS rule, n AS n_rows, CAST(v1 AS BIGINT) AS n_violations,
             |         round(v1 / nullif(n, 0), 6) AS violation_rate FROM s
             |  UNION ALL SELECT 'price_positive', n, CAST(v2 AS BIGINT), round(v2 / nullif(n, 0), 6) FROM s
             |  UNION ALL SELECT 'quantity_in_range', n, CAST(v0 AS BIGINT), round(v0 / nullif(n, 0), 6) FROM s
             |  UNION ALL SELECT 'shipdate_complete', n, CAST(v3 AS BIGINT), round(v3 / nullif(n, 0), 6) FROM s)
             |""".stripMargin),
      (spark, dir) =>
        Quality.check(Tables.lineitem(spark, dir), Seq(
          "quantity_in_range" -> col("l_quantity").between(1, 50),
          "discount_band" -> col("l_discount").between(0, 0.08),
          "price_positive" -> (col("l_extendedprice") > 0),
          "shipdate_complete" -> col("l_shipdate").isNotNull))
          ),

    // ----- W1: lag-window delta per key --------------------------------------
    GQ("w1_lag_delta",
      Some("""SELECT o_custkey, o_orderkey,
             |       o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey
             |                                              ORDER BY o_orderdate, o_orderkey) AS delta
             |FROM orders""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        WindowOps.lagDelta(Tables.orders(spark, dir),
          Seq("o_custkey"), Seq($"o_orderdate".asc, $"o_orderkey".asc),
          "o_totalprice", "delta")
          .select("o_custkey", "o_orderkey", "delta")
      }),

    // ----- O1: top-k (ORDER BY ... DESC LIMIT k) -----------------------------
    // Catalyst plans TakeOrderedAndProject: per-task k-row heaps, no global sort.
    GQ("o1_topk",
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        TopKOps.topK(Tables.orders(spark, dir),
          Seq($"o_totalprice".desc, $"o_orderkey".asc), 10)
          .select("o_orderkey", "o_custkey", "o_totalprice")
      }),

    // ----- §2b ranking: top-N per group --------------------------------------
    GQ("rank_top_per_group",
      Some(topPerGroupSql),
      (spark, dir) => {
        import spark.implicits._
        // rn cast to long: Spark row_number is INT, DuckDB's is BIGINT
        WindowOps.topNPerGroup(Tables.part(spark, dir),
          Seq("p_brand"), Seq($"p_retailprice".desc, $"p_partkey".asc), 3)
          .select($"p_brand", $"p_partkey", $"p_retailprice", $"rn".cast("long").as("rn"))
      }),

    // Same answer through the bounded-heap aggregate (AggOps.topKByScore):
    // the scale form — no per-group sort of the full input, the exchange
    // carries at most k entries per group per mapper. Gated against the
    // IDENTICAL oracle as the window form above.
    GQ("rank_top_per_group_agg",
      Some(topPerGroupSql),
      (spark, dir) => {
        import spark.implicits._
        AggOps.topKByScore(Tables.part(spark, dir),
          Seq("p_brand"), scoreCol = "p_retailprice", idCol = "p_partkey", k = 3)
          .select($"p_brand", $"p_partkey", $"p_retailprice", $"rn".cast("long").as("rn"))
      }),

    // ----- column profiling (data-quality summary, one scan) -----------------
    // Long/string columns only in the gate: double and timestamp extrema
    // render differently across engines (1.0E7 vs 10000000.0). The oracle
    // UNION ALL is generated from the same column list, so query and gate
    // cannot drift.
    GQ("profile_orders", {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      Some(cols.map { c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""))
    },
      (spark, dir) =>
        Profile.summarize(Tables.orders(spark, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
          ),

    // ----- §2b set ops -------------------------------------------------------
    // Customers with finished orders but no open ones — incremental-load
    // anti-set shape (non-empty at every SF).
    GQ("set_except",
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val o = Tables.orders(spark, dir)
        val finished = o.filter($"o_orderstatus" === "F").select("o_custkey")
        val open = o.filter($"o_orderstatus" === "O").select("o_custkey")
        SetOps.minus(finished, open)
      }),

    GQ("set_intersect",
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |INTERSECT SELECT s_nationkey FROM supplier
             |""".stripMargin),
      (spark, dir) => {
        val c = Tables.customer(spark, dir).select("c_nationkey").withColumnRenamed("c_nationkey", "nationkey")
        val s = Tables.supplier(spark, dir).select("s_nationkey").withColumnRenamed("s_nationkey", "nationkey")
        SetOps.intersection(c, s)
      }),

    GQ("set_union",
      Some("""SELECT r_name AS name, 'region' AS kind FROM region
             |UNION ALL SELECT n_name, 'nation' FROM nation
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val r = Tables.region(spark, dir).select($"r_name".as("name"), lit("region").as("kind"))
        val n = Tables.nation(spark, dir).select($"n_name".as("name"), lit("nation").as("kind"))
        SetOps.unionAll(Seq(r, n))
      }),

    // ----- §2b approx distinct (HLL++) — ACCURACY-SCORED oracle gate: the
    // sketch's estimate isn't SQL-reproducible, but the EXACT count is, so
    // the gate emits exact counts only while the HLL++ estimate stays
    // within 3·rsd of them (rsd 0.05 → 15%) — an estimator regression
    // empties the result and fails the hash check.
    GQ("hll_approx_distinct",
      Some("""SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (spark, dir) => {
        // exact + estimate fused into ONE aggregate (single distinct column →
        // Catalyst's one-distinct 4-stage plan, no Expand): one lineitem scan
        // instead of two scans + a join (1.03 s → measured below re-fusion).
        // Shuffle partitions pinned to 8 for the post-exchange stages
        // (~230k distinct keys; 0.70 s @ 32 → 0.52 s @ 8, COVERAGE
        // "ScaleCheck: measured 10× scaling", Measured-and-TAKEN —
        // scan-side parallelism is unaffected, the win is task overhead on
        // the tiny merge stages); pin requires materializing inside it.
        val li = Tables.lineitem(spark, dir)
        withConfs(spark, "spark.sql.shuffle.partitions" -> "8") {
          Freeze(li.groupBy("l_returnflag")
            .agg(count_distinct(col("l_partkey")).as("n_distinct"),
              approx_count_distinct(col("l_partkey"), 0.05)
                .as("approx_l_partkey_count"))
            .filter(abs(col("approx_l_partkey_count") - col("n_distinct"))
              <= col("n_distinct") * 0.15)
            .select("l_returnflag", "n_distinct"))
        }
      }),

    // grouped APPROXIMATE percentiles — the documented 100 TB swap for
    // a9_percentiles' exact interpolation. Same accuracy-scored gating: the
    // digest's estimates aren't SQL-reproducible, so the gate emits the
    // EXACT per-group quantiles (quantile_cont-checkable) only while the
    // approx values sit within 2% of them (the AggWindowSpec bound).
    GQ("a9b_percentiles_approx",
      Some("""SELECT o_orderpriority,
             |       quantile_cont(o_totalprice, 0.5) AS p50,
             |       quantile_cont(o_totalprice, 0.95) AS p95
             |FROM orders GROUP BY o_orderpriority""".stripMargin),
      (spark, dir) => {
        // digest + exact selection fused into ONE aggregate pass (both are
        // plain partial-merge aggregates): one orders scan and one shuffle
        // instead of two of each plus a join
        Tables.orders(spark, dir).groupBy("o_orderpriority")
          .agg(
            expr("approx_percentile(o_totalprice, array(0.5, 0.95), 10000)").as("pcts"),
            graft.functions.PercentileCompact
              .percentileCompact(col("o_totalprice"), Seq(0.5, 0.95)).as("__q"))
          .select(col("o_orderpriority"),
            col("pcts").getItem(0).as("a50"), col("pcts").getItem(1).as("a95"),
            col("__q").getItem(0).as("p50"), col("__q").getItem(1).as("p95"))
          .filter(abs(col("a50") - col("p50")) <= abs(col("p50")) * 0.02 &&
            abs(col("a95") - col("p95")) <= abs(col("p95")) * 0.02)
          .select("o_orderpriority", "p50", "p95")
      }),

    // mergeable-sketch rollup: per-(flag,status) DataSketches HLL sketches
    // union-merged up to per-flag estimates — the persist-sketches-once,
    // roll-up-forever pattern (sketch union is exact over sketch state;
    // AggWindowSpec asserts merged == direct). Accuracy-scored oracle gate
    // like hll_approx_distinct: exact per-flag counts survive only while
    // the MERGED-sketch estimate stays within 15% of them.
    GQ("hll_sketch_merge",
      Some("""SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (spark, dir) => {
        // same parts=8 pin as hll_approx_distinct (see there): both
        // legs end in few-key merge stages where 32 tasks is pure overhead
        val li = Tables.lineitem(spark, dir)
        withConfs(spark, "spark.sql.shuffle.partitions" -> "8") {
          val merged = AggOps.hllMergeEstimate(
            AggOps.hllSketches(li, Seq("l_returnflag", "l_linestatus"), "l_partkey"),
            Seq("l_returnflag"))
          val exact = li.groupBy("l_returnflag")
            .agg(count_distinct(col("l_partkey")).as("n_distinct"))
          Freeze(exact.join(merged, Seq("l_returnflag"))
            .filter(abs(col("approx_distinct") - col("n_distinct"))
              <= col("n_distinct") * 0.15)
            .select("l_returnflag", "n_distinct"))
        }
      }),

    // trailing-window distinct users via theta-sketch union: distinct is
    // non-additive, sketch union is — one event scan builds day sketches,
    // a RANGE window over the 31-row bucket relation unions 7 per day.
    // Exact under saturation, so the oracle is DuckDB's direct trailing
    // recount.
    GQ("theta_trailing_distinct",
      Some("""WITH b AS (SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS bucket,
             |                user_id FROM events),
             |d AS (SELECT DISTINCT bucket FROM b)
             |SELECT d.bucket, CAST(count(DISTINCT x.user_id) AS BIGINT) AS trailing_distinct
             |FROM d JOIN b x ON x.bucket BETWEEN d.bucket - 6 AND d.bucket
             |GROUP BY d.bucket""".stripMargin),
      (spark, dir) =>
        AggOps.thetaTrailingDistinct(
          Tables.events(spark, dir)
            .select(expr("unix_micros(ts) div 86400000000").as("day"),
              col("user_id")),
          "day", "user_id", trailing = 7)),

    // mergeable QUANTILE sketches (DataSketches KLL — Spark ships no
    // storable quantile state): per-(flag,status) sketches of
    // l_extendedprice union-merged to per-flag DECILES, the same
    // sketch-once/roll-up-forever contract as hll_sketch_merge but for
    // order statistics. Accuracy-scored gate: each merged-sketch decile
    // must land between the EXACT quantiles at rank ±0.05 (3× KLL's
    // ε≈1.65% @ k=200, 99% confidence — deterministic pass in practice);
    // the gate emits the per-flag count of in-bound deciles, expected 9.
    GQ("kll_quantile_rollup",
      Some("""SELECT l_returnflag, CAST(9 AS BIGINT) AS ok_deciles
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val deciles = (1 to 9).map(_ / 10.0)
        val probs = deciles.map(_ - 0.05) ++ deciles.map(_ + 0.05)
        val approx = AggOps.kllRollupQuantiles(
          AggOps.kllSketches(li, Seq("l_returnflag", "l_linestatus"),
            "l_extendedprice"),
          Seq("l_returnflag"), deciles)
        val exact = li.groupBy("l_returnflag")
          .agg(graft.functions.PercentileCompact
            .percentileCompact(col("l_extendedprice"), probs).as("e"))
        approx.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"),
            (0 until 9).map(i =>
              when(col("e").getItem(i) <= col("quantiles").getItem(i) &&
                col("quantiles").getItem(i) <= col("e").getItem(i + 9), 1L)
                .otherwise(0L))
              .reduce(_ + _).as("ok_deciles"))
      }),

    // theta-sketch audience overlap: per-event-type sketches over user_id,
    // pairwise |A∩B| / |A\B| / |A∪B| from SKETCH STATE ONLY (the raw
    // events are scanned exactly once) — the set-algebra HLL cannot do.
    // Under 2^12 nominal entries a theta sketch retains every hash, so on
    // this data the estimates are EXACT integers and the gate is a plain
    // hash-equality oracle against DuckDB's exact distinct set ops; at
    // corpus scale the same code returns bounded-error estimates.
    GQ("theta_user_overlap",
      Some("""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
             |cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
             |p AS (SELECT a.event_type AS key_a, b.event_type AS key_b
             |      FROM (SELECT DISTINCT event_type FROM events) a
             |      JOIN (SELECT DISTINCT event_type FROM events) b
             |        ON a.event_type < b.event_type),
             |ov AS (SELECT x.event_type AS key_a, y.event_type AS key_b,
             |              CAST(count(*) AS BIGINT) AS overlap
             |       FROM tu x JOIN tu y
             |         ON x.user_id = y.user_id AND x.event_type < y.event_type
             |       GROUP BY 1, 2)
             |SELECT p.key_a, p.key_b,
             |       coalesce(ov.overlap, 0) AS overlap,
             |       ca.n - coalesce(ov.overlap, 0) AS only_a,
             |       ca.n + cb.n - coalesce(ov.overlap, 0) AS union_n
             |FROM p LEFT JOIN ov ON p.key_a = ov.key_a AND p.key_b = ov.key_b
             |JOIN cnt ca ON ca.event_type = p.key_a
             |JOIN cnt cb ON cb.event_type = p.key_b""".stripMargin),
      (spark, dir) =>
        AggOps.thetaOverlaps(
          AggOps.thetaSketches(Tables.events(spark, dir),
            Seq("event_type"), "user_id"),
          "event_type")),

    // ----- J4/J5 — existence joins. left_semi/left_anti never materialize
    // the right side's columns and have EXISTS / NOT EXISTS semantics
    // (NULL-safe, unlike NOT IN).
    GQ("j4_semi_join",
      Some("""SELECT o_orderkey, o_totalprice FROM orders o
             |WHERE EXISTS (SELECT 1 FROM customer c
             |  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
             |""".stripMargin),
      (spark, dir) =>
        JoinOps.semiJoin(Tables.orders(spark, dir),
            Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
              .select(col("c_custkey").as("o_custkey")), Seq("o_custkey"))
          .select("o_orderkey", "o_totalprice")),

    GQ("j5_anti_join",
      Some("""SELECT o_orderkey, o_totalprice FROM orders o
             |WHERE NOT EXISTS (SELECT 1 FROM customer c
             |  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
             |""".stripMargin),
      (spark, dir) =>
        JoinOps.antiJoin(Tables.orders(spark, dir),
            Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
              .select(col("c_custkey").as("o_custkey")), Seq("o_custkey"))
          .select("o_orderkey", "o_totalprice")),

    // ----- S7/S8 — text interchange formats (CSV, JSON lines): write from
    // parquet, read straight back through a DECLARED schema (inference is an
    // extra full pass at scale), aggregate — value fidelity through the text
    // encoding is what the oracle checks.
    GQ("s7_csv_roundtrip",
      Some("""SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
             |FROM nation GROUP BY n_regionkey""".stripMargin),
      (spark, dir) => {
        val out = graft.Scratch.dir("s7_csv", dir)
        // 25-row dim: one output file, not one per upstream task
        graft.io.FormatIO.roundTrip(Tables.nation(spark, dir).coalesce(1), out, "csv")
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"))
      }),

    GQ("s8_json_roundtrip",
      Some("""SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 4) AS bal_sum
             |FROM customer GROUP BY c_mktsegment""".stripMargin),
      (spark, dir) => {
        val out = graft.Scratch.dir("s8_json", dir)
        // doubles survive JSON text exactly (shortest-round-trip rendering);
        // only the re-associated SUM needs the usual rounding
        graft.io.FormatIO.roundTrip(Tables.customer(spark, dir).coalesce(4), out, "json")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 4).as("bal_sum"))
      }),

    // ----- S10 — ORC round-trip: Spark's second native columnar format
    // (vectorized reader, pushdown, splittable stripes), same gate shape as
    // the text formats: write, read back through a declared schema,
    // aggregate. Doubles are IEEE-exact through ORC; only the re-associated
    // SUM needs rounding.
    GQ("s10_orc_roundtrip",
      Some("""SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 4) AS price_sum
             |FROM part GROUP BY p_brand""".stripMargin),
      (spark, dir) => {
        val out = graft.Scratch.dir("s10_orc", dir)
        graft.io.FormatIO.roundTrip(Tables.part(spark, dir).coalesce(4), out, "orc")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"), round(sum(col("p_retailprice")), 4).as("price_sum"))
      }),

    // ----- K4 — small-file compaction round-trip: 64 tiny files rewritten
    // to byte-targeted files (CompactionSpec pins the file-count math);
    // the oracle proves the rewrite lost and duplicated nothing.
    GQ("k4_compact_roundtrip",
      Some("""SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 4) AS price_avg
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      (spark, dir) => {
        val base = graft.Scratch.dir("k4", dir)
        // orders, not lineitem: the operator under test is file-COUNT
        // reduction — small files are small by nature, and a bulk-volume
        // write would just bench the parquet encoder again (k1 does that)
        Tables.orders(spark, dir).select("o_orderstatus", "o_totalprice")
          .repartition(64) // the small-files mess a per-trigger append leaves
          .write.mode("overwrite").parquet(s"$base/small")
        val k4Schema = org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderstatus STRING, o_totalprice DOUBLE")
        graft.io.ParquetIO.compact(spark, s"$base/small", s"$base/compacted",
          targetBytes = 8L * 1024 * 1024, schema = Some(k4Schema))
        spark.read.schema(k4Schema).parquet(s"$base/compacted")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("price_avg"))
      }),

    // ----- S9 — schema-evolution read (mergeSchema): two parquet drops with
    // DIFFERENT schemas (a column added mid-stream) unify under one read;
    // rows from the older drop surface NULL for the late column. The gate's
    // oracle reconstructs the same evolution with a CASE on the split key.
    GQ("s9_schema_merge",
      Some("""SELECT count(*) AS n_rows,
             |  CAST(count(CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END) AS BIGINT) AS n_with_segment,
             |  round(avg(c_acctbal), 4) AS bal_avg
             |FROM customer""".stripMargin),
      (spark, dir) => {
        val base = graft.Scratch.dir("s9", dir)
        val c = Tables.customer(spark, dir)
        c.filter(col("c_custkey") % 2 === 0)
          .select("c_custkey", "c_acctbal") // the pre-evolution schema
          .write.mode("overwrite").parquet(s"$base/drop=a")
        c.filter(col("c_custkey") % 2 === 1)
          .select("c_custkey", "c_acctbal", "c_mktsegment")
          .write.mode("overwrite").parquet(s"$base/drop=b")
        // rounded AVG, not SUM: a rounded total-sum gate drifts past 1e-4 at
        // bulk magnitudes (association-order error grows with Σ|x|); the
        // mean's absolute drift shrinks with n instead
        spark.read.option("mergeSchema", "true").parquet(base)
          .agg(count(lit(1)).as("n_rows"),
            count(col("c_mktsegment")).as("n_with_segment"),
            round(avg(col("c_acctbal")), 4).as("bal_avg"))
      }),

    // ----- Z-order layout: the z-VALUE projection is gated bit-for-bit (the
    // interleave formula is generated once and rendered for each dialect);
    // the physical clustering + min/max-locality payoff is ZOrderSpec's.
    GQ("zorder_value",
      Some(s"""WITH q AS (SELECT o_orderkey, o_custkey % 1024 AS qa,
              |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS qb FROM orders)
              |SELECT o_orderkey, CAST(${ZOrder.zvalueDuckSql("qa", "qb", 10)} AS BIGINT) AS zv
              |FROM q""".stripMargin),
      (spark, dir) =>
        Tables.orders(spark, dir)
          .select(col("o_orderkey"),
            expr("CAST(o_custkey % 1024 AS BIGINT)").as("qa"),
            // o_orderdate is TIMESTAMP_NTZ: go through DATE (timezone-free
            // on both engines), not unix_millis (tz-typed input only)
            expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') % 1024 AS BIGINT)").as("qb"))
          .select(col("o_orderkey"), ZOrder.zvalue("qa", "qb", 10).cast("long").as("zv"))
          ),

    // ----- W4b — robust (median/MAD) outliers, same synthesized spikes as
    // w4: the spike CANNOT mask itself here (50% breakdown point). Exact
    // percentile interpolation matches percentile_cont (a9-proven);
    // 1.4826·MAD division + rounding shared by both engines.
    GQ("w4b_mad_outliers",
      Some("""WITH o AS (SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
             |          UNION ALL SELECT '1-URGENT', -1, 5000000.0
             |          UNION ALL SELECT '5-LOW', -2, 4000000.0),
             |m AS (SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
             |      FROM o GROUP BY 1),
             |d AS (SELECT o.*, m.med FROM o JOIN m USING (o_orderpriority)),
             |md AS (SELECT o_orderpriority, quantile_cont(abs(o_totalprice - med), 0.5) AS mad
             |       FROM d GROUP BY 1),
             |r AS (SELECT d.o_orderpriority, d.o_orderkey,
             |        round((d.o_totalprice - d.med) / (1.4826 * nullif(md.mad, 0)), 4) AS rz
             |      FROM d JOIN md USING (o_orderpriority))
             |SELECT o_orderpriority, o_orderkey, rz FROM r WHERE abs(rz) > 3.0
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val spiked = Tables.orders(spark, dir)
          .select("o_orderpriority", "o_orderkey", "o_totalprice")
          .unionByName(Seq(("1-URGENT", -1L, 5000000.0), ("5-LOW", -2L, 4000000.0))
            .toDF("o_orderpriority", "o_orderkey", "o_totalprice"))
        Outliers.madOutliers(spiked, Seq("o_orderpriority"), "o_totalprice", k = 3.0)
          .select("o_orderpriority", "o_orderkey", "rz")
      }),

    // ----- W4 — per-group z-score outliers: ONE shuffle (window aggregates,
    // no agg+join-back); score rounded before output AND threshold compare
    // so group-sum association order can't flip a boundary row's flag.
    // o_totalprice is near-UNIFORM in the testdata (max |z| ≈ √3 < 2), so
    // genuine 3σ spikes are SYNTHESIZED identically in both engines — the
    // same make-the-interesting-path-fire discipline as txt_redact_pii; a
    // gate whose flag never fires would be vacuous at every SF.
    GQ("w4_zscore_outliers",
      Some("""WITH o AS (SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
             |          UNION ALL
             |          SELECT '1-URGENT', -1, 5000000.0
             |          UNION ALL SELECT '5-LOW', -2, 4000000.0),
             |w AS (SELECT o_orderpriority, o_orderkey,
             |  round((o_totalprice - avg(o_totalprice) OVER (PARTITION BY o_orderpriority))
             |        / nullif(stddev_samp(o_totalprice) OVER (PARTITION BY o_orderpriority), 0), 4) AS z
             |  FROM o)
             |SELECT o_orderpriority, o_orderkey, z FROM w WHERE abs(z) > 3.0
             |""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val spiked = Tables.orders(spark, dir)
          .select("o_orderpriority", "o_orderkey", "o_totalprice")
          .unionByName(Seq(("1-URGENT", -1L, 5000000.0), ("5-LOW", -2L, 4000000.0))
            .toDF("o_orderpriority", "o_orderkey", "o_totalprice"))
        Outliers.outliers(spiked, Seq("o_orderpriority"), "o_totalprice", k = 3.0)
          .select("o_orderpriority", "o_orderkey", "z")
      }),
  )
}
