package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Posture
import graft.io.Catalog
import graft.ops._

/** The four reference jobs as composable `SparkSession => Unit` stages
  * (SURVEY.md §3). Orchestration (the Step Functions sequencing) is just
  * sequential calls in [[Pipeline.runAll]]; any failure propagates
  * (reference: Catch States.ALL → FailState).
  *
  * Differences from the reference, on purpose (SURVEY.md §4 "write
  * amplification"): no repeated count()/show() actions recomputing the plan,
  * no double catalog+path write, agg-join-back realized as one-shuffle
  * window aggregates, the full-row dedup (A4) subsumed by the keyed one
  * (A5). Each transform job plans one exchange and runs with AQE on
  * ([[graft.Posture.pipelineConfs]]), so a date's small shuffle coalesces
  * to a task or two and each refined partition gets one file.
  *
  * Every job reads and writes its tables through the catalog, as the
  * reference's catalog-built pipeline does: a read is the table filtered
  * on `dataproc`, which lists only the matching partitions, and a write is
  * one insert into the table ([[publish]]), which registers exactly the
  * partitions it creates. So a date's cost does not grow with history,
  * apart from `transformNews`'s history scan, as in the reference.
  *
  * A date is rerun by running it again: every job replaces only the
  * partitions of its process date, and `transformNews` reads no history
  * newer than that date.
  */
object Jobs {

  final case class Config(rawStocks: String, rawNews: String,
                          refinedStocks: String, refinedNews: String,
                          stockDb: String = "stock_db", newsDb: String = "news_db",
                          processDate: String)

  /** One pipeline table: its catalog name, the root of its files, its data
    * columns, its partition columns (`dataproc` first, every one a STRING)
    * and the writer options stored with it.
    */
  private final case class Table(db: String, name: String, root: String, dataSchema: StructType,
                                 partitions: Seq[String] = Seq("dataproc"),
                                 options: Map[String, String] = Map.empty)

  // the reference's explicit dictionary/bloom opt-out on raw stocks
  // (`extract_stocks_job.py:386-393`)
  private def rawStocks(cfg: Config) = Table(cfg.stockDb, "stock_prices_best_row",
    cfg.rawStocks, Model.stockRawSchema, options = Map(
      "parquet.enable.dictionary" -> "false", "parquet.bloom.filter.enabled" -> "false"))
  private def rawNews(cfg: Config) = Table(cfg.newsDb, "news_raw", cfg.rawNews, Model.newsRawSchema)

  /** ExtractStocksJob (`extract_stocks_job.py`): fetch quotes → NaN-safe
    * cast (P1) → lowercase rename (P2) → broadcast dim join (J1) → dataproc
    * tag (P3) → partitioned raw insert through the catalog (K1 by K3,
    * dictionary/bloom off).
    *
    * A fetch of zero rows fails the job before any write or catalog
    * statement (`:363-365`). `isEmpty` on the sources' local relations is
    * answered on the driver, without a job.
    */
  def extractStocks(spark: SparkSession, source: QuoteSource, cfg: Config): Unit = {
    import spark.implicits._
    val dim = Model.stockDim.toDF("Sector", "Ticker", "Company")
    val raw = source.fetchQuotes(spark, Model.stockDim.map(_._2))
    require(!raw.isEmpty, "extraction yielded 0 rows")

    val typed = CleanOps.nanSafeCast(raw.select(
        "Date", "Ticker", "Close", "High", "Low", "Open", "Volume"),
      Seq("Date" -> StringType, "Ticker" -> StringType, "Close" -> DoubleType,
        "High" -> DoubleType, "Low" -> DoubleType, "Open" -> DoubleType,
        "Volume" -> LongType))
    val joined = JoinOps.enrichWithDim(typed, dim, Seq("Ticker"))
    val renamed = CleanOps.renameAll(joined,
      joined.columns.map(c => c -> c.toLowerCase).toMap)
    // one raw file per date: ingestion is driver-side and at most ~10k rows
    // a date, so the local relation's slices would only multiply small files
    // (and every later scan's footer reads)
    publish(spark, renamed.coalesce(1), cfg, rawStocks(cfg))
  }

  /** ExtractNewsJob (`extract_news_job.py`): fetch (sanitized at ingest,
    * P13) → dataproc tag → partitioned raw insert through the catalog. The
    * reference drops and recreates `news_raw` on every run (`:326`); its
    * schema is the constant [[Model.newsRawSchema]], so inserting the date's
    * partition alone refreshes it.
    */
  def extractNews(spark: SparkSession, source: NewsSource, cfg: Config): Unit = {
    val raw = source.fetchNews(spark, Model.stockDim.map(d => d._2 -> d._3))
    // one raw file per date, as in extractStocks: transformNews's history
    // scan then reads one file per date
    publish(spark, raw.coalesce(1), cfg, rawNews(cfg))
  }

  /** TransformStocksJob (`transform_stocks_job.py`): read one raw partition
    * (S4, through the catalog: the date's directory only; none, no rows) →
    * date cast + validity filters (P4/P5) →
    * Portuguese rename (P2) → per-sector aggregates attached (A1+J2) →
    * lag-window variation (W1, P12, P7) → two-level partitioned refined
    * insert (K2 by K3). Both windows share the one exchange on `setor`.
    */
  def transformStocks(spark: SparkSession, cfg: Config): Unit =
    Posture.withConfs(spark, Posture.pipelineConfs: _*) {
      import spark.implicits._
      val raw = read(spark, rawStocks(cfg)).where($"dataproc" === cfg.processDate)

      val cleaned = CleanOps.filterValid(
        CleanOps.castColumns(raw, Map("date" -> DateType, "close" -> DoubleType,
          "high" -> DoubleType, "low" -> DoubleType, "open" -> DoubleType,
          "volume" -> LongType)),
        Seq($"sector".isNotNull, $"close" > 0, $"volume" > 0))

      val renamed = CleanOps.renameAll(cleaned, Map(
        "ticker" -> "codigoAcao", "company" -> "nomeEmpresa", "date" -> "data",
        "close" -> "precoFechamento", "high" -> "precoMaximo",
        "low" -> "precoMinimo", "open" -> "precoAbertura",
        "volume" -> "volumeNegociacao", "sector" -> "setor"))

      val withAggs = JoinOps.withGroupAggregates(renamed, Seq("setor"), Seq(
        "mediaFechamento" -> avg($"precoFechamento"),
        "totalVolume" -> sum($"volumeNegociacao")))

      // (setor, codigoAcao) partitions the lag exactly as codigoAcao alone:
      // the dim join gives each ticker one sector (Model.stockDim's tickers
      // are unique). With setor in the keys, the sector window's
      // hashpartitioning(setor) satisfies this window too: one exchange.
      // lagDelta computes-and-drops the reference's fechamentoAnterior
      // helper column internally (the P7 drop at transform_stocks_job.py:198)
      val withVar = WindowOps.lagDelta(withAggs, Seq("setor", "codigoAcao"),
        Seq($"data".asc), "precoFechamento", "variacaoFechamento")

      publish(spark, withVar, cfg, Table(cfg.stockDb, "stocks_clean", cfg.refinedStocks,
        Model.stocksCleanSchema, Seq("dataproc", "setor")))
    }

  /** TransformNewsJob (`transform_news_job.py`): catalog scan (S5) → ISO
    * truncate + parse (P8/P9) → same-day filter (P6) → drop helpers (P7) →
    * keyed dedup (A5, which subsumes the reference's full-row dedup A4: one
    * exchange, on `link`) → na.drop (P10) → partitioned refined insert
    * through the catalog (K1 by K3). No schema normalization (the reference's
    * P11): `news_raw` always carries the constant [[Model.newsRawSchema]],
    * so every column it would select is already there, STRING, in order.
    */
  def transformNews(spark: SparkSession, cfg: Config): Unit =
    Posture.withConfs(spark, Posture.pipelineConfs: _*) {
      import spark.implicits._
      // history up to the process date only: a rerun of an earlier date
      // must not see articles of a date that ran after it
      val raw = read(spark, rawNews(cfg)).where($"dataproc" <= cfg.processDate)

      val dated = CleanOps.parseDate(
        CleanOps.parseDate(
          CleanOps.truncateIsoToDate(
            CleanOps.truncateIsoToDate(raw, "published_time", "published_date_str"),
            "extracted_at", "extracted_date_str"),
          "published_date_str", "published_date"),
        "extracted_date_str", "extracted_date")

      val sameDay = CleanOps.sameDayFilter(dated, $"published_date", $"extracted_date")
      val dropped = CleanOps.dropColumns(sameDay,
        "published_date_str", "extracted_date_str", "published_date", "extracted_date")

      // no full-row dedup (A4) first: one row survives per link, so a
      // full-row duplicate can never survive twice, and the set of possible
      // survivors is the same with or without it
      val deduped = AggOps.dedupByKeyOrdered(dropped,
        Seq("link"), Seq($"extracted_at".asc, $"title".asc))
      val complete = CleanOps.dropNullsIn(deduped, Seq("title", "link", "source"))

      publish(spark, complete, cfg, Table(cfg.newsDb, "news_clean", cfg.refinedNews,
        Model.newsRawSchema))
    }

  /** Every job's tail: tag the rows with the process date (P3) and insert
    * them into `t` (K1/K2 through K3), columns in the table's order.
    *
    * Running a date again replaces that date's partitions and leaves every
    * other date's alone (the table's dynamic partition overwrite). A write
    * that produces no rows for the date replaces nothing, so the date's
    * earlier output stays. The insert registers the partitions it creates
    * and lists nothing else. A partition written other than by an insert
    * through its table stays invisible to the session until MSCK runs or a
    * fresh JVM starts.
    */
  private def publish(spark: SparkSession, df: DataFrame, cfg: Config, t: Table): Unit = {
    register(spark, t)
    Catalog.appendToTable(CleanOps.withProcessDate(df, cfg.processDate)
      .select((t.dataSchema.fieldNames ++ t.partitions).map(col).toSeq: _*), t.db, t.name)
  }

  /** S5 — `t`'s rows through the catalog; a filter on its partition
    * columns lists only the matching partitions.
    */
  private def read(spark: SparkSession, t: Table): DataFrame = {
    register(spark, t)
    Catalog.readTable(spark, t.db, t.name)
  }

  /** The first touch of `t` in this session, by a read or a write, creates
    * it over its root (D1/D2) and repairs it once (D6): how a fresh JVM's
    * in-memory catalog rediscovers the history.
    */
  private def register(spark: SparkSession, t: Table): Unit =
    if (!Catalog.tableExists(spark, t.db, t.name)) {
      Catalog.ensureDatabase(spark, t.db)
      Catalog.createExternalTable(spark, t.db, t.name, t.dataSchema,
        t.partitions.map(_ -> "STRING"), t.root, t.options)
      Catalog.repairTable(spark, t.db, t.name)
    }
}

object Pipeline {
  /** The Step Functions sequence (`state_machine_definition.json:3-68`):
    * strictly ordered, fail-fast.
    */
  def runAll(spark: SparkSession, quotes: QuoteSource, news: NewsSource,
             cfg: Jobs.Config): Unit = {
    Jobs.extractStocks(spark, quotes, cfg)
    Jobs.extractNews(spark, news, cfg)
    Jobs.transformStocks(spark, cfg)
    Jobs.transformNews(spark, cfg)
  }
}
