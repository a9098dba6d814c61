package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Posture
import graft.io.{Catalog, ParquetIO}
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
  */
object Jobs {

  final case class Config(rawStocks: String, rawNews: String,
                          refinedStocks: String, refinedNews: String,
                          stockDb: String = "stock_db", newsDb: String = "news_db",
                          processDate: String)

  /** ExtractStocksJob (`extract_stocks_job.py`): fetch quotes → NaN-safe
    * cast (P1) → lowercase rename (P2) → broadcast dim join (J1) → dataproc
    * tag (P3) → partitioned raw write (K1, dictionary/bloom off) → catalog.
    */
  def extractStocks(spark: SparkSession, source: QuoteSource, cfg: Config): Unit = {
    import spark.implicits._
    val dim = Model.stockDim.toDF("Sector", "Ticker", "Company")
    val raw = source.fetchQuotes(spark, Model.stockDim.map(_._2))
    require(raw.limit(1).count() > 0, "extraction yielded 0 rows") // :363-365 guard

    val typed = CleanOps.nanSafeCast(raw.select(
        "Date", "Ticker", "Close", "High", "Low", "Open", "Volume"),
      Seq("Date" -> StringType, "Ticker" -> StringType, "Close" -> DoubleType,
        "High" -> DoubleType, "Low" -> DoubleType, "Open" -> DoubleType,
        "Volume" -> LongType))
    val joined = JoinOps.enrichWithDim(typed, dim, Seq("Ticker"))
    val renamed = CleanOps.renameAll(joined,
      joined.columns.map(c => c -> c.toLowerCase).toMap)
    val tagged = CleanOps.withProcessDate(renamed, cfg.processDate)

    ParquetIO.writePartitioned(tagged, cfg.rawStocks, Seq("dataproc"),
      disableDictionary = true)
    Catalog.ensureDatabase(spark, cfg.stockDb)
    Catalog.createExternalTable(spark, cfg.stockDb, "stock_prices_best_row",
      Model.stockRawSchema, Seq("dataproc" -> "STRING"), cfg.rawStocks)
    Catalog.repairTable(spark, cfg.stockDb, "stock_prices_best_row")
  }

  /** ExtractNewsJob (`extract_news_job.py`): fetch (sanitized at ingest,
    * P13) → dataproc tag → partitioned raw write → fresh catalog table.
    */
  def extractNews(spark: SparkSession, source: NewsSource, cfg: Config): Unit = {
    val raw = source.fetchNews(spark, Model.stockDim.map(d => d._2 -> d._3))
    val tagged = CleanOps.withProcessDate(raw, cfg.processDate)
    ParquetIO.writePartitioned(tagged, cfg.rawNews, Seq("dataproc"))
    Catalog.ensureDatabase(spark, cfg.newsDb)
    Catalog.dropTable(spark, cfg.newsDb, "news_raw") // recreate-fresh (:326)
    Catalog.createExternalTable(spark, cfg.newsDb, "news_raw",
      Model.newsRawSchema, Seq("dataproc" -> "STRING"), cfg.rawNews)
    Catalog.repairTable(spark, cfg.newsDb, "news_raw")
  }

  /** TransformStocksJob (`transform_stocks_job.py`): read one raw partition
    * (S4, pruned, known schema) → date cast + validity filters (P4/P5) →
    * Portuguese rename (P2) → per-sector aggregates attached (A1+J2) →
    * lag-window variation (W1, P12, P7) → two-level partitioned refined
    * write (K2). Both windows share the one exchange on `setor`.
    */
  def transformStocks(spark: SparkSession, cfg: Config): Unit =
    Posture.withConfs(spark, Posture.pipelineConfs: _*) {
      import spark.implicits._
      val raw = ParquetIO.readPartitioned(spark, cfg.rawStocks,
        Map("dataproc" -> cfg.processDate),
        Some(Model.stockRawSchema.add("dataproc", StringType)))

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

      ParquetIO.writePartitioned(
        CleanOps.withProcessDate(withVar, cfg.processDate),
        cfg.refinedStocks, Seq("dataproc", "setor"))
      Catalog.ensureDatabase(spark, cfg.stockDb)
      Catalog.createExternalTable(spark, cfg.stockDb, "stocks_clean",
        Model.stocksCleanSchema,
        Seq("dataproc" -> "STRING", "setor" -> "STRING"), cfg.refinedStocks)
      Catalog.repairTable(spark, cfg.stockDb, "stocks_clean")
    }

  /** TransformNewsJob (`transform_news_job.py`): catalog scan (S5) → dynamic
    * schema normalization (P11) → ISO truncate + parse (P8/P9) → same-day
    * filter (P6) → drop helpers (P7) → keyed dedup (A5, which subsumes the
    * reference's full-row dedup A4: one exchange, on `link`) → na.drop
    * (P10) → partitioned refined write + catalog (K1/K3-equivalent).
    */
  def transformNews(spark: SparkSession, cfg: Config): Unit =
    Posture.withConfs(spark, Posture.pipelineConfs: _*) {
      import spark.implicits._
      val raw = Catalog.readTable(spark, cfg.newsDb, "news_raw")

      val normalized = SchemaOps.normalizeToStringSchema(
        raw, Model.newsColumns :+ "dataproc")
      val required = Seq("title", "link", "published_time", "extracted_at")
      require(required.forall(normalized.columns.contains),
        s"missing required columns") // :100-102 guard

      val dated = CleanOps.parseDate(
        CleanOps.parseDate(
          CleanOps.truncateIsoToDate(
            CleanOps.truncateIsoToDate(normalized, "published_time", "published_date_str"),
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

      ParquetIO.writePartitioned(complete.drop("dataproc")
          .transform(CleanOps.withProcessDate(_, cfg.processDate)),
        cfg.refinedNews, Seq("dataproc"))
      Catalog.ensureDatabase(spark, cfg.newsDb)
      Catalog.createExternalTable(spark, cfg.newsDb, "news_clean",
        Model.newsRawSchema, Seq("dataproc" -> "STRING"), cfg.refinedNews)
      Catalog.repairTable(spark, cfg.newsDb, "news_clean")
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
