package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
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
  *
  * A date is rerun by running it again: every job replaces only the
  * partitions of its process date ([[publish]]), and `transformNews` reads
  * no history newer than that date.
  *
  * Every per-date step touches that date only, so a date's cost does not
  * grow with history: the emptiness guard is answered from the source's
  * local rows, `transformStocks` lists the date's raw directory alone, and
  * [[publish]] registers the partitions it wrote, not the whole table.
  * `transformNews` is the one history scan, as in the reference.
  */
object Jobs {

  final case class Config(rawStocks: String, rawNews: String,
                          refinedStocks: String, refinedNews: String,
                          stockDb: String = "stock_db", newsDb: String = "news_db",
                          processDate: String)

  /** ExtractStocksJob (`extract_stocks_job.py`): fetch quotes → NaN-safe
    * cast (P1) → lowercase rename (P2) → broadcast dim join (J1) → dataproc
    * tag (P3) → partitioned raw write (K1, dictionary/bloom off) → catalog.
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
    publish(spark, renamed.coalesce(1), cfg, cfg.rawStocks, cfg.stockDb,
      "stock_prices_best_row", Model.stockRawSchema, disableDictionary = true)
  }

  /** ExtractNewsJob (`extract_news_job.py`): fetch (sanitized at ingest,
    * P13) → dataproc tag → partitioned raw write → catalog. The reference
    * drops and recreates `news_raw` on every run (`:326`); its schema is
    * the constant [[Model.newsRawSchema]], so registering the date's
    * partition alone refreshes it.
    */
  def extractNews(spark: SparkSession, source: NewsSource, cfg: Config): Unit = {
    val raw = source.fetchNews(spark, Model.stockDim.map(d => d._2 -> d._3))
    // one raw file per date, as in extractStocks: transformNews's history
    // scan then reads one file per date
    publish(spark, raw.coalesce(1), cfg, cfg.rawNews, cfg.newsDb, "news_raw",
      Model.newsRawSchema)
  }

  /** TransformStocksJob (`transform_stocks_job.py`): read one raw partition
    * (S4: the date's directory only, known schema; no directory, no rows) →
    * date cast + validity filters (P4/P5) →
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

      publish(spark, withVar, cfg, cfg.refinedStocks, cfg.stockDb, "stocks_clean",
        Model.stocksCleanSchema, subPartitions = Seq("setor"))
    }

  /** TransformNewsJob (`transform_news_job.py`): catalog scan (S5) → ISO
    * truncate + parse (P8/P9) → same-day filter (P6) → drop helpers (P7) →
    * keyed dedup (A5, which subsumes the reference's full-row dedup A4: one
    * exchange, on `link`) → na.drop (P10) → partitioned refined write +
    * catalog (K1/K3-equivalent). No schema normalization (the reference's
    * P11): `news_raw` always carries the constant [[Model.newsRawSchema]],
    * so every column it would select is already there, STRING, in order.
    */
  def transformNews(spark: SparkSession, cfg: Config): Unit =
    Posture.withConfs(spark, Posture.pipelineConfs: _*) {
      import spark.implicits._
      // history up to the process date only: a rerun of an earlier date
      // must not see articles of a date that ran after it
      val raw = Catalog.readTable(spark, cfg.newsDb, "news_raw")
        .where($"dataproc" <= cfg.processDate)

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

      publish(spark, complete, cfg, cfg.refinedNews, cfg.newsDb, "news_clean",
        Model.newsRawSchema)
    }

  /** Every job's tail: tag the rows with the process date (P3), write them
    * partitioned by `dataproc +: subPartitions` (K1/K2; every partition
    * column is a STRING), and register the external table over `root`
    * (D1/D2, D6/D8).
    *
    * Running a date again replaces that date's partitions and leaves every
    * other date's alone. A write that produces no rows for the date
    * replaces nothing, so the date's earlier output stays.
    *
    * Registration does the date's work only. A table this session's
    * catalog does not know yet is created and repaired once (MSCK), which
    * is how a fresh JVM's in-memory catalog rediscovers the history. After
    * that, one ADD PARTITION statement registers the directories under
    * `root/dataproc=D`, the reference's boto3 fallback; nothing else is
    * listed. A partition written by anything but this method stays
    * invisible to the session until MSCK runs or a fresh JVM starts.
    */
  private def publish(spark: SparkSession, df: DataFrame, cfg: Config, root: String,
                      db: String, table: String, dataSchema: StructType,
                      subPartitions: Seq[String] = Nil,
                      disableDictionary: Boolean = false): Unit = {
    val partitions = "dataproc" +: subPartitions
    ParquetIO.writePartitioned(CleanOps.withProcessDate(df, cfg.processDate),
      root, partitions, disableDictionary)
    if (Catalog.tableExists(spark, db, table))
      Catalog.addPartitions(spark, db, table,
        partitionDirs(spark, root, partitions, cfg.processDate))
    else {
      Catalog.ensureDatabase(spark, db)
      Catalog.createExternalTable(spark, db, table, dataSchema,
        partitions.map(_ -> "STRING"), root)
      Catalog.repairTable(spark, db, table)
    }
  }

  /** The partition directories under `root/dataproc=date`, one level per
    * partition column, as (spec, location). Lists nothing outside the date.
    */
  private def partitionDirs(spark: SparkSession, root: String, partitions: Seq[String],
                            date: String): Seq[(Map[String, String], String)] = {
    val top = new Path(root, ExternalCatalogUtils.getPartitionPathString(partitions.head, date))
    val fs = top.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dateDir = if (fs.exists(top)) Seq(Map(partitions.head -> date) -> top) else Nil
    partitions.tail.foldLeft(dateDir) { case (dirs, column) =>
      val prefix = ExternalCatalogUtils.escapePathName(column) + "="
      for {
        (spec, dir) <- dirs
        sub <- fs.listStatus(dir).toSeq
        name = sub.getPath.getName
        if sub.isDirectory && name.startsWith(prefix)
      } yield (spec + (column -> ExternalCatalogUtils.unescapePathName(name.drop(prefix.length)))) ->
        sub.getPath
    }.map { case (spec, dir) => spec -> dir.toString }
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
