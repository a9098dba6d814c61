package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.{Posture, SparkSpec}
import graft.io.{Catalog, ParquetIO}
import graft.ops._
import graft.pipeline.Model.RawQuote

/** The transform jobs' plan shape: one shuffle exchange per job, with the
  * same rows as the two-exchange plans they replace (lag by `codigoAcao`
  * alone; full-row dedup before the keyed dedup), and one file per refined
  * partition directory once AQE coalesces the date's small shuffle. The
  * jobs run under the bench posture (AQE off), which they override.
  */
class PipelinePlanSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  import PipelinePlanSpec._

  private val zones = Files.createTempDirectory("graft-plan").toString
  private val cfg = Jobs.Config(
    rawStocks = s"$zones/raw/stocks", rawNews = s"$zones/raw/news",
    refinedStocks = s"$zones/refined/stocks", refinedNews = s"$zones/refined/news",
    stockDb = "pp_stock_db", newsDb = "pp_news_db", processDate = "")

  private def q(date: String, ticker: String, close: Double, volume: Long) =
    RawQuote(date, ticker, close, close + 0.5, close - 0.5, close, volume)

  private def art(ticker: String, title: String, link: String, pub: String, ext: String) =
    Seq(ticker, "Co", "Sector", title, "g1", link, pub, "term", ext)

  // two tickers in one sector (Banks), one in another; a full-duplicate news
  // row and a link seen with two titles on each date, and one link on both
  private val dates = Seq(
    "20240503" -> (Seq(
      q("2024-05-02", "ITUB4.SA", 27.0, 100L), q("2024-05-03", "ITUB4.SA", 28.5, 200L),
      q("2024-05-02", "BBDC4.SA", 15.0, 300L), q("2024-05-03", "BBDC4.SA", 14.5, 400L),
      q("2024-05-02", "PETR4.SA", 40.0, 10L), q("2024-05-03", "PETR4.SA", 41.25, 20L)),
    Seq(
      art("ITUB4.SA", "Itau rises", "http://a", "2024-05-03T10:00:00", "2024-05-03T21:00:00"),
      art("ITUB4.SA", "Itau climbs", "http://a", "2024-05-03T11:00:00", "2024-05-03T21:00:00"),
      art("ITUB4.SA", "Same day", "http://d", "2024-05-03T12:00:00", "2024-05-03T21:00:00"),
      art("ITUB4.SA", "Same day", "http://d", "2024-05-03T12:00:00", "2024-05-03T21:00:00"),
      art("ITUB4.SA", "Old news", "http://b", "2024-05-01T09:00:00", "2024-05-03T21:00:00"))),
    "20240504" -> (Seq(
      q("2024-05-03", "ITUB4.SA", 28.5, 200L), q("2024-05-04", "ITUB4.SA", 29.0, 250L),
      q("2024-05-03", "BBDC4.SA", 14.5, 400L), q("2024-05-04", "BBDC4.SA", 15.5, 500L),
      q("2024-05-04", "PETR4.SA", 42.0, 30L)),
    Seq(
      art("ITUB4.SA", "Itau again", "http://a", "2024-05-04T09:00:00", "2024-05-04T21:00:00"),
      art("BBDC4.SA", "Bradesco up", "http://e", "2024-05-04T10:00:00", "2024-05-04T21:00:00"),
      art("BBDC4.SA", "Bradesco up", "http://e", "2024-05-04T10:00:00", "2024-05-04T21:00:00"),
      art("PETR4.SA", "Petro b", "http://f", "2024-05-04T11:00:00", "2024-05-04T21:00:00"),
      art("PETR4.SA", "Petro a", "http://f", "2024-05-04T12:00:00", "2024-05-04T21:00:00"))))

  /** TransformStocksJob's rows as the two-exchange plan computed them. */
  private def parentStocks(c: Jobs.Config): DataFrame = {
    val raw = ParquetIO.readPartitioned(spark, c.rawStocks, Map("dataproc" -> c.processDate))
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
    WindowOps.lagDelta(withAggs, Seq("codigoAcao"), Seq($"data".asc),
      "precoFechamento", "variacaoFechamento")
  }

  /** TransformNewsJob's rows as the two-exchange plan computed them. */
  private def parentNews(c: Jobs.Config): DataFrame = {
    val normalized = SchemaOps.normalizeToStringSchema(
      Catalog.readTable(spark, c.newsDb, "news_raw"), Model.newsColumns :+ "dataproc")
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
    val deduped = AggOps.dedupByKeyOrdered(AggOps.distinctRows(dropped),
      Seq("link"), Seq($"extracted_at".asc, $"title".asc))
    CleanOps.dropNullsIn(deduped, Seq("title", "link", "source"))
  }

  private val stockCols = Model.stocksCleanSchema.fieldNames.toSeq :+ "setor"

  /** Rows as sorted strings: equal sequences are equal multisets. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private lazy val outcomes: Seq[DateOutcome] = {
    val writes = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        refinedWritePath(qe.executedPlan).foreach(p => writes.add(p -> qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try dates.map { case (d, (quotes, news)) =>
      val c = cfg.copy(processDate = d)
      Jobs.extractStocks(spark, new FixtureQuoteSource(quotes), c)
      Jobs.extractNews(spark, new FixtureNewsSource(news), c)
      writes.clear()
      // under the gate bench's posture: the jobs must pin AQE on themselves
      Posture.withConfs(spark, BenchPosture: _*) {
        Jobs.transformStocks(spark, c)
        Jobs.transformNews(spark, c)
      }
      eventually(timeout(30.seconds), interval(50.millis))(assert(writes.size === 2))
      val seen = writes.asScala.toSeq.map { case (path, plan) =>
        (if (path.contains("/refined/stocks")) "stocks" else "news") -> shuffles(plan)
      }.sorted
      // the parent plans, materialized under the same AQE pin
      Posture.withConfs(spark, Posture.pipelineConfs: _*) {
        val ps = parentStocks(c).select(stockCols.map(col): _*)
        val pn = parentNews(c).select(Model.newsColumns.map(col): _*)
        val expectStocks = rows(ps)
        val expectNews = rows(pn)
        DateOutcome(d, seen,
          Seq("news" -> shuffles(pn.queryExecution.executedPlan),
            "stocks" -> shuffles(ps.queryExecution.executedPlan)),
          rows(spark.table(s"${cfg.stockDb}.stocks_clean").where($"dataproc" === d)
            .select(stockCols.map(col): _*)),
          expectStocks,
          rows(spark.table(s"${cfg.newsDb}.news_clean").where($"dataproc" === d)
            .select(Model.newsColumns.map(col): _*)),
          expectNews)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("each transform write's final adaptive plan holds one shuffle exchange") {
    outcomes.foreach { o =>
      assert(o.writeExchanges === Seq("news" -> 1, "stocks" -> 1), o.date)
      assert(o.parentExchanges === Seq("news" -> 2, "stocks" -> 2), o.date)
    }
  }

  test("stocks_clean and news_clean equal the two-exchange plans' rows") {
    outcomes.foreach { o =>
      assert(o.stocks.nonEmpty && o.news.nonEmpty, o.date)
      assert(o.stocks === o.parentStocks, o.date)
      assert(o.news === o.parentNews, o.date)
    }
    // the fixture reaches the cases that matter: a full duplicate kept
    // once, the first title of a link seen with two, and the date-1
    // survivor of a link seen again on date 2
    val last = outcomes.last
    assert(last.news.count(_.contains("http://d")) === 1)
    assert(last.news.count(_.contains("http://e")) === 1)
    assert(last.news.exists(r => r.contains("Itau climbs") && r.contains("2024-05-03T21")))
    assert(last.news.exists(_.contains("Petro a")) && !last.news.exists(_.contains("Petro b")))
  }

  test("each refined partition directory holds one parquet file") {
    assert(outcomes.size === 2)
    def dirs(root: String, depth: Int): Seq[java.io.File] =
      if (depth == 0) Seq(new java.io.File(root))
      else dirs(root, depth - 1).flatMap(_.listFiles().filter(_.isDirectory).toSeq)
    val parts = dirs(cfg.refinedStocks, 2) ++ dirs(cfg.refinedNews, 1)
    assert(parts.size === 2 * 2 + 2, parts.mkString(", "))
    parts.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d.toString)
    }
  }

  test("Model.stockDim has unique tickers, one sector each") {
    // the stocks job lags over (setor, codigoAcao); that partitions exactly
    // like codigoAcao alone only while no ticker has two sectors
    val tickers = Model.stockDim.map(_._2)
    assert(tickers.distinct.size === tickers.size)
  }
}

object PipelinePlanSpec {

  /** The session posture of `graft.Bench` and perfbench: AQE off, 16
    * shuffle partitions (`Posture.benchConfs` without its env knobs). */
  val BenchPosture: Seq[(String, String)] =
    Seq("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "16")

  /** What one fixture date's transform jobs planned and wrote, next to the
    * two-exchange plans' shape and rows. */
  final case class DateOutcome(
      date: String, writeExchanges: Seq[(String, Int)], parentExchanges: Seq[(String, Int)],
      stocks: Seq[String], parentStocks: Seq[String],
      news: Seq[String], parentNews: Seq[String])

  /** Every node of a physical plan, through adaptive plans (their final
    * plan), query stages and command results. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => p.children.flatMap(nodes)
  })

  def shuffles(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  /** The output path of a refined-zone file write, if `p` is one. */
  def refinedWritePath(p: SparkPlan): Option[String] = nodes(p).collectFirst {
    case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _)
        if i.outputPath.toString.contains("/refined/") => i.outputPath.toString
  }
}
