package graft.pipeline

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.io.Catalog
import graft.pipeline.Model.RawQuote

/** Rerunning a date: the daily run has no retries, so a failed date is
  * repaired by running it again. A rerun must leave the four catalog
  * tables as one clean run would, and must not touch any other date.
  */
class PipelineRerunSpec extends AnyFunSuite with SparkSpec {

  private val D = "20240503"
  private val D1 = "20240504"

  private def q(date: String, ticker: String, close: Double, volume: Long) =
    RawQuote(date, ticker, close, close + 0.5, close - 0.5, close, volume)

  private def art(ticker: String, title: String, link: String, pub: String, ext: String) =
    Seq(ticker, "Co", "Sector", title, "g1", link, pub, "term", ext)

  // each date's fetch overlaps the one before (a quote window, and a link
  // seen on both dates); D+1 has same-day articles of its own
  private val quotes = Map(
    D -> Seq(
      q("2024-05-02", "ITUB4.SA", 27.0, 100L), q("2024-05-03", "ITUB4.SA", 28.5, 200L),
      q("2024-05-02", "BBDC4.SA", 15.0, 300L), q("2024-05-03", "BBDC4.SA", 14.5, 400L),
      q("2024-05-03", "PETR4.SA", 41.25, 20L)),
    D1 -> Seq(
      q("2024-05-03", "ITUB4.SA", 28.5, 200L), q("2024-05-04", "ITUB4.SA", 29.0, 250L),
      q("2024-05-04", "PETR4.SA", 42.0, 30L)))
  private val news = Map(
    D -> Seq(
      art("ITUB4.SA", "Itau rises", "http://a", "2024-05-03T10:00:00", "2024-05-03T21:00:00"),
      art("ITUB4.SA", "Same day", "http://d", "2024-05-03T12:00:00", "2024-05-03T21:00:00"),
      art("ITUB4.SA", "Old news", "http://b", "2024-05-01T09:00:00", "2024-05-03T21:00:00")),
    D1 -> Seq(
      art("ITUB4.SA", "Itau again", "http://a", "2024-05-04T09:00:00", "2024-05-04T21:00:00"),
      art("PETR4.SA", "Petro up", "http://f", "2024-05-04T11:00:00", "2024-05-04T21:00:00")))

  /** A new set of zones and databases. */
  private def fresh(name: String): Jobs.Config = {
    val zones = Files.createTempDirectory(s"graft-rerun-$name").toString
    Jobs.Config(
      rawStocks = s"$zones/raw/stocks", rawNews = s"$zones/raw/news",
      refinedStocks = s"$zones/refined/stocks", refinedNews = s"$zones/refined/news",
      stockDb = s"rr_${name}_stock_db", newsDb = s"rr_${name}_news_db", processDate = "")
  }

  private def at(cfg: Jobs.Config, date: String) = cfg.copy(processDate = date)
  private def quotesOf(date: String) = new FixtureQuoteSource(quotes(date))
  private def newsOf(date: String) = new FixtureNewsSource(news(date))

  private def run(cfg: Jobs.Config, date: String): Unit =
    Pipeline.runAll(spark, quotesOf(date), newsOf(date), at(cfg, date))

  /** Per catalog table: its rows as a multiset and its partitions. */
  private def state(cfg: Jobs.Config): Map[String, (Map[String, Int], Set[String])] =
    Seq(cfg.stockDb -> "stock_prices_best_row", cfg.newsDb -> "news_raw",
        cfg.stockDb -> "stocks_clean", cfg.newsDb -> "news_clean").map { case (db, t) =>
      val rows = Catalog.readTable(spark, db, t).collect().toSeq
        .groupBy(_.toString).map { case (r, rs) => r -> rs.size }
      t -> (rows, Catalog.showPartitions(spark, db, t).toSet)
    }.toMap

  /** Every file under the zones' `dataproc=date` directories, with its
    * size and modification time. */
  private def filesOf(cfg: Jobs.Config, date: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    Seq(cfg.rawStocks, cfg.rawNews, cfg.refinedStocks, cfg.refinedNews).flatMap { root =>
      walk(new File(root, s"dataproc=$date"))
    }.map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  private lazy val cleanD = { val c = fresh("clean1"); run(c, D); state(c) }
  private lazy val cleanDD1 = { val c = fresh("clean2"); run(c, D); run(c, D1); state(c) }

  test("running a date twice equals running it once") {
    val c = fresh("twice")
    run(c, D)
    run(c, D)
    assert(cleanD.values.forall(_._1.nonEmpty))
    assert(state(c) === cleanD)
  }

  test("rerunning a date leaves a later date's files untouched and equals a clean history") {
    val c = fresh("later")
    run(c, D)
    run(c, D1)
    val later = filesOf(c, D1)
    assert(later.keys.exists(_.endsWith(".parquet")))
    run(c, D)
    assert(filesOf(c, D1) === later)
    assert(state(c) === cleanDD1)
  }

  test("a full rerun after a run that stopped before transformNews equals one clean run") {
    val c = fresh("partial")
    Jobs.extractStocks(spark, quotesOf(D), at(c, D))
    Jobs.extractNews(spark, newsOf(D), at(c, D))
    Jobs.transformStocks(spark, at(c, D))
    run(c, D)
    assert(state(c) === cleanD)
  }
}
