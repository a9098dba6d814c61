package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.io.Catalog
import graft.pipeline.Model.RawQuote

/** What a date's publish promises beyond its rows: an extraction of zero
  * rows fails before any write or catalog statement, and registering only
  * the partitions a date wrote leaves each catalog table with exactly the
  * partitions MSCK REPAIR finds over the same root.
  */
class PipelinePublishSpec extends AnyFunSuite with SparkSpec {

  private val D = "20240503"
  private val D1 = "20240504"

  /** New zones and databases. */
  private def fresh(name: String): Jobs.Config = {
    val zones = Files.createTempDirectory(s"graft-publish-$name").toString
    Jobs.Config(
      rawStocks = s"$zones/raw/stocks", rawNews = s"$zones/raw/news",
      refinedStocks = s"$zones/refined/stocks", refinedNews = s"$zones/refined/news",
      stockDb = s"pub_${name}_stock_db", newsDb = s"pub_${name}_news_db", processDate = D)
  }

  /** `body`'s result and the number of Spark jobs it started. Jobs are told
    * apart by job group; a marker job run afterwards, seen by the listener,
    * means every earlier job start has been delivered too. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val id = java.util.UUID.randomUUID().toString
      sc.setJobGroup(s"body-$id", "publish", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"marker-$id", "marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(20.millis))(assert(groups.contains(s"marker-$id")))
      (out, groups.asScala.count(_ == s"body-$id"))
    } finally sc.removeSparkListener(listener)
  }

  Seq(
    "an empty fixture source" -> new FixtureQuoteSource(Nil),
    "an HTTP source whose every fetch fails" ->
      new HttpQuoteSource(_ => throw new java.io.IOException("no route to host"))
  ).zipWithIndex.foreach { case ((what, source), i) =>
    test(s"extractStocks on $what fails before any write or catalog statement") {
      val cfg = fresh(s"empty$i")
      val (err, jobs) = jobsDuring(
        intercept[IllegalArgumentException](Jobs.extractStocks(spark, source, cfg)))
      assert(err.getMessage.contains("extraction yielded 0 rows"))
      assert(!new File(cfg.rawStocks, s"dataproc=$D").exists())
      assert(!spark.catalog.databaseExists(cfg.stockDb))
      assert(!Catalog.tableExists(spark, cfg.stockDb, "stock_prices_best_row"))
      assert(jobs === 0, "the guard reads the source's local rows on the driver")
    }
  }

  private def q(date: String, ticker: String, close: Double, volume: Long) =
    RawQuote(date, ticker, close, close + 0.5, close - 0.5, close, volume)

  private def art(ticker: String, title: String, link: String, at: String) =
    Seq(ticker, "Co", "Sector", title, "g1", link, at, "term", at)

  test("registering the partitions a date wrote equals MSCK's rediscovery, a new sector included") {
    val cfg = fresh("msck")
    def run(date: String, quotes: Seq[RawQuote], news: Seq[Seq[String]]): Unit =
      Pipeline.runAll(spark, new FixtureQuoteSource(quotes), new FixtureNewsSource(news),
        cfg.copy(processDate = date))
    val quotesD = Seq(q("2024-05-03", "ITUB4.SA", 28.5, 200L), q("2024-05-03", "PETR4.SA", 41.0, 20L))
    run(D, quotesD, Seq(art("ITUB4.SA", "Itau rises", "http://a", "2024-05-03T10:00:00")))
    run(D1, Seq(q("2024-05-04", "ITUB4.SA", 29.0, 250L), q("2024-05-04", "PETR4.SA", 42.0, 30L)),
      Seq(art("PETR4.SA", "Petro up", "http://f", "2024-05-04T11:00:00")))
    // the rerun of D fetches one more ticker, of a sector D did not have
    run(D, quotesD :+ q("2024-05-03", "BBSE3.SA", 33.0, 40L),
      Seq(art("BBSE3.SA", "Seguridade", "http://g", "2024-05-03T12:00:00")))

    Seq((cfg.stockDb, "stock_prices_best_row", cfg.rawStocks, Model.stockRawSchema, Nil),
        (cfg.newsDb, "news_raw", cfg.rawNews, Model.newsRawSchema, Nil),
        (cfg.stockDb, "stocks_clean", cfg.refinedStocks, Model.stocksCleanSchema, Seq("setor")),
        (cfg.newsDb, "news_clean", cfg.refinedNews, Model.newsRawSchema, Nil)
    ).foreach { case (db, table, root, schema, sub) =>
      val rediscovered = s"${table}_msck"
      Catalog.createExternalTable(spark, db, rediscovered, schema,
        ("dataproc" +: sub).map(_ -> "STRING"), root)
      Catalog.repairTable(spark, db, rediscovered)
      val msck = Catalog.showPartitions(spark, db, rediscovered).toSet
      assert(msck.nonEmpty, table)
      assert(Catalog.showPartitions(spark, db, table).toSet === msck, table)
    }
    assert(Catalog.showPartitions(spark, cfg.stockDb, "stocks_clean").toSet === Set(
      s"dataproc=$D/setor=Banks", s"dataproc=$D/setor=Energy", s"dataproc=$D/setor=Insurance",
      s"dataproc=$D1/setor=Banks", s"dataproc=$D1/setor=Energy"))
    assert(Catalog.readTable(spark, cfg.stockDb, "stocks_clean")
      .where(col("setor") === "Insurance").count() === 1)
  }
}
