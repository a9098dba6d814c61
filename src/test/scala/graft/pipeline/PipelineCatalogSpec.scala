package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.io.Catalog
import graft.pipeline.Model.RawQuote

/** Every pipeline table is read and written through the catalog: a
  * session whose catalog has never seen the tables finds them over their
  * files, a date's read lists that date alone, and the writer settings
  * stored with each table reach the files an insert writes.
  */
class PipelineCatalogSpec extends AnyFunSuite with SparkSpec {

  private val D = "20240503"
  private val D1 = "20240504"

  private def q(date: String, ticker: String, close: Double, volume: Long) =
    RawQuote(date, ticker, close, close + 0.5, close - 0.5, close, volume)

  private def art(ticker: String, title: String, link: String, pub: String, ext: String) =
    Seq(ticker, "Co", "Sector", title, "g1", link, pub, "term", ext)

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
      art("ITUB4.SA", "Same day", "http://d", "2024-05-03T12:00:00", "2024-05-03T21:00:00")),
    D1 -> Seq(
      art("ITUB4.SA", "Itau again", "http://a", "2024-05-04T09:00:00", "2024-05-04T21:00:00"),
      art("PETR4.SA", "Petro up", "http://f", "2024-05-04T11:00:00", "2024-05-04T21:00:00")))

  /** New zones and databases. */
  private def fresh(name: String): Jobs.Config = {
    val zones = Files.createTempDirectory(s"graft-catalog-$name").toString
    Jobs.Config(
      rawStocks = s"$zones/raw/stocks", rawNews = s"$zones/raw/news",
      refinedStocks = s"$zones/refined/stocks", refinedNews = s"$zones/refined/news",
      stockDb = s"pc_${name}_stock_db", newsDb = s"pc_${name}_news_db", processDate = "")
  }

  private def at(cfg: Jobs.Config, date: String) = cfg.copy(processDate = date)

  private def extract(cfg: Jobs.Config, date: String): Unit = {
    Jobs.extractStocks(spark, new FixtureQuoteSource(quotes(date)), at(cfg, date))
    Jobs.extractNews(spark, new FixtureNewsSource(news(date)), at(cfg, date))
  }

  private def run(cfg: Jobs.Config, date: String): Unit =
    Pipeline.runAll(spark, new FixtureQuoteSource(quotes(date)),
      new FixtureNewsSource(news(date)), at(cfg, date))

  /** Rows as sorted strings: equal sequences are equal multisets. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def refined(cfg: Jobs.Config): Seq[Seq[String]] = Seq(
    rows(Catalog.readTable(spark, cfg.stockDb, "stocks_clean")),
    rows(Catalog.readTable(spark, cfg.newsDb, "news_clean")))

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
      sc.setJobGroup(s"body-$id", "catalog read", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"marker-$id", "marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(20.millis))(assert(groups.contains(s"marker-$id")))
      (out, groups.asScala.count(_ == s"body-$id"))
    } finally sc.removeSparkListener(listener)
  }

  test("transforms on a catalog that has never seen the tables equal an uninterrupted run") {
    val clean = fresh("clean")
    run(clean, D)
    run(clean, D1)

    val c = fresh("cold")
    run(c, D)
    extract(c, D1)
    // what a fresh JVM's in-memory catalog sees: the files, and no tables
    Seq(c.stockDb, c.newsDb).foreach(db => spark.sql(s"DROP DATABASE `$db` CASCADE"))
    Jobs.transformStocks(spark, at(c, D1))
    Jobs.transformNews(spark, at(c, D1))

    assert(refined(clean).forall(_.nonEmpty))
    assert(refined(c) === refined(clean))
  }

  test("a date's catalog read: one partition's rows, STRING dataproc, no job before the action") {
    val c = fresh("read")
    extract(c, D)
    extract(c, D1)
    val (df, jobs) = jobsDuring {
      val d = Catalog.readTable(spark, c.stockDb, "stock_prices_best_row")
        .where(col("dataproc") === D1)
      d.queryExecution.executedPlan
      d
    }
    assert(jobs === 0, "no footer-inference job")
    assert(df.schema === Model.stockRawSchema.add("dataproc", StringType))
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains(s"/dataproc=$D1/")))
    assert(rows(df.select("ticker", "date", "dataproc")) === quotes(D1)
      .map(r => s"[${r.Ticker},${r.Date},$D1]").sorted)
  }

  test("the writer settings ride with the tables: snappy everywhere, no dictionary in raw stocks") {
    val c = fresh("footers")
    run(c, D)
    run(c, D1)
    def chunks(root: String): Seq[ColumnChunkMetaData] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val files = walk(new File(root)).filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty, root)
      files.flatMap { f =>
        val in = HadoopInputFile.fromPath(new Path(f.getPath), spark.sparkContext.hadoopConfiguration)
        val reader = ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        finally reader.close()
      }
    }
    def dictionary(c: ColumnChunkMetaData) = c.getEncodings.asScala.exists(_.usesDictionary)
    val zones = Seq(c.rawStocks, c.rawNews, c.refinedStocks, c.refinedNews).map(r => r -> chunks(r))
    zones.foreach { case (root, cs) =>
      assert(cs.forall(_.getCodec == CompressionCodecName.SNAPPY), root)
    }
    val raw = zones.head._2
    assert(!raw.exists(dictionary), raw.filter(dictionary).map(_.getPath).mkString(", "))
    // the check can see a dictionary: the other tables keep parquet's default
    assert(zones(1)._2.exists(dictionary))
  }
}
