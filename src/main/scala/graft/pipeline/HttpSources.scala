package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ops.CleanOps

/** HTTP-backed S2/S3 source implementations. The transport is an injected
  * `String => String` so every parse path is unit-testable offline (this
  * container has no egress); [[Http.fetcher]] is the production transport.
  *
  * Ingestion is DRIVER-side by design, mirroring the reference
  * (`extract_news_job.py`, `extract_stocks_job.py`): ≤10k rows/day of
  * external API data. The 100 TB path (DataSourceV2 / pre-staged files)
  * is documented at the [[QuoteSource]]/[[NewsSource]] trait boundary.
  */
object Http {

  /** The reference's browser-mimicking headers (`extract_news_job.py:55-63`). */
  val headers: Map[String, String] = Map(
    "User-Agent" -> ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"),
    "Accept" -> "text/html,application/xhtml+xml,application/xml;q=0.9,image/webp,*/*;q=0.8",
    "Accept-Language" -> "pt-BR,pt;q=0.9,en;q=0.8")

  /** GET transport on `java.net.http` with the crawl headers; 15 s timeout
    * like the reference's `session.get(url, timeout=15)`.
    */
  def fetcher(timeoutSeconds: Long = 15): String => String = {
    lazy val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(timeoutSeconds))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()
    url => {
      val req = headers.foldLeft(
          HttpRequest.newBuilder(URI.create(url))
            .timeout(Duration.ofSeconds(timeoutSeconds)).GET()) {
        case (b, (k, v)) => b.header(k, v)
      }.build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 400)
        throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
      resp.body()
    }
  }
}

/** S3 — Google News crawl: per-company search terms → fetch → selector
  * parse ([[NewsCrawl]]) → sanitized 9-column raw rows. Failures on one
  * term skip that term (reference's per-term try/except,
  * `extract_news_job.py:232-239`); `pauseMs` rate-limits between requests
  * (`sleep(2)`).
  */
final class HttpNewsSource(fetch: String => String,
                           pauseMs: Long = 2000,
                           now: () => String = () => DateTimeFormatter.ISO_LOCAL_DATE_TIME
                             .format(Instant.now().atOffset(ZoneOffset.UTC).toLocalDateTime))
    extends NewsSource {

  private val sectorOf: Map[String, String] = Model.stockDim.map(d => d._2 -> d._1).toMap

  def fetchNews(spark: SparkSession, searchTerms: Seq[(String, String)]): DataFrame = {
    val rows = for {
      (ticker, company) <- searchTerms
      term <- NewsCrawl.searchTermsFor(company, ticker)
      article <- fetchTerm(term)
    } yield {
      val s = CleanOps.sanitizeString _
      Row(s(ticker), s(company), s(sectorOf.getOrElse(ticker, "Unknown")),
        s(article.title), s(article.source), s(article.link),
        s(article.publishedTime), s(term), s(now()))
    }
    spark.createDataFrame(rows.asJava, Model.newsRawSchema)
  }

  private def fetchTerm(term: String): Seq[NewsCrawl.ParsedArticle] = {
    val out = try NewsCrawl.parseArticles(fetch(NewsCrawl.searchUrl(term)))
    catch { case scala.util.control.NonFatal(_) => Seq.empty }
    if (pauseMs > 0) Thread.sleep(pauseMs)
    out
  }
}

/** Yahoo-v8 chart endpoint: URL shape + JSON→long-form-row parsing, shared
  * by the driver-side [[HttpQuoteSource]] and the executor-side
  * DataSourceV2 reader ([[graft.sources.QuoteDataSource]]).
  */
object ChartJson {

  // one reusable instance — ObjectMapper construction is expensive and
  // readTree is thread-safe; a 10k-ticker scan must not build 10k mappers
  private val mapper = new ObjectMapper()

  val schema: StructType = StructType(Seq(
    StructField("Date", StringType), StructField("Ticker", StringType),
    StructField("Close", DoubleType), StructField("High", DoubleType),
    StructField("Low", DoubleType), StructField("Open", DoubleType),
    StructField("Volume", LongType)))

  def chartUrl(ticker: String): String = {
    // index tickers like ^BVSP contain URI-illegal chars; unencoded they
    // make URI.create throw, which the per-ticker catch would silently
    // swallow as "no data"
    s"https://query1.finance.yahoo.com/v8/finance/chart/${NewsCrawl.percentEncode(ticker)}" +
      "?range=1d&interval=1m&includePrePost=true"
  }

  /** Parse one v8 chart JSON document into long-form rows. */
  def parse(json: String): Seq[Row] = {
    val result = mapper.readTree(json).path("chart").path("result")
    if (!result.isArray || result.isEmpty) return Seq.empty
    val r0 = result.get(0)
    val ticker = r0.path("meta").path("symbol").asText(null)
    val timestamps = r0.path("timestamp")
    val quote = r0.path("indicators").path("quote")
    if (!timestamps.isArray || !quote.isArray || quote.isEmpty) return Seq.empty
    val q = quote.get(0)
    def series(name: String): IndexedSeq[JsonNode] =
      q.path(name).elements().asScala.toIndexedSeq
    val (close, high, low, open, vol) =
      (series("close"), series("high"), series("low"), series("open"), series("volume"))
    def dbl(xs: IndexedSeq[JsonNode], i: Int): Any =
      if (i < xs.size && xs(i).isNumber) xs(i).asDouble() else null
    def lng(xs: IndexedSeq[JsonNode], i: Int): Any =
      if (i < xs.size && xs(i).isNumber) xs(i).asLong() else null
    // trading date in the EXCHANGE's timezone (reference parity: yfinance
    // returns exchange-local datetimes) — an evening pre/post bar crossing
    // 00:00 UTC must not land on the next calendar day
    val zone = try java.time.ZoneId.of(
        r0.path("meta").path("exchangeTimezoneName").asText("UTC"))
      catch { case scala.util.control.NonFatal(_) => ZoneOffset.UTC }
    val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(zone)
    timestamps.elements().asScala.toIndexedSeq.zipWithIndex.map { case (ts, i) =>
      val date = dateFmt.format(Instant.ofEpochSecond(ts.asLong()))
      Row(date, ticker, dbl(close, i), dbl(high, i), dbl(low, i), dbl(open, i), lng(vol, i))
    }
  }
}

/** S2 — quote ingestion against the public Yahoo Finance v8 chart endpoint
  * (the API yfinance's `download()` wraps; `extract_stocks_job.py:86-93`
  * calls it with period=1d, interval=1m, prepost=True). One request per
  * ticker; each JSON response parses to long-form OHLCV rows matching
  * [[FixtureQuoteSource]]'s schema. NaN/null points stay NULL — the P1
  * NaN→NULL cast downstream sees identical input either way.
  *
  * DRIVER-side fetch loop (reference parity, fine at ≤10k rows/day); the
  * executor-side 100 TB shape of the same source is
  * [[graft.sources.QuoteDataSource]] (`spark.read.format("graft-quotes")`).
  */
final class HttpQuoteSource(fetch: String => String) extends QuoteSource {

  def fetchQuotes(spark: SparkSession, tickers: Seq[String]): DataFrame = {
    val rows = tickers.flatMap { t =>
      try ChartJson.parse(fetch(ChartJson.chartUrl(t)))
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    }
    spark.createDataFrame(rows.asJava, ChartJson.schema)
  }
}
