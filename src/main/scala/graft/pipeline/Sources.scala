package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ops.CleanOps

/** Ingestion boundaries (SURVEY.md §2a S2/S3, §3 E3).
  *
  * The reference pulls yfinance OHLCV and crawls Google News on the DRIVER,
  * then parallelizes. These traits keep that boundary injectable: tests and
  * the hermetic container use fixture sources; [[HttpNewsSource]] (selector
  * port in [[NewsCrawl]]/[[HtmlDoc]]) and [[HttpQuoteSource]] (v8 chart
  * JSON) are the HTTP implementations, with the transport itself injected
  * so the parse paths stay offline-testable. Each builds its frame with
  * `createDataFrame` over the driver's rows, a local relation, so
  * [[Jobs.extractStocks]]'s emptiness guard is answered without a job.
  *
  * 100 TB posture: driver-side ingestion is only acceptable for the
  * reference's ≤10k rows/day. At scale the implementation should become a
  * DataSourceV2 `TableProvider` (or pre-staged files read by executors);
  * the trait's contract — "produce the raw DataFrame" — doesn't change.
  */
trait QuoteSource {
  /** Long-form OHLCV rows for the given tickers (S2 + S6 pre-applied). */
  def fetchQuotes(spark: SparkSession, tickers: Seq[String]): DataFrame
}

trait NewsSource {
  /** Raw article rows matching Model.newsRawSchema's 9 columns (S3). */
  def fetchNews(spark: SparkSession, searchTerms: Seq[(String, String)]): DataFrame
}

/** Fixture-backed sources for tests/hermetic runs. Driver-side string
  * sanitation (P13) applies exactly where the reference does it — at
  * ingest, before `createDataFrame` (`extract_news_job.py:142-155`).
  */
final class FixtureQuoteSource(rows: Seq[Model.RawQuote]) extends QuoteSource {
  def fetchQuotes(spark: SparkSession, tickers: Seq[String]): DataFrame = {
    import spark.implicits._
    val tset = tickers.toSet
    rows.filter(r => tset.contains(r.Ticker)).toDF()
  }
}

final class FixtureNewsSource(rows: Seq[Seq[String]]) extends NewsSource {
  def fetchNews(spark: SparkSession, searchTerms: Seq[(String, String)]): DataFrame = {
    val sanitized = rows.map(r => Row.fromSeq(r.map {
      case s: String => CleanOps.sanitizeString(s)
      case other => other
    }))
    spark.createDataFrame(sanitized.asJava, Model.newsRawSchema)
  }
}
