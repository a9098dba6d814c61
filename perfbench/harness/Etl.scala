package perfbench

import java.security.MessageDigest
import java.time.{LocalDate, LocalTime, ZoneId, ZonedDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline._

/** Seeded inputs for the `etl_backfill` workload and the model its refined
  * outputs are checked against.
  *
  * Each process date gets one v8-chart JSON document per ticker and one
  * Google-News-shaped results page per search term, keyed by the program's
  * own `ChartJson.chartUrl` / `NewsCrawl.searchUrl`. The shares below are
  * drawn independently per bar or per article card. They are assumptions,
  * not measured: no captured chart or news payloads exist to take them from.
  */
object EtlInputs {
  val BarsPerTicker = 600
  val CardsPerPage = 100
  val NullCloseShare = 0.03
  val ZeroVolumeShare = 0.05
  val PriorDayShare = 0.10
  val BadTimeShare = 0.05
  val ReusedLinkShare = 0.20
  val LinkPoolSize = 2000
  val FirstDate: LocalDate = LocalDate.of(2024, 3, 1)

  /** Every stated share, printed with the run. */
  val shares: Seq[(String, Any)] = Seq(
    "tickers" -> Model.stockDim.size, "bars_per_ticker" -> BarsPerTicker,
    "pages" -> Model.stockDim.size * 4, "cards_per_page" -> CardsPerPage,
    "null_close" -> NullCloseShare, "zero_volume" -> ZeroVolumeShare,
    "prior_day_article" -> PriorDayShare, "unparseable_time" -> BadTimeShare,
    "reused_link" -> ReusedLinkShare, "link_pool" -> LinkPoolSize)

  private val Exchange = ZoneId.of("America/Sao_Paulo")
  private val Sources = Seq("Valor Econômico", "InfoMoney", "Exame", "Estadão", "Folha de S.Paulo")
  private val Words = Seq("lucro", "ações", "alta", "queda", "dividendos", "balanço",
    "mercado", "investidores", "receita", "projeção", "trimestre", "recorde")

  /** A process date's payloads plus what the program must make of them. */
  final case class Day(index: Int, date: LocalDate, payloads: Map[String, String],
                       validBars: Map[String, Int], articles: Seq[(String, String, String)],
                       extractedAt: String) {
    val dataproc: String = date.format(DateTimeFormatter.BASIC_ISO_DATE)
  }

  def day(seed: Long, index: Int): Day = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + index)
    val date = FirstDate.plusDays(index.toLong)
    val payloads = mutable.Map.empty[String, String]
    val valid = mutable.Map.empty[String, Int].withDefaultValue(0)
    Model.stockDim.foreach { case (sector, ticker, _) =>
      val (json, n) = chart(rnd, ticker, date)
      payloads(ChartJson.chartUrl(ticker)) = json
      valid(sector) += n
    }
    val extractedAt = s"${date}T18:00:00"
    val articles = mutable.ArrayBuffer.empty[(String, String, String)]
    var page = 0
    Model.stockDim.foreach { case (_, ticker, company) =>
      NewsCrawl.searchTermsFor(company, ticker).foreach { term =>
        val (html, arts) = newsPage(rnd, date, page, ticker)
        payloads(NewsCrawl.searchUrl(term)) = html
        // (title, link, published_time) of every card the parser must find
        articles ++= arts
        page += 1
      }
    }
    Day(index, date, payloads.toMap, valid.toMap, articles.toSeq, extractedAt)
  }

  private def price(x: Double): String = (math.round(x * 100) / 100.0).toString

  private def chart(rnd: java.util.SplittableRandom, ticker: String, date: LocalDate): (String, Int) = {
    val open0 = ZonedDateTime.of(date, LocalTime.of(10, 0), Exchange).toEpochSecond
    val ts = new StringBuilder; val close = new StringBuilder; val high = new StringBuilder
    val low = new StringBuilder; val open = new StringBuilder; val vol = new StringBuilder
    var p = 5.0 + rnd.nextDouble() * 95.0
    var valid = 0
    (0 until BarsPerTicker).foreach { i =>
      if (i > 0) Seq(ts, close, high, low, open, vol).foreach(_.append(','))
      ts.append(open0 + 60L * i)
      p = math.max(1.0, p * (1.0 + (rnd.nextDouble() - 0.5) * 0.004))
      val nullClose = rnd.nextDouble() < NullCloseShare
      val zeroVol = rnd.nextDouble() < ZeroVolumeShare
      if (nullClose) Seq(close, high, low, open).foreach(_.append("null"))
      else {
        close.append(price(p)); high.append(price(p * 1.001))
        low.append(price(p * 0.999)); open.append(price(p * (1.0 + (rnd.nextDouble() - 0.5) * 0.001)))
      }
      vol.append(if (zeroVol) 0L else 100L + rnd.nextLong(100000L))
      if (!nullClose && !zeroVol) valid += 1
    }
    val json = s"""{"chart":{"result":[{"meta":{"currency":"BRL","symbol":"$ticker",""" +
      s""""exchangeTimezoneName":"America/Sao_Paulo"},"timestamp":[$ts],""" +
      s""""indicators":{"quote":[{"close":[$close],"high":[$high],"low":[$low],""" +
      s""""open":[$open],"volume":[$vol]}]}}],"error":null}}"""
    (json, valid)
  }

  private def newsPage(rnd: java.util.SplittableRandom, date: LocalDate, page: Int,
                       ticker: String): (String, Seq[(String, String, String)]) = {
    val sb = new StringBuilder("<html><body><main>\n")
    val arts = (0 until CardsPerPage).map { c =>
      val title = (0 until 5).map(_ => Words(rnd.nextInt(Words.size))).mkString(" ") +
        s" ${ticker.stripSuffix(".SA")} $c"
      val (href, link) =
        if (rnd.nextDouble() < ReusedLinkShare) {
          val k = rnd.nextInt(LinkPoolSize)
          (s"https://news.google.com/read/pool-$k", s"https://news.google.com/read/pool-$k")
        } else {
          val id = s"${date.format(DateTimeFormatter.BASIC_ISO_DATE)}-$page-$c"
          (s"./read/$id?hl=pt-BR", s"https://news.google.com/read/$id?hl=pt-BR")
        }
      val u = rnd.nextDouble()
      val published =
        if (u < BadTimeShare) "ontem"
        else {
          val d = if (u < BadTimeShare + PriorDayShare) date.minusDays(1) else date
          f"${d}T${rnd.nextInt(18)}%02d:${rnd.nextInt(60)}%02d:00Z"
        }
      val source = Sources(rnd.nextInt(Sources.size))
      val heading = if (c % 3 == 0) "h4" else "h3"
      sb.append("<article class=\"card\"><a href=\"").append(href).append("\" data-n-tid=\"9\">abrir</a>")
        .append('<').append(heading).append('>').append(title).append("</").append(heading).append('>')
        .append("<div data-n-tid=\"29\">").append(source).append("</div>")
      if (published == "ontem") sb.append("<time>ontem</time>")
      else sb.append("<time datetime=\"").append(published).append("\">há pouco</time>")
      sb.append("</article>\n")
      (title, link, published)
    }
    sb.append("</main></body></html>")
    (sb.toString, arts)
  }
}

/** Running model of the refined zone: what `stocks_clean` and `news_clean`
  * must hold after each process date, computed from the generated rows only.
  */
final class EtlModel {
  // link -> (extracted_at, title) of the surviving row, over all dates so far
  private val survivors = mutable.Map.empty[String, (String, String)]
  private val stockParts = mutable.SortedSet.empty[String]
  private val newsParts = mutable.SortedSet.empty[String]

  final case class Expect(stockRows: Long, newsRows: Long, newsDigest: String,
                          stockParts: Set[String], newsParts: Set[String])

  def advance(d: EtlInputs.Day): Expect = {
    d.validBars.foreach { case (sector, n) =>
      if (n > 0) stockParts += s"dataproc=${d.dataproc}/setor=$sector"
    }
    val day = d.date.toString
    d.articles.foreach { case (title, link, published) =>
      if (published.takeWhile(_ != 'T') == day) {
        val cand = (d.extractedAt, title)
        survivors.get(link) match {
          case Some(cur) if Ordering[(String, String)].lteq(cur, cand) =>
          case _ => survivors(link) = cand
        }
      }
    }
    newsParts += s"dataproc=${d.dataproc}"
    Expect(d.validBars.values.sum.toLong, survivors.size.toLong,
      EtlModel.digest(survivors.iterator.map { case (l, (_, t)) => (l, t) }),
      stockParts.toSet, newsParts.toSet)
  }
}

object EtlModel {
  def digest(pairs: Iterator[(String, String)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    pairs.map { case (l, t) => s"$l\t$t\n" }.toSeq.sorted
      .foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

/** Delegating sources for the traced run: time each fetch and count its
  * bytes, leaving rows and parsing to the program's own sources.
  */
final class CountingTransport(payloads: Map[String, String]) extends (String => String) {
  var bytes = 0L
  def apply(url: String): String = {
    val body = payloads(url)
    bytes += body.length
    body
  }
}

final class TracedQuoteSource(inner: QuoteSource, tracer: Tracer) extends QuoteSource {
  def fetchQuotes(spark: SparkSession, tickers: Seq[String]): DataFrame =
    tracer.span("fetch_quotes", "pipeline")(inner.fetchQuotes(spark, tickers))
}

final class TracedNewsSource(inner: NewsSource, tracer: Tracer) extends NewsSource {
  def fetchNews(spark: SparkSession, terms: Seq[(String, String)]): DataFrame =
    tracer.span("fetch_news", "pipeline")(inner.fetchNews(spark, terms))
}
