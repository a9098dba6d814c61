package graft.pipeline

import java.net.URLEncoder
import java.nio.charset.StandardCharsets

/** Pure parsing/URL-building half of the S3 news crawl — the port of the
  * reference's Google News extractor selector logic
  * (`extract_news_job.py:68-155` and `:157-243`), testable offline against
  * fixture HTML. The HTTP half is injected (see [[HttpNewsSource]]).
  */
object NewsCrawl {

  /** One parsed article card (pre-sanitize). */
  final case class ParsedArticle(title: String, link: String,
                                 source: String, publishedTime: String)

  private val Domain = "https://news.google.com"

  /** Percent-encoding à la Python's urllib quote(): %20, not form "+".
    * Shared by every URL builder in the ingestion layer.
    */
  def percentEncode(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8).replace("+", "%20")

  /** Search URL with the reference's locale pinning
    * (`extract_news_job.py:170-171`).
    */
  def searchUrl(term: String): String =
    s"$Domain/search?q=${percentEncode(term)}&hl=pt-BR&gl=BR&ceid=BR:pt-419"

  /** Per-company search terms (`extract_news_job.py:225-230`). */
  def searchTermsFor(company: String, ticker: String): Seq[String] = Seq(
    s"Empresa $company",
    ticker.replace(".SA", ""),
    s"$company resultados",
    s"$company prejuízo")

  /** Article-card selection with the reference's fallback chain
    * (`extract_news_job.py:176-180`): all `<article>` elements, else all
    * `<div data-n-tid>`, else all `<div class="xrnccd">`.
    */
  def selectArticles(root: HtmlNode): Seq[HtmlNode] = {
    val byTag = root.findAll(_.tag == "article")
    if (byTag.nonEmpty) return byTag
    val byTid = root.findAll(n => n.tag == "div" && n.hasAttr("data-n-tid"))
    if (byTid.nonEmpty) return byTid
    root.findAll(n => n.tag == "div" && n.hasClass("xrnccd"))
  }

  /** Title: `<h3>`, else `<h4>`, else `<a data-n-tid>`
    * (`extract_news_job.py:68-81`).
    */
  def title(article: HtmlNode): String =
    article.findFirst(_.tag == "h3")
      .orElse(article.findFirst(_.tag == "h4"))
      .orElse(article.findFirst(n => n.tag == "a" && n.hasAttr("data-n-tid")))
      .map(_.text).getOrElse("")

  /** Link: first `<a href>`; `./x` and other relative hrefs resolve against
    * news.google.com (`extract_news_job.py:83-103`). Deliberate fix over
    * the reference: a bare-relative href ("articles/x", no leading slash)
    * gets the missing "/" — the reference concatenates and emits
    * "news.google.comarticles/x".
    */
  def link(article: HtmlNode): String =
    article.findFirst(_.tag == "a").flatMap(_.attr("href")).filter(_.nonEmpty) match {
      case Some(href) if href.startsWith("./") => Domain + href.substring(1)
      case Some(href) if href.startsWith("http") => href
      case Some(href) if href.startsWith("/") => Domain + href
      case Some(href) => Domain + "/" + href
      case None => ""
    }

  /** Source: `<div data-n-tid>`, else `<span data-n-tid>`, else ANY element
    * with `data-n-tid`; default "Google News" (`extract_news_job.py:105-119`).
    */
  def source(article: HtmlNode): String =
    article.findFirst(n => n.tag == "div" && n.hasAttr("data-n-tid"))
      .orElse(article.findFirst(n => n.tag == "span" && n.hasAttr("data-n-tid")))
      .orElse(article.findFirst(_.hasAttr("data-n-tid")))
      .map(_.text).filter(_.nonEmpty).getOrElse("Google News")

  /** Published time: `<time datetime>` attr, else its text
    * (`extract_news_job.py:121-127`).
    */
  def publishedTime(article: HtmlNode): String =
    article.findFirst(_.tag == "time")
      .map(t => t.attr("datetime").filter(_.nonEmpty).getOrElse(t.text))
      .getOrElse("")

  /** Full page parse → article cards. */
  def parseArticles(html: String): Seq[ParsedArticle] =
    selectArticles(HtmlDoc.parse(html)).map { a =>
      ParsedArticle(title(a), link(a), source(a), publishedTime(a))
    }
}
