package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.io.Catalog
import graft.pipeline._

/** One timed operation. `prepare` builds its inputs before the clock starts,
  * `run` is the timed part, `check` (untimed) returns an error for a wrong
  * result. `family` picks the gate span's layer.
  */
final case class Op(name: String, family: String, prepare: () => Unit,
                    run: () => Any, check: Any => Option[String])

trait Workload {
  /** Operations of pass `p`: pass 0 is the cold pass, then come the warm-up
    * passes (run and checked, but left out of the metrics), then the steady
    * ones.
    */
  def pass(p: Int): Seq[Op]
  def warmupPasses: Int
  def steadyPasses: Int
}

object Gates {
  /** The program layer a gate belongs to, by gate name. */
  def family(name: String): String = {
    def pre(ps: String*) = ps.exists(name.startsWith)
    if (pre("stream_")) "streaming"
    else if (pre("asof_")) "asof"
    else if (pre("dedup_", "semdedup_", "fuzzy_", "j6_")) "dedup"
    else if (pre("ann_", "emb_")) "simsearch"
    else if (pre("graph_")) "pagerank"
    else if (pre("corpus_", "bpe_", "dsir_", "lm_")) "corpus"
    else if (pre("k1_", "k2_", "k3_", "k4_")) "roundtrip"
    else "core"
  }

  def layer(family: String): String = family match {
    case "streaming" => "streaming"
    case "asof" => "plans"
    case "core" | "roundtrip" => "queries"
    case "pipeline" => "pipeline"
    case _ => "ext"
  }
}

/** A fixed gate list, shuffled per pass from the seed; each operation is one
  * gate materialized through `queryExecution.toRdd.count()`, checked against
  * the oracle row count.
  */
final class GateWorkload(spark: SparkSession, sfDir: String, seed: Long,
                         gates: Seq[(String, Long)], val steadyPasses: Int) extends Workload {
  // the gate passes keep speeding up for several passes after the cold one,
  // so a warm-up pass would not make them steady, and the benchmark's time
  // budget has no room for more
  def warmupPasses: Int = 0
  private val queries = SparkEntry.queries
  var lastDf: org.apache.spark.sql.DataFrame = _

  def pass(p: Int): Seq[Op] = {
    val order = new scala.util.Random(seed * 7919L + p).shuffle(gates)
    order.map { case (name, expected) =>
      Op(name, Gates.family(name), () => (),
        () => {
          val df = queries(name)(spark, sfDir)
          lastDf = df
          df.queryExecution.toRdd.count()
        },
        r => if (r == expected) None else Some(s"$name: $r rows, expected $expected"))
    }
  }
}

/** The four-job DAG over consecutive process dates into one set of zones
  * and catalogs. Pass 0 is the first date, the warm-up pass the next
  * `WarmupDates` dates, the steady pass the `steadyDates` after them.
  */
final class EtlWorkload(spark: SparkSession, runDir: String, seed: Long,
                        steadyDates: Int, tracer: => Option[Tracer]) extends Workload {
  private val cfg = Jobs.Config(
    rawStocks = s"$runDir/zones/raw/stocks", rawNews = s"$runDir/zones/raw/news",
    refinedStocks = s"$runDir/zones/refined/stocks", refinedNews = s"$runDir/zones/refined/news",
    processDate = "")
  private val model = new EtlModel
  private var day: EtlInputs.Day = _
  private var expect: EtlModel#Expect = _
  var transport: CountingTransport = _

  // the two dates after the cold one still run 10-30 % slower while the JIT
  // catches up, by an amount that varies from run to run; timed, the first
  // of them would be the slowest date of nearly every run, and op_tail_s
  // would follow the warm-up rather than the program
  private val WarmupDates = 2
  def warmupPasses: Int = 1
  def steadyPasses: Int = 1

  def pass(p: Int): Seq[Op] = (p match {
    case 0 => 0 until 1
    case 1 => 1 until 1 + WarmupDates
    case _ => 1 + WarmupDates until 1 + WarmupDates + steadyDates
  }).map(dateOp)

  private def stage(name: String)(body: => Unit): Unit =
    tracer match {
      case Some(t) => t.span(name, "pipeline")(body)
      case None => body
    }

  private def dateOp(i: Int): Op = Op(s"date${i}", "pipeline",
    prepare = () => {
      day = EtlInputs.day(seed, i)
      expect = model.advance(day)
      transport = new CountingTransport(day.payloads)
    },
    run = () => {
      val c = cfg.copy(processDate = day.dataproc)
      val quotes0: QuoteSource = new HttpQuoteSource(transport)
      val news0: NewsSource = new HttpNewsSource(transport, pauseMs = 0,
        now = { val at = day.extractedAt; () => at })
      val (quotes, news) = tracer match {
        case Some(t) => (new TracedQuoteSource(quotes0, t), new TracedNewsSource(news0, t))
        case None => (quotes0, news0)
      }
      stage("extract_stocks")(Jobs.extractStocks(spark, quotes, c))
      stage("extract_news")(Jobs.extractNews(spark, news, c))
      stage("transform_stocks")(Jobs.transformStocks(spark, c))
      stage("transform_news")(Jobs.transformNews(spark, c))
    },
    check = _ => verify())

  private def verify(): Option[String] = {
    import org.apache.spark.sql.functions.col
    val dp = day.dataproc
    val e = expect
    val stocks = spark.table(s"${cfg.stockDb}.stocks_clean").where(col("dataproc") === dp).count()
    val news = spark.table(s"${cfg.newsDb}.news_clean").where(col("dataproc") === dp)
      .select("link", "title").collect().map(r => (r.getString(0), r.getString(1)))
    val digest = EtlModel.digest(news.iterator)
    val sParts = Catalog.showPartitions(spark, cfg.stockDb, "stocks_clean").toSet
    val nParts = Catalog.showPartitions(spark, cfg.newsDb, "news_clean").toSet
    val errs = Seq(
      Option.when(stocks != e.stockRows)(s"stocks_clean $dp: $stocks rows, expected ${e.stockRows}"),
      Option.when(news.length != e.newsRows)(s"news_clean $dp: ${news.length} rows, expected ${e.newsRows}"),
      Option.when(digest != e.newsDigest)(s"news_clean $dp: (link, title) digest $digest, expected ${e.newsDigest}"),
      Option.when(sParts != e.stockParts)(s"stocks_clean partitions: ${sParts.size}, expected ${e.stockParts.size}"),
      Option.when(nParts != e.newsParts)(s"news_clean partitions: ${nParts.size}, expected ${e.newsParts.size}"),
    ).flatten
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  /** Partitions registered across the four catalog tables. */
  def partitions(): Long = Seq(cfg.stockDb -> "stock_prices_best_row", cfg.newsDb -> "news_raw",
      cfg.stockDb -> "stocks_clean", cfg.newsDb -> "news_clean")
    .map { case (db, t) => Catalog.showPartitions(spark, db, t).size.toLong }.sum
}
