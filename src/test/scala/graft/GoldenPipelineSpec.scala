package graft

import graft.extract.ContentExtractor
import graft.gen.PagesGen
import graft.model.Page
import graft.pipeline.{ExtractedRecord, ExtractionPipeline, ScalarEvaluator}
import graft.rules.RuleSets
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The golden contract (SURVEY §5.2-3/4): the Spark pipeline and the
  * scalar reference evaluator are two implementations of one semantics;
  * their outputs must agree exactly, at any parallelism.
  */
class GoldenPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val FieldSep = "\u001F"

  val N = 200
  lazy val pagesSeq: Seq[Page] = (0L until N.toLong).map(PagesGen.pageFor(_, 42))

  def canon(r: ExtractedRecord): String = {
    val fields = Seq(
      r.url, r.page_type, r.target_section, r.routed_section, r.txn_type,
      r.txn_type_detail, r.row_text, r.portfolio_no, r.client_name,
      r.trade_date, r.settlement_date, r.transaction_type_raw, r.currency,
      r.quantity, r.security_name, r.securities_id, r.account_no,
      r.foreign_unit_price, r.foreign_gross_consideration,
      r.foreign_net_consideration, r.net_consideration, r.market_price,
      r.market_value, r.cost_price, r.valuation_date, r.currency_buy,
      r.amount_buy, r.currency_sell, r.amount_sell, r.trade_date_iso,
      r.settlement_date_iso,
      r.net_consideration_num.map(_.setScale(6).bigDecimal.toPlainString)
        .getOrElse("∅"),
      r.market_value_num.map(_.setScale(6).bigDecimal.toPlainString)
        .getOrElse("∅"),
      r.validation_errors.mkString(","))
    // non-printing unit separator: unambiguous field boundaries (a ""
    // join would let compensating boundary shifts compare equal)
    fields.mkString(FieldSep)
  }

  val cols = Seq("url", "page_type", "target_section", "routed_section",
    "txn_type", "txn_type_detail", "row_text", "portfolio_no", "client_name",
    "trade_date", "settlement_date", "transaction_type_raw", "currency",
    "quantity", "security_name", "securities_id", "account_no",
    "foreign_unit_price", "foreign_gross_consideration",
    "foreign_net_consideration", "net_consideration", "market_price",
    "market_value", "cost_price", "valuation_date", "currency_buy",
    "amount_buy", "currency_sell", "amount_sell", "trade_date_iso",
    "settlement_date_iso", "net_consideration_num", "market_value_num",
    "validation_errors")

  def canonRow(row: Row): String =
    cols.indices.map { i =>
      row.get(i) match {
        case null => "∅"
        case d: java.math.BigDecimal => d.setScale(6).toPlainString
        case s: scala.collection.Seq[_] => s.mkString(",")
        case v => v.toString
      }
    }.mkString(FieldSep)

  def sparkCanon(df: DataFrame): Seq[String] =
    df.select(cols.head, cols.tail: _*).collect().map(canonRow).toSeq.sorted

  lazy val scalarRecords: Seq[String] =
    pagesSeq.flatMap(ScalarEvaluator.process(_, RuleSets.plugin))
      .map(canon).sorted

  test("scalar evaluator produces a meaningful record mix") {
    val recs = pagesSeq.flatMap(ScalarEvaluator.process(_, RuleSets.plugin))
    assert(recs.nonEmpty)
    val sections = recs.map(_.target_section).toSet
    assert(sections.contains("Positions"))
    assert(sections.contains("Others"))
    // all four classified page routes produce records
    val pageTypes = recs.map(_.page_type).toSet
    assert(Set("Positions", "Transaction", "Trade", "FXTF", "Others")
      .subsetOf(pageTypes), s"page types routed: $pageTypes")
    val types = recs.map(_.txn_type).toSet
    // the generator must exercise the rule space
    assert(types.intersect(Set("Buy", "Sell", "FX Spot", "FX Forward",
      "UBS Call Deposit")).size >= 4, s"types seen: $types")
    assert(recs.exists(_.securities_id.nonEmpty))
    assert(recs.exists(_.portfolio_no.nonEmpty))
    // valuation_date comes from the page and varies across pages
    assert(recs.filter(_.page_type == "Positions")
      .map(_.valuation_date).filter(_.nonEmpty).toSet.size > 1)
    // every class of the validator taxonomy fires somewhere in the
    // corpus — VAL_DATE/CURR/RANGE/CONFLICT coverage is real, not vacuous
    val codes = recs.flatMap(_.validation_errors).toSet
    assert(Set("VAL_DATE_TRADE", "VAL_CURR", "VAL_RANGE_NET",
      "VAL_RANGE_MV", "VAL_CONFLICT").subsetOf(codes),
      s"validator codes seen: $codes")
  }

  test("golden: Spark records == scalar records (exact)") {
    import spark.implicits._
    val pages = spark.createDataset(pagesSeq)
    val got = sparkCanon(ExtractionPipeline.records(pages, RuleSets.plugin, 8))
    assert(got.length === scalarRecords.length,
      s"spark=${got.length} scalar=${scalarRecords.length}")
    got.zip(scalarRecords).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g === w, s"record $i differs")
    }
  }

  test("golden: byte-identical main_text + spans per url") {
    import spark.implicits._
    val pages = spark.createDataset(pagesSeq)
    val got = ExtractionPipeline.mainTexts(pages, 8)
      .select("url", "main_text", "spans")
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getSeq[Row](2).map(s => (s.getInt(0), s.getInt(1), s.getString(2),
          s.getInt(3)))))
      .sortBy(_._1)
    val want = pagesSeq.map { p =>
      val c = ContentExtractor.extract(p.html)
      (p.url, c.main_text,
        c.spans.map(s => (s.start, s.end, s.kind, s.block_id)))
    }.sortBy(_._1)
    assert(got.length === want.length)
    got.zip(want).foreach { case ((gu, gt, gs), (wu, wt, ws)) =>
      assert(gu === wu)
      assert(gt === wt, s"main_text differs for $gu")
      assert(gs === ws, s"spans differ for $gu")
    }
  }

  test("parallelism invariance: 1 vs 16 partitions, identical output") {
    import spark.implicits._
    val pages = spark.createDataset(pagesSeq)
    val a = sparkCanon(ExtractionPipeline.records(pages, RuleSets.plugin, 1))
    val b = sparkCanon(ExtractionPipeline.records(pages, RuleSets.plugin, 16))
    assert(a === b)
  }

  test("config override: extraction rules are live data, not decoration") {
    import spark.implicits._
    val pages = spark.createDataset(pagesSeq.take(120))
    val rs0 = RuleSets.plugin
    // repoint securities_id at a never-matching pattern: trade-family
    // records lose their ISIN and the C12 downgrade re-routes them
    val rs = rs0.copy(extraction = rs0.extraction.copy(
      trade = rs0.extraction.trade + ("securities_id" ->
        graft.rules.FieldSpec("regex", "\\bNEVERMATCH([0-9]+)\\b", group = 1))))
    val recs = ExtractionPipeline.records(pages, rs, 8)
      .select("page_type", "target_section", "securities_id",
        "routed_section").collect()
    val tradeFam = recs.filter(r =>
      Set("Transaction", "Trade", "FXTF").contains(r.getString(0)))
    assert(tradeFam.nonEmpty)
    assert(tradeFam.forall(_.getString(2) == ""),
      "overridden regex must blank every trade-family securities_id")
    // C12: records ROUTED to Trade lose their ISIN → all downgrade to
    // Others (FXTF-routed ones may still downgrade INTO Trade — that
    // branch of the chain fires first and doesn't require an ISIN)
    val routedTrade = tradeFam.filter(_.getString(3) == "Trade")
    assert(routedTrade.nonEmpty)
    assert(routedTrade.forall(_.getString(1) == "Others"),
      "ISIN-less routed-Trade records must downgrade to Others (C12)")
    // positions keep their own (untouched) spec
    assert(recs.exists(r =>
      r.getString(0) == "Positions" && r.getString(2).nonEmpty))
  }

  test("soa variant also runs end-to-end") {
    import spark.implicits._
    val pages = spark.createDataset(pagesSeq.take(60))
    val got = sparkCanon(ExtractionPipeline.records(pages, RuleSets.soa, 4))
    val want = pagesSeq.take(60)
      .flatMap(ScalarEvaluator.process(_, RuleSets.soa)).map(canon).sorted
    assert(got === want)
  }
}
