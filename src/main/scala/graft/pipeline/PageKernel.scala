package graft.pipeline

import graft.extract.ContentExtractor
import graft.model.Page
import graft.rules.{FieldInput, FieldSpec, RuleSet, ScalarRules}
import graft.textops.TextOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The page kernel: all of one page's records from one scalar pass —
  * content extraction (X1/X2), classification (C1/C2), page context
  * (G4), segmentation ([[ScalarEvaluator.segmentsOf]]), routing and
  * transaction-type rules (C3-C6), fields (N5-N13, compiled from
  * `rs.extraction`) and validation ([[ScalarEvaluator.validate]]).
  * No stage reads another page, so Spark runs it in one typed map.
  * The extraction spec is compiled where the kernel is built, so a bad
  * spec fails before any task runs.
  */
final class PageKernel(rs: RuleSet) extends Serializable {
  import PageKernel._

  private val trade = family(rs.extraction.trade, !PositionsOnly(_))
  private val positions = family(rs.extraction.positions,
    n => PositionsOnly(n) || BothFamilies(n))

  /** One page's records, in [[Schema]]. */
  def pageRecords(p: Page): Iterator[Row] = {
    val md = ContentExtractor.extract(p.html, needMain = false).page_md
    val pageType = ScalarRules.effectivePageType(md, rs)
    val segs = ScalarEvaluator.segmentsOf(pageType, md)
    if (segs.isEmpty) Iterator.empty
    else {
      val (portfolioNo, clientName, asOfDate) = context(md)
      segs.iterator.map(s => Row.fromSeq(
        record(p.url, pageType, portfolioNo, clientName, asOfDate, s)))
    }
  }

  /** The records of a page classified elsewhere, in [[Schema]] plus
    * `n_rows`, the number of table rows stitched into each.
    */
  def classifiedRecords(url: String, pageType: String, portfolioNo: String,
      clientName: String, asOfDate: String, pageMd: String): Iterator[Row] =
    ScalarEvaluator.segmentsOf(pageType, pageMd).iterator.map(s => Row.fromSeq(
      record(url, pageType, portfolioNo, clientName, asOfDate, s) :+ s.nRows))

  private def record(url: String, pageType: String, portfolioNo: String,
      clientName: String, asOfDate: String,
      s: ScalarEvaluator.Segment): Seq[Any] = {
    val (group, ttype, detail, fields) = pageType match {
      case "Positions" => ("Positions", "Positions", "", positions)
      // Others records carry row_text only (others.py:48-59)
      case "Others"    => ("Others", "Other", "", NoFields)
      case _ =>
        val (g, t) = ScalarRules.classifyRecord(s.text, rs)
        (g, t, ScalarRules.classifyTxnType(s.text, rs), trade)
    }
    // the page's portfolio_no and client_name until the fields replace them
    val v = Array.fill(Slot.size)("")
    Seq(url, pageType, portfolioNo, clientName, group, ttype, detail, s.text)
      .copyToArray(v)
    v(Slot("as_of_date")) = asOfDate
    val in = FieldInput(s.cells, s.text, v)
    fields.foreach { case (slot, f) => v(slot) = f(in) }
    def at(n: String) = v(Slot(n))
    val ok = ScalarEvaluator.validate(ExtractedRecord.empty(url, pageType)
      .copy(routed_section = group, securities_id = at("securities_id"),
        net_consideration = at("net_consideration"),
        market_value = at("market_value"), trade_date = at("trade_date"),
        settlement_date = at("settlement_date"), currency = at("currency"),
        currency_buy = at("currency_buy"), currency_sell = at("currency_sell")))
    // the string columns up to the ISO dates, then validate's columns
    v.toSeq.take(Strings.length - 2) ++ Seq(ok.trade_date_iso,
      ok.settlement_date_iso, ok.net_consideration_num.map(_.bigDecimal).orNull,
      ok.market_value_num.map(_.bigDecimal).orNull, ok.validation_errors,
      ok.target_section)
  }
}

object PageKernel {

  /** A page's context (G4): its portfolio_no, client_name and
    * as_of_date, each "" when the page has none.
    */
  def context(md: String): (String, String, String) =
    (TextOps.extractPortfolioNo(md).getOrElse(""),
      TextOps.extractClientName(md).getOrElse(""),
      TextOps.extractAsOfDate(md).getOrElse(""))

  /** The extracted fields in evaluation order: a `page_context` key
    * naming one of them reads it only from a later field.
    */
  private val Fields = Seq("client_name", "portfolio_no",
    "trade_date", "settlement_date", "transaction_type_raw", "currency",
    "quantity", "security_name", "securities_id", "account_no",
    "foreign_unit_price", "foreign_gross_consideration",
    "foreign_net_consideration", "net_consideration", "market_price",
    "market_value", "cost_price", "valuation_date", "currency_buy",
    "amount_buy", "currency_sell", "amount_sell")
  private val PositionsOnly = Set("portfolio_no", "market_price",
    "market_value", "cost_price", "valuation_date")
  private val BothFamilies = Set("currency", "quantity", "security_name",
    "securities_id", "account_no")

  /** The string columns of a record, in output order. */
  private val Strings = Seq("url", "page_type", "portfolio_no",
    "client_name", "routed_section", "txn_type", "txn_type_detail",
    "row_text") ++ Fields.drop(2) ++ Seq("trade_date_iso", "settlement_date_iso")

  /** The records' columns, types and nullability. */
  val Schema: StructType = StructType(Strings.map(n => StructField(n,
    StringType, nullable = !Set("routed_section", "txn_type",
      "txn_type_detail")(n))) ++ Seq(
    StructField("net_consideration_num", DecimalType(38, 6)),
    StructField("market_value_num", DecimalType(38, 6)),
    StructField("validation_errors", ArrayType(StringType, containsNull = false),
      nullable = false),
    StructField("target_section", StringType, nullable = false)))

  /** A record's string values by name, plus the page's as_of_date. */
  private val Slot = (Strings :+ "as_of_date").zipWithIndex.toMap

  /** What a `page_context` key can name besides an earlier field. */
  private val ContextKeys = Seq("url", "page_type", "portfolio_no",
    "client_name", "as_of_date", "routed_section", "txn_type",
    "txn_type_detail", "row_text")

  private val Blank: FieldInput => String = _ => ""
  private val NoFields = Fields.map(n => (Slot(n), Blank)).toArray

  /** One family's fields as (slot, extractor), in evaluation order; a
    * field the family does not read, or its spec leaves out, is blank.
    */
  private def family(spec: Map[String, FieldSpec],
      reads: String => Boolean): Array[(Int, FieldInput => String)] =
    Fields.zipWithIndex.map { case (n, i) =>
      def slotOf(key: String): Int = {
        require(ContextKeys.contains(key) || Fields.take(i).contains(key),
          s"field $n: page_context key '$key' names neither a page " +
            "attribute nor an earlier field")
        Slot(key)
      }
      Slot(n) -> spec.get(n).filter(_ => reads(n))
        .fold(Blank)(FieldSpec.compile(_, slotOf))
    }.toArray
}
