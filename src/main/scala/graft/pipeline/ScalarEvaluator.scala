package graft.pipeline

import graft.extract.ContentExtractor
import graft.model.Page
import graft.rules.{RuleSet, ScalarRules}
import graft.textops.{ParsedTable, TextOps}
import scala.collection.mutable.ArrayBuffer

/** Non-Spark reference evaluator of the full pipeline semantics —
  * the second implementation behind the golden byte-identity tests
  * (SURVEY §5.2-3). Shares the scalar kernels (ContentExtractor,
  * TextOps, ScalarRules), the segmentation kernel [[segmentsOf]] and
  * the validator [[validate]] with the Spark path's [[PageKernel]].
  * The field extraction, which the kernel compiles from the rule set's
  * ExtractionSpec, is hand-coded here instead, mirroring the
  * reference's Python (/root/reference/pipeline/orchestrator.py:51-188).
  */
object ScalarEvaluator {

  private val BuyPat = "You bought ([A-Z]{3}) ([0-9',\\. ]*\\d)".r
  private val SellPat = "You sold ([A-Z]{3}) ([0-9',\\. ]*\\d)".r
  private val HalfUp = BigDecimal.RoundingMode.HALF_UP

  /** One record-to-be of a page: the main row's cells, the row texts
    * of the main row and its continuation rows joined by " ", and how
    * many table rows were folded in.
    */
  case class Segment(cells: Seq[String], text: String, nRows: Int)

  def tablesOf(pageMd: String): Seq[ParsedTable] =
    TextOps.parseHtmlTables(pageMd) ++ TextOps.parseMarkdownTables(pageMd)

  /** Enumerate table rows, in table then row order, with header-as-data
    * repair (G3) applied. Positions repair: header[0] starts with
    * digit/currency (orchestrator.py:73-87); Transaction repair:
    * header[0] contains a DD.MM.YYYY date (orchestrator.py:144-155).
    */
  def enumerateRows(pageType: String, pageMd: String): Seq[Seq[String]] =
    tablesOf(pageMd).flatMap { t =>
      pageType match {
        case "Positions" if t.headers.nonEmpty =>
          val firstH = t.headers.head.trim
          if (firstH.nonEmpty && (firstH.head.isDigit ||
              TextOps.startsWithCurrency(firstH))) t.headers +: t.rows
          else t.rows
        // Trade/FXTF-classified pages carry the same transaction-row
        // shape; TradeInformationPlugin applies the identical
        // date-in-header repair (trade_information.py:67-74).
        case ("Transaction" | "Trade" | "FXTF") if t.headers.nonEmpty &&
            TextOps.extractDates(t.headers.head).nonEmpty =>
          t.headers +: t.rows
        // Others iterates data rows only (others.py:43), like default
        case _ => t.rows
      }
    }

  /** Segmentation of one page: the page-type row filters (C9-C11),
    * main-row detection (G1) and continuation stitching (G2/A5), folded
    * in [[enumerateRows]] order. The ONE segmentation kernel: this
    * evaluator and the Spark pipeline's [[PageKernel]] both call it, so
    * segmentation needs no cross-row Spark operator. Page types without
    * records (Ignore, Unknown) yield none (orchestrator.py:20-21).
    */
  def segmentsOf(pageType: String, pageMd: String): Seq[Segment] =
    pageType match {
      case "Positions" =>
        // orchestrator.py:58-137 — stateful main/continuation stitching;
        // continuation rows before the first main row are dropped, like
        // the reference's `if records:` guard (orchestrator.py:135-140)
        val segs = ArrayBuffer.empty[Segment]
        enumerateRows(pageType, pageMd).foreach { cells =>
          val rowText = cells.mkString(" ").trim
          if (rowText.nonEmpty && !TextOps.lower(rowText).startsWith("total")) {
            val firstCol = cells.headOption.getOrElse("").trim
            // ASCII digit only: a documented deviation from Python's
            // Unicode isdigit
            val isMain = firstCol.nonEmpty &&
              ((firstCol.head >= '0' && firstCol.head <= '9') ||
                TextOps.startsWithCurrency(firstCol)) &&
              !TextOps.startsWithDate(firstCol)
            if (isMain) segs += Segment(cells, rowText, 1)
            else if (segs.nonEmpty) {
              val s = segs.last
              segs(segs.length - 1) =
                Segment(s.cells, s.text + " " + rowText, s.nRows + 1)
            }
          }
        }
        segs.toSeq
      case "Transaction" | "Trade" | "FXTF" =>
        // orchestrator.py:139-188 — one record per dated row with a
        // type cell. Trade/FXTF pages share the transaction-row shape
        // (trade_information.py:81-85).
        enumerateRows(pageType, pageMd).collect {
          case cells if cells.nonEmpty &&
              TextOps.startsWithDate(cells.head.trim) &&
              cells.length > 1 && cells(1).trim.nonEmpty =>
            Segment(cells, cells.mkString(" "), 1)
        }
      case "Others" =>
        // OthersPlugin.extract (others.py:33-63): keep rows with ≥2
        // cells that are non-empty and contain an ASCII alphanumeric
        // (C10 noise filter)
        enumerateRows(pageType, pageMd).collect {
          case cells if cells.count(c => c.trim.nonEmpty &&
              c.exists(ch => (ch >= 'a' && ch <= 'z') ||
                (ch >= 'A' && ch <= 'Z') || (ch >= '0' && ch <= '9'))) >= 2 =>
            Segment(cells, cells.mkString(" "), 1)
        }
      case _ => Nil
    }

  /** Full pipeline for one page: extract → classify → segment → route →
    * extract fields → validate. Returns the per-page records.
    */
  def process(page: Page, rs: RuleSet): Seq[ExtractedRecord] = {
    val url = page.url
    val pageMd = ContentExtractor.extract(page.html).page_md
    if (pageMd.isEmpty) return Nil
    val pageType = ScalarRules.effectivePageType(pageMd, rs)
    val portfolioNo = TextOps.extractPortfolioNo(pageMd).getOrElse("")
    val clientName = TextOps.extractClientName(pageMd).getOrElse("")
    val asOfDate = TextOps.extractAsOfDate(pageMd).getOrElse("")
    segmentsOf(pageType, pageMd).map { s =>
      validate(pageType match {
        case "Positions" =>
          extractPositions(url, pageType, s.cells, s.text, portfolioNo,
            asOfDate)
        case "Others" => extractOthers(url, pageType, s.cells)
        // per-record classify_record routes FX rows regardless of the
        // page type
        case _ =>
          val (group, ttype) = ScalarRules.classifyRecord(s.text, rs)
          extractTrade(url, pageType, group, ttype, s.cells, s.text,
            clientName, rs)
      })
    }
  }

  /** OthersPlugin row record (others.py:48-59): generic columns only —
    * no field extraction, no page context.
    */
  def extractOthers(url: String, pageType: String,
      cells: Seq[String]): ExtractedRecord =
    ExtractedRecord.empty(url, pageType).copy(
      routed_section = "Others", target_section = "Others",
      txn_type = "Other", row_text = cells.mkString(" "))

  /** PositionsPlugin.extract_row (positions.py:176-250). `asOfDate` is
    * the page-level "as of DD.MM.YYYY" statement date (G4 context).
    */
  def extractPositions(url: String, pageType: String, cells: Seq[String],
      rowText: String, portfolioNo: String, asOfDate: String): ExtractedRecord = {
    val firstCol = cells.headOption.getOrElse("").trim
    var currency = ""
    var quantity = ""
    var name = ""
    if (TextOps.startsWithCurrency(firstCol) && firstCol.length <= 4) {
      currency = firstCol
      if (cells.length > 1) {
        val (a, b) = TextOps.splitFirst(cells(1))
        b match {
          case Some(rest) => quantity = a; name = rest
          case None       => name = cells(1)
        }
      }
    } else {
      val (a, b) = TextOps.splitFirst(firstCol)
      b match {
        case Some(rest) => quantity = a; name = rest
        case None       => quantity = firstCol
      }
    }
    val marketPrice = if (cells.length > 2) cells(2) else ""
    val marketValue = if (cells.length > 4) cells(4) else ""
    val costPrice = if (cells.length > 4) cells(4) else ""
    if (currency.isEmpty)
      currency = TextOps.sniffCurrency(cells).getOrElse("")
    val account = TextOps.extractAccount(rowText).getOrElse("")
    val isin = TextOps.extractIsin(rowText).getOrElse("")
    ExtractedRecord.empty(url, pageType).copy(
      routed_section = "Positions", target_section = "Positions",
      txn_type = "Positions", row_text = rowText,
      portfolio_no = portfolioNo, valuation_date = asOfDate,
      currency = currency, quantity = quantity, security_name = name,
      securities_id = isin, account_no = account,
      market_price = marketPrice, market_value = marketValue,
      cost_price = costPrice)
  }

  /** TradeInformationPlugin.extract_row (trade_information.py:185-264)
    * + graft-added FX buy/sell correlation (J1, docs/some_rule.txt:38-44).
    */
  def extractTrade(url: String, pageType: String, group: String,
      ttype: String, cells: Seq[String], rowText: String,
      clientName: String, rs: RuleSet): ExtractedRecord = {
    var tradeDate = ""
    var settlementDate = ""
    if (TextOps.startsWithDate(cells.head)) {
      tradeDate = cells.head
      val dates = TextOps.extractDates(rowText)
      settlementDate = if (dates.length > 1) dates(1) else cells.head
    }
    val txnRaw = if (cells.length > 1) cells(1).trim else ""
    var currency = ""
    var fNet = ""
    var net = ""
    if (cells.length > 2) {
      val parts = cells(2).split("\\s+").filter(_.nonEmpty)
      if (parts.nonEmpty && parts(0).matches("[A-Za-z]+")) {
        currency = parts(0)
        fNet = parts.drop(1).mkString(" ")
        net = fNet
      } else { fNet = cells(2); net = cells(2) }
    }
    val name = if (cells.length > 3) cells(3) else ""
    val unitPrice = if (cells.length > 4) cells(4) else ""
    val gross = if (cells.length > 7) cells(7) else ""
    val isin = TextOps.extractIsin(rowText).getOrElse("")
    val account = TextOps.extractAccount(rowText).getOrElse("")
    val txnDetail = ScalarRules.classifyTxnType(rowText, rs)
    // J1 — FX buy/sell correlation within the record text
    val buyM = BuyPat.findFirstMatchIn(rowText)
    val sellM = SellPat.findFirstMatchIn(rowText)
    ExtractedRecord.empty(url, pageType).copy(
      routed_section = group, target_section = group, txn_type = ttype,
      txn_type_detail = txnDetail, row_text = rowText,
      client_name = clientName, trade_date = tradeDate,
      settlement_date = settlementDate, transaction_type_raw = txnRaw,
      currency = currency, security_name = name, securities_id = isin,
      account_no = account, foreign_unit_price = unitPrice,
      foreign_gross_consideration = gross,
      foreign_net_consideration = fNet, net_consideration = net,
      currency_buy = buyM.map(_.group(1)).getOrElse(""),
      amount_buy = buyM.map(_.group(2)).getOrElse(""),
      currency_sell = sellM.map(_.group(1)).getOrElse(""),
      amount_sell = sellM.map(_.group(2)).getOrElse(""))
  }

  /** Validation + normalization (N14/N15, C12 downgrade, strict ISIN,
    * and the reference's full VAL taxonomy — error_system.py:37-43:
    * VAL_DATE (impossible calendar date), VAL_CURR (currency-list
    * membership), VAL_RANGE (max 12 integer / 2 decimal digits,
    * docs/rule_2.txt number constraints), VAL_CONFLICT (settlement
    * before trade date). Codes are listed in the order checked here,
    * which q36's oracle SQL reproduces. Numbers take scale 6, half-up,
    * like a decimal(38,6) cast. The one validator: the golden twin, the
    * page kernel and q36 call it.
    */
  def validate(r: ExtractedRecord): ExtractedRecord = {
    val errs = ArrayBuffer.empty[String]
    if (r.securities_id.nonEmpty && !TextOps.isValidIsin(r.securities_id))
      errs += "VAL_ISIN_SHAPE"
    else if (r.securities_id.nonEmpty &&
        !graft.functions.IsinValid.check(r.securities_id))
      errs += "VAL_ISIN_CHECKSUM" // shape OK, ISO 6166 Luhn digit wrong
    val netNum = TextOps.normalizeNumber(r.net_consideration)
    if (r.net_consideration.nonEmpty && netNum.isEmpty)
      errs += "VAL_NUM_NET"
    val mvNum = TextOps.normalizeNumber(r.market_value)
    if (r.market_value.nonEmpty && mvNum.isEmpty) errs += "VAL_NUM_MV"
    // VAL_RANGE: parses, but violates the 12-integer/2-decimal digit cap
    if (netNum.isDefined && !TextOps.numberInRange(r.net_consideration))
      errs += "VAL_RANGE_NET"
    if (mvNum.isDefined && !TextOps.numberInRange(r.market_value))
      errs += "VAL_RANGE_MV"
    val tIso = TextOps.normalizeDate(r.trade_date).getOrElse("")
    val sIso = TextOps.normalizeDate(r.settlement_date).getOrElse("")
    // VAL_DATE: present but lexically unparseable OR calendar-impossible
    val tOk = TextOps.isValidCalendarDate(tIso)
    val sOk = TextOps.isValidCalendarDate(sIso)
    if (r.trade_date.nonEmpty && !tOk) errs += "VAL_DATE_TRADE"
    if (r.settlement_date.nonEmpty && !sOk) errs += "VAL_DATE_SETTLE"
    if (r.currency.nonEmpty && !TextOps.Currencies.contains(r.currency))
      errs += "VAL_CURR"
    // VAL_CONFLICT: both dates valid and settlement precedes trade
    if (tOk && sOk && sIso < tIso) errs += "VAL_CONFLICT"
    // C12 downgrade (docs/rule_2.txt:390-418)
    val section =
      if (r.routed_section == "FXTF" &&
          (r.currency_buy.isEmpty || r.currency_sell.isEmpty)) "Trade"
      else if (r.routed_section == "Trade" && r.securities_id.isEmpty)
        "Others"
      else if (r.routed_section == "Positions" && r.market_value.isEmpty)
        "Others"
      else r.routed_section
    r.copy(target_section = section,
      trade_date_iso = tIso, settlement_date_iso = sIso,
      net_consideration_num = netNum.map(_.setScale(6, HalfUp)),
      market_value_num = mvNum.map(_.setScale(6, HalfUp)),
      validation_errors = errs.toSeq)
  }
}
