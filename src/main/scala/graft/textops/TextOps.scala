package graft.textops

import java.util.Locale
import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** Parsed table: header cells (possibly empty) + data rows. Mirrors the
  * reference's `(rows, headers)` tuples
  * (/root/reference/pipeline/utils.py:27-65). Rows carry values in cell
  * order — the reference's dict-vs-list split only affects keys, never
  * values, so a plain Seq[String] reproduces `list(row.values())`.
  */
case class ParsedTable(headers: Seq[String], rows: Seq[Seq[String]])

/** Pure scalar text kernels — single implementation shared by the
  * scalar golden evaluator and the Spark pipeline (SURVEY §7.4-1).
  * Locale pinned to ROOT; no float formatting.
  */
object TextOps {

  /** Strip tags and decode the four entities the reference decodes
    * (pipeline/utils.py:13-24), then trim.
    */
  def cleanHtmlText(text: String): String =
    text.replaceAll("<[^>]+>", "")
      .replace("&nbsp;", " ")
      .replace("&amp;", "&")
      .replace("&lt;", "<")
      .replace("&gt;", ">")
      .trim

  private val tablePat =
    Pattern.compile("<table>(.*?)</table>", Pattern.DOTALL)
  private val theadPat =
    Pattern.compile("<thead>(.*?)</thead>", Pattern.DOTALL)
  private val tbodyPat =
    Pattern.compile("<tbody>(.*?)</tbody>", Pattern.DOTALL)
  private val thPat = Pattern.compile("<th>(.*?)</th>", Pattern.DOTALL)
  private val trPat = Pattern.compile("<tr>(.*?)</tr>", Pattern.DOTALL)
  private val tdPat = Pattern.compile("<td>(.*?)</td>", Pattern.DOTALL)

  private def findAll(p: Pattern, s: String): Seq[String] = {
    val m = p.matcher(s)
    val out = ArrayBuffer.empty[String]
    while (m.find()) out += m.group(1)
    out.toSeq
  }

  /** Parse ALL `<table>` blocks by regex — intentionally regex-level,
    * not a real HTML parser, to preserve the reference's table-cell
    * semantics (pipeline/utils.py:27-65).
    */
  def parseHtmlTables(text: String): Seq[ParsedTable] =
    findAll(tablePat, text).map { content =>
      val headers = theadPat.matcher(content) match {
        case m if m.find() => findAll(thPat, m.group(1)).map(cleanHtmlText)
        case _             => Seq.empty[String]
      }
      val rows = tbodyPat.matcher(content) match {
        case m if m.find() =>
          findAll(trPat, m.group(1)).map(tr => findAll(tdPat, tr).map(cleanHtmlText))
        case _ => Seq.empty[Seq[String]]
      }
      ParsedTable(headers, rows)
    }

  /** Split one markdown `|a|b|` row line into trimmed cells. */
  def markdownRowCells(line: String): Seq[String] = {
    val inner = line.stripPrefix("|").stripSuffix("|")
    inner.split("\\|", -1).map(_.trim).toSeq
  }

  /** Parse markdown pipe tables into the same ParsedTable shape:
    * consecutive `|…|` lines form one table; a `---` separator row marks
    * the preceding row as the header (GitHub-flavored convention, and
    * matches how the reference's OCR emitted tables).
    */
  def parseMarkdownTables(text: String): Seq[ParsedTable] = {
    val lines = text.split("\n", -1).map(_.trim)
    val tables = ArrayBuffer.empty[ParsedTable]
    var block = ArrayBuffer.empty[String]
    def flush(): Unit = {
      if (block.nonEmpty) {
        val sepIdx = block.indexWhere(_.contains("---"))
        val (headers, rows) =
          if (sepIdx == 1) (markdownRowCells(block(0)),
            block.drop(2).filterNot(_.contains("---")).map(markdownRowCells))
          else (Seq.empty[String],
            block.filterNot(_.contains("---")).map(markdownRowCells))
        tables += ParsedTable(headers.toSeq, rows.toSeq.map(_.toSeq))
        block = ArrayBuffer.empty[String]
      }
    }
    lines.foreach { l =>
      if (l.startsWith("|") && l.endsWith("|") && l.length >= 2) block += l
      else flush()
    }
    flush()
    tables.toSeq
  }

  // ---- Field-extraction regexes (exact reference patterns) ----

  /** `ISIN\s+([A-Z0-9]{12})` (positions.py:246-248 etc). */
  private val isinPat = Pattern.compile("ISIN\\s+([A-Z0-9]{12})")
  def extractIsin(text: String): Option[String] = {
    val m = isinPat.matcher(text)
    if (m.find()) Some(m.group(1)) else None
  }

  /** `\d{3}-\d{6}\.[A-Z0-9]+` account number (positions.py:240-242). */
  private val accountPat = Pattern.compile("\\d{3}-\\d{6}\\.[A-Z0-9]+")
  def extractAccount(text: String): Option[String] = {
    val m = accountPat.matcher(text)
    if (m.find()) Some(m.group(0)) else None
  }

  /** `Portfolio number\s+(\d{3}-\d{6}-\d{2})` (orchestrator.py:65-68). */
  private val portfolioPat =
    Pattern.compile("Portfolio number\\s+(\\d{3}-\\d{6}-\\d{2})")
  def extractPortfolioNo(text: String): Option[String] = {
    val m = portfolioPat.matcher(text)
    if (m.find()) Some(m.group(1)) else None
  }

  /** Page-level statement date: `as of DD.MM.YYYY` ("Statement of
    * assets valued as of …" — the reference takes the valuation date
    * from the page, not from config).
    */
  private val asOfPat = Pattern.compile("as of (\\d{2}\\.\\d{2}\\.\\d{4})")
  def extractAsOfDate(text: String): Option[String] = {
    val m = asOfPat.matcher(text)
    if (m.find()) Some(m.group(1)) else None
  }

  /** All `DD.MM.YYYY` dates in order (trade_information.py:217-226). */
  private val datePat = Pattern.compile("\\d{2}\\.\\d{2}\\.\\d{4}")
  def extractDates(text: String): Seq[String] = {
    val m = datePat.matcher(text)
    val out = ArrayBuffer.empty[String]
    while (m.find()) out += m.group(0)
    out.toSeq
  }
  /** re.match semantics: anchored at start. */
  def startsWithDate(s: String): Boolean = {
    val m = datePat.matcher(s)
    m.lookingAt()
  }

  /** Client name between "Portfolio number" and "Statement of assets"
    * lines (trade_information.py:54-59, DOTALL non-greedy).
    */
  private val clientPat = Pattern.compile(
    "Portfolio number.*?\\n(.*?)\\n.*?Statement of assets", Pattern.DOTALL)
  def extractClientName(text: String): Option[String] = {
    if (!(text.contains("Portfolio number") &&
        text.contains("Statement of assets"))) return None
    val m = clientPat.matcher(text)
    if (m.find()) Some(m.group(1).trim) else None
  }

  /** Currency codes in the reference's fixed order
    * (positions.py:51, orchestrator.py:62).
    */
  val Currencies: Seq[String] =
    Seq("SGD", "USD", "CHF", "HKD", "EUR", "GBP", "JPY", "AUD", "CAD")

  def startsWithCurrency(s: String): Boolean =
    Currencies.exists(s.startsWith)

  /** First currency (in Currencies order) contained in any cell —
    * the `c in str(row)` sniff (positions.py:232-237).
    */
  def sniffCurrency(cells: Seq[String]): Option[String] =
    Currencies.find(c => cells.exists(_.contains(c)))

  // ---- Number / date normalization (spec: docs/rule_2.txt:349-388) ----

  /** Normalize a business number string: thousands separators (`,` or
    * `'`), parentheses-negative, trailing/leading junk trimmed. Returns
    * None when no parse. Max 12 integer / 2 decimal digits per spec —
    * violations still parse but are flagged by the validator.
    */
  def normalizeNumber(raw: String): Option[BigDecimal] = {
    val (s, neg) = cleanNumberString(raw)
    if (!s.matches("\\d+(\\.\\d+)?")) return None
    val v = BigDecimal(s)
    Some(if (neg) -v else v)
  }

  /** The separator-stripped digit string + parity of negation markers —
    * the shared cleaning step behind normalizeNumber and the VAL_RANGE
    * digit-cap check (single kernel, two consumers).
    */
  private def cleanNumberString(raw: String): (String, Boolean) = {
    if (raw == null) return ("", false)
    var s = raw.trim
    var neg = false
    if (s.startsWith("(") && s.endsWith(")")) { neg = true; s = s.substring(1, s.length - 1) }
    if (s.startsWith("-")) { neg = !neg; s = s.substring(1) } // leading minus
    (s.replaceAll("[',\\s]", ""), neg)
  }

  /** VAL_RANGE spec (docs/rule_2.txt:349-356 number constraints): at
    * most 12 integer digits and 2 decimal digits. Only meaningful for
    * values that parse — callers flag parse failures as VAL_NUM first.
    */
  def numberInRange(raw: String): Boolean =
    cleanNumberString(raw)._1.matches("\\d{1,12}(\\.\\d{1,2})?")

  /** VAL_DATE spec: an ISO yyyy-MM-dd string that is also a possible
    * proleptic-Gregorian calendar date (month 1-12, day within the
    * month, Feb 29 only in leap years). Pure arithmetic — identical in
    * the DuckDB oracle, no engine date-parser divergence.
    */
  def isValidCalendarDate(iso: String): Boolean = {
    if (iso == null || !iso.matches("\\d{4}-\\d{2}-\\d{2}")) return false
    val y = iso.substring(0, 4).toInt
    val m = iso.substring(5, 7).toInt
    val d = iso.substring(8, 10).toInt
    if (m < 1 || m > 12 || d < 1) return false
    val leap = (y % 4 == 0 && y % 100 != 0) || y % 400 == 0
    val dim = m match {
      case 1 | 3 | 5 | 7 | 8 | 10 | 12 => 31
      case 4 | 6 | 9 | 11              => 30
      case _                           => if (leap) 29 else 28
    }
    d <= dim
  }

  /** Accept DD.MM.YYYY / DD/MM/YYYY / YYYY-MM-DD → ISO yyyy-MM-dd
    * (docs/rule_2.txt:375-383). Purely lexical — no calendar validation
    * beyond digit shape, matching the reference's regex-level handling.
    */
  def normalizeDate(raw: String): Option[String] = {
    if (raw == null) return None
    val s = raw.trim
    val dmyDot = "(\\d{2})\\.(\\d{2})\\.(\\d{4})".r
    val dmySlash = "(\\d{2})/(\\d{2})/(\\d{4})".r
    val iso = "(\\d{4})-(\\d{2})-(\\d{2})".r
    s match {
      case dmyDot(d, m, y)   => Some(s"$y-$m-$d")
      case dmySlash(d, m, y) => Some(s"$y-$m-$d")
      case iso(y, m, d)      => Some(s"$y-$m-$d")
      case _                 => None
    }
  }

  /** Strict ISIN shape check (docs/rule_2.txt:427-431). */
  def isValidIsin(s: String): Boolean =
    s != null && s.matches("[A-Z]{2}[A-Z0-9]{9}[0-9]")

  /** Python str.split(maxsplit=1) on whitespace runs. */
  def splitFirst(s: String): (String, Option[String]) = {
    val t = s.trim
    val idx = t.indexWhere(_.isWhitespace)
    if (idx < 0) (t, None)
    else {
      val rest = t.substring(idx).dropWhile(_.isWhitespace)
      (t.substring(0, idx), if (rest.isEmpty) None else Some(rest))
    }
  }

  def lower(s: String): String = s.toLowerCase(Locale.ROOT)
}
