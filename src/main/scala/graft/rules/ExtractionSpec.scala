package graft.rules

import graft.textops.TextOps
import java.util.regex.Pattern

/** One output field's extraction strategy — the machine-readable core
  * of the reference's `sections[].extraction_rules`
  * (/root/reference/docs/rule.json:68-845). The reference mixes
  * free-text "logic" prose with machine fields (`regex`, positional
  * sources, page-context references); this model keeps exactly the
  * machine-usable kinds, so keyword/regex/column-index changes need a
  * config edit, not a recompile:
  *
  *  - `regex`      — the first match's `group` in the stitched row text,
  *                   "" without a match or when the group takes no part
  *                   in it (N5-N8, J1 FX correlation)
  *  - `cell` / `cell_trim` — 1-based positional column map (N12)
  *  - `page_context` — a page-level attribute carried to every record
  *                   (G4: portfolio_no / client_name / as_of_date), or
  *                   the value of a record column computed before it
  *  - `first_date` / `second_date_or_first` — the N9 date heuristics
  *  - `currency_token` / `amount_after_currency` — the N10 split of a
  *                   cell into leading alpha currency + amount remainder
  *  - `positions_quantity` / `positions_name` / `positions_currency` —
  *                   the N11/N13 positions splits
  *  - `const`      — a literal (key holds the value)
  */
case class FieldSpec(
    strategy: String,
    pattern: String = "",
    group: Int = 0,
    index: Int = 0,
    key: String = "")

/** A record as its field strategies see it: main-row cells, stitched
  * row text, and the column values `page_context` reads by slot. */
final case class FieldInput(cells: Seq[String], text: String,
    values: Array[String])

/** Scalar compiler of [[FieldSpec]]s. Each strategy mirrors the golden
  * twin's hand-coded field code (ScalarEvaluator.extractTrade /
  * extractPositions): whitespace splits are Python's `str.split()`
  * (runs, no empty tokens), trims are Java's (every char <= ' ').
  */
object FieldSpec {

  /** `fs` as an extractor; its regex is compiled here, once. `slotOf`
    * resolves a `page_context` key to the [[FieldInput.values]] slot
    * holding it and throws for a key the record cannot read. A spec the
    * strategy cannot evaluate (unknown strategy, cell index < 1, regex
    * group out of range) throws IllegalArgumentException.
    */
  def compile(fs: FieldSpec, slotOf: String => Int): FieldInput => String =
    fs.strategy match {
      case "regex" =>
        val p = Pattern.compile(fs.pattern)
        val g = fs.group
        require(g >= 0 && g <= p.matcher("").groupCount(),
          s"regex '${fs.pattern}' has no group $g")
        in => {
          val m = p.matcher(in.text)
          if (m.find()) Option(m.group(g)).getOrElse("") else ""
        }
      case "cell"                  => cell(fs.index)
      case "cell_trim"             => val c = cell(fs.index); in => c(in).trim
      case "page_context"          => val i = slotOf(fs.key); in => in.values(i)
      case "first_date"            => firstDate
      case "second_date_or_first"  => in => {
        val first = firstDate(in)
        val dates = if (first.isEmpty) Nil else TextOps.extractDates(in.text)
        if (dates.length > 1) dates(1) else first
      }
      case "currency_token"        =>
        val c = cell(fs.index); in => currencySplit(c(in))._1
      case "amount_after_currency" =>
        val c = cell(fs.index); in => currencySplit(c(in))._2
      case "positions_currency"    => in => {
        val first = firstCell(in).trim
        if (currencyHead(first)) first
        else TextOps.sniffCurrency(in.cells).getOrElse("")
      }
      case "positions_quantity"    => in => positionsSplit(in)._1
      case "positions_name"        => in => positionsSplit(in)._2
      case "const"                 => val k = fs.key; _ => k
      case other =>
        throw new IllegalArgumentException(s"unknown strategy '$other'")
    }

  /** 1-based cell, "" past the end of the row. */
  private def cell(i: Int): FieldInput => String = {
    require(i >= 1, s"cell index $i: cells are numbered from 1")
    in => in.cells.lift(i - 1).getOrElse("")
  }

  private def firstCell(in: FieldInput) = in.cells.headOption.getOrElse("")

  /** The first cell when it starts with a DD.MM.YYYY date, else "". */
  private def firstDate(in: FieldInput): String =
    Some(firstCell(in)).filter(TextOps.startsWithDate).getOrElse("")

  /** (leading alphabetic token, the tokens after it) of a cell, or
    * ("", cell) when its first token is not alphabetic.
    */
  private def currencySplit(c: String): (String, String) = {
    val parts = c.split("\\s+").filter(_.nonEmpty)
    if (parts.nonEmpty && parts(0).matches("[A-Za-z]+"))
      (parts(0), parts.drop(1).mkString(" "))
    else ("", c)
  }

  /** A first cell that is a bare currency code (currency in column 1). */
  private def currencyHead(first: String): Boolean =
    TextOps.startsWithCurrency(first) && first.length <= 4

  /** (quantity, name) from the first run of whitespace in cell 2 after a
    * currency head, else in cell 1 (positions.py:206-223).
    */
  private def positionsSplit(in: FieldInput): (String, String) = {
    val first = firstCell(in).trim
    val head = currencyHead(first)
    val c = if (head) in.cells.lift(1).getOrElse("") else first
    TextOps.splitFirst(c) match {
      case (q, Some(name)) => (q, name)
      case _               => if (head) ("", c) else (first, "")
    }
  }
}

/** Per-section output-field → strategy maps (the two extraction
  * families; Others emits row_text only, by design — others.py:48-59).
  * The reference's `global_field_constraints` (docs/rule.json:766-845)
  * are not parsed: their semantics — digit caps, currency membership,
  * ISIN shape/checksum, calendar dates — are enforced by the Stage-7
  * validator taxonomy (ScalarEvaluator.validate).
  */
case class ExtractionSpec(
    trade: Map[String, FieldSpec],
    positions: Map[String, FieldSpec])
