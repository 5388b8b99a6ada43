package graft

import graft.textops.TextOps
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {

  test("cleanHtmlText strips tags + entities") {
    assert(TextOps.cleanHtmlText("<b>a &amp; b</b>&nbsp;c") === "a & b c")
  }

  test("parseHtmlTables: reference regex semantics") {
    val html =
      "<table><thead><tr><th>H1</th><th>H2</th></tr></thead>" +
        "<tbody><tr><td>a</td><td>b</td></tr><tr><td>c</td><td></td></tr></tbody></table>" +
        "<table><tbody><tr><td>x</td></tr></tbody></table>"
    val ts = TextOps.parseHtmlTables(html)
    assert(ts.length === 2)
    assert(ts(0).headers === Seq("H1", "H2"))
    assert(ts(0).rows === Seq(Seq("a", "b"), Seq("c", "")))
    assert(ts(1).headers === Seq())
    assert(ts(1).rows === Seq(Seq("x")))
  }

  test("markdown tables: separator marks header") {
    val md = "text\n| A | B |\n| --- | --- |\n| 1 | 2 |\n| 3 | 4 |\nafter"
    val ts = TextOps.parseMarkdownTables(md)
    assert(ts.length === 1)
    assert(ts(0).headers === Seq("A", "B"))
    assert(ts(0).rows === Seq(Seq("1", "2"), Seq("3", "4")))
  }

  test("field regexes: ISIN, account, portfolio, dates, client") {
    assert(TextOps.extractIsin("x ISIN US1234567890 y") ===
      Some("US1234567890"))
    assert(TextOps.extractIsin("ISIN SHORT") === None)
    assert(TextOps.extractAccount("acc 123-456789.AB1 end") ===
      Some("123-456789.AB1"))
    assert(TextOps.extractPortfolioNo("Portfolio number  123-456789-01") ===
      Some("123-456789-01"))
    assert(TextOps.extractDates("01.02.2024 x 03.04.2025") ===
      Seq("01.02.2024", "03.04.2025"))
    assert(TextOps.startsWithDate("01.02.2024 rest"))
    assert(!TextOps.startsWithDate("x 01.02.2024"))
    assert(TextOps.extractClientName(
      "Portfolio number 1\nJohn Doe\nblah Statement of assets") ===
      Some("John Doe"))
  }

  test("number normalization") {
    assert(TextOps.normalizeNumber("1'234,567.89") ===
      Some(BigDecimal("1234567.89")))
    assert(TextOps.normalizeNumber("(500.25)") === Some(BigDecimal("-500.25")))
    assert(TextOps.normalizeNumber("-42") === Some(BigDecimal("-42")))
    assert(TextOps.normalizeNumber("(-42)") === Some(BigDecimal("42")))
    assert(TextOps.normalizeNumber("12 345.00") === Some(BigDecimal("12345.00")))
    assert(TextOps.normalizeNumber("abc") === None)
    assert(TextOps.normalizeNumber("") === None)
  }

  test("date normalization") {
    assert(TextOps.normalizeDate("01.02.2024") === Some("2024-02-01"))
    assert(TextOps.normalizeDate("01/02/2024") === Some("2024-02-01"))
    assert(TextOps.normalizeDate("2024-02-01") === Some("2024-02-01"))
    assert(TextOps.normalizeDate("1.2.2024") === None)
  }

  test("VAL_RANGE digit caps (12 integer / 2 decimal)") {
    assert(TextOps.numberInRange("999'999'999'999.99")) // exactly 12/2
    assert(!TextOps.numberInRange("1'000'000'000'000.00")) // 13 int digits
    assert(!TextOps.numberInRange("12.345")) // 3 decimals
    assert(TextOps.numberInRange("(1'234.56)"))
    assert(TextOps.numberInRange("-42"))
    assert(!TextOps.numberInRange("abc")) // unparseable ⊄ in-range
  }

  test("VAL_DATE calendar arithmetic (incl. leap years)") {
    assert(TextOps.isValidCalendarDate("2024-02-29")) // leap
    assert(!TextOps.isValidCalendarDate("2023-02-29")) // non-leap
    assert(!TextOps.isValidCalendarDate("2100-02-29")) // century non-leap
    assert(TextOps.isValidCalendarDate("2000-02-29")) // 400-year leap
    assert(!TextOps.isValidCalendarDate("2024-02-30"))
    assert(!TextOps.isValidCalendarDate("2024-04-31"))
    assert(TextOps.isValidCalendarDate("2024-04-30"))
    assert(!TextOps.isValidCalendarDate("2024-13-01"))
    assert(!TextOps.isValidCalendarDate("2024-00-10"))
    assert(!TextOps.isValidCalendarDate("2024-01-00"))
    assert(TextOps.isValidCalendarDate("2024-12-31"))
    assert(!TextOps.isValidCalendarDate("31.12.2024")) // not ISO
    assert(!TextOps.isValidCalendarDate(""))
  }

  test("splitFirst mirrors python split(maxsplit=1)") {
    assert(TextOps.splitFirst("100 ACME Bond") === ("100", Some("ACME Bond")))
    assert(TextOps.splitFirst("solo") === ("solo", None))
    assert(TextOps.splitFirst("a   b  c") === ("a", Some("b  c")))
  }

  test("property: normalizeNumber round-trips plain decimals (seeded)") {
    val rng = new scala.util.Random(1234)
    (1 to 500).foreach { _ =>
      val i = rng.nextLong() % 999999999L
      val c = rng.nextInt(100)
      val formatted = f"$i%d.$c%02d"
      val parsed = TextOps.normalizeNumber(formatted)
      assert(parsed.isDefined, formatted)
      assert(parsed.get === BigDecimal(formatted), formatted)
    }
  }
}
