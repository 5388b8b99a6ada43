package graft

import graft.rules._
import org.scalatest.funsuite.AnyFunSuite

class RulesSpec extends AnyFunSuite {
  val rs = RuleSets.plugin

  test("page classification: positions heading") {
    assert(ScalarRules.classifyPage("# Detailed positions\nbody", rs) ===
      "Positions")
  }

  test("page classification: plugin header mode uses # lines") {
    // 'Portfolio' appears in body but not in a # line → header = # lines only
    val text = "# Nothing here\nPortfolio number 123"
    assert(ScalarRules.classifyPage(text, rs) === "Ignore")
  }

  test("page classification: plugin falls back to first 10 lines") {
    val text = "Statement of assets\nmore\n"
    assert(ScalarRules.classifyPage(text, rs) === "Positions")
  }

  test("page classification: soa header = first 20 lines") {
    val text = ("x\n" * 19) + "Holdings overview"
    assert(ScalarRules.classifyPage(text, RuleSets.soa) === "Positions")
    val text2 = ("x\n" * 20) + "Holdings overview"
    assert(ScalarRules.classifyPage(text2, RuleSets.soa) === "Ignore")
  }

  test("page classification: case-insensitive") {
    assert(ScalarRules.classifyPage("# TRANSACTION LIST", rs) === "Transaction")
  }

  test("record classification: priority shadowing (FX FORWARD over SELL)") {
    // 'FX FORWARD ... SALE' matches both p100 and p70 — highest wins
    assert(ScalarRules.classifyRecord("FX FORWARD SALE deal", rs) ===
      ("FXTF", "FX Forward"))
  }

  test("record classification: fallback") {
    assert(ScalarRules.classifyRecord("coupon payment", rs) ===
      ("Others", "Other"))
  }

  test("record classification: keyword order within a rule") {
    assert(ScalarRules.classifyRecord("YOUR SALE of bonds", rs) ===
      ("Trade", "Sell"))
    assert(ScalarRules.classifyRecord("NEW ISSUE PURCHASE", rs) ===
      ("Trade", "Buy"))
  }

  test("txn type: SPOT without SALE is FX Spot; with SALE excluded") {
    assert(ScalarRules.classifyTxnType("SPOT conversion", rs) === "FX Spot")
    // SPOT+SALE: rule 90 excluded; falls to Sell (p70, matches SALE)
    assert(ScalarRules.classifyTxnType("SPOT SALE deal", rs) === "Sell")
  }

  test("JSON loader: parses the reference rule.json field shapes") {
    val json = """{
      "page_classification": {"rules": [
        {"priority": 10, "type": "Trade", "match_in": "header",
         "contains_any": ["Trade information"]},
        {"priority": 0, "fallback": true, "type": "Ignore"}]},
      "record_classification": {"rules": [
        {"priority": 100, "match_any": ["FX FORWARD"],
         "output": "FX Forward", "output_group": "FXTF"},
        {"priority": 0, "fallback": true, "output": "Other",
         "output_group": "Others"}]},
      "transaction_type_rules": [
        {"name": "FX Spot (implicit)", "priority": 90, "match_any": ["SPOT"],
         "exclude_if_contains": ["SALE"], "output": "FX Spot"}],
      "sections": [{"section_name": "ignored-by-loader"}]
    }"""
    val loaded = RuleLoader.fromJson(json, "test")
    assert(loaded.pageRules ===
      Seq(PageRule(10, "Trade", Seq("Trade information")),
        PageRule(0, "Ignore", Nil, fallback = true)))
    assert(loaded.recordRules.head ===
      RecordRule(100, Seq("FX FORWARD"), "FX Forward", "FXTF"))
    assert(loaded.recordFallback === ("Others", "Other"))
    assert(loaded.txnTypeRules ===
      Seq(TxnTypeRule("FX Spot (implicit)", 90, Seq("SPOT"), Seq("SALE"),
        "FX Spot")))
    // a loaded set drives the classifiers like any built-in one
    assert(ScalarRules.classifyPage("# Trade information\n", loaded) ===
      "Trade")
    assert(ScalarRules.classifyTxnType("SPOT SALE", loaded) === "Other")
  }

  test("fallback selection: LAST fallback in priority-desc order wins") {
    // the reference loop reassigns the default on every fallback rule,
    // so the lowest-priority fallback is the effective default
    val two = RuleSets.plugin.copy(pageRules =
      RuleSets.plugin.pageRules ++ Seq(
        PageRule(5, "HighFallback", Nil, fallback = true)))
    // fallbacks sorted desc: HighFallback(5), Ignore(0) → last = Ignore
    assert(two.pageFallback === "Ignore")
  }

  test("built-in rule sets are pinned: sha256 of plugin and soa") {
    def strs(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def fields(m: Map[String, FieldSpec]) = m.toSeq.sortBy(_._1).map {
      case (k, f) => s"$k=${f.strategy}|${f.pattern}|${f.group}|${f.index}|${f.key}"
    }.mkString("\n")
    def render(r: RuleSet) = Seq(
      r.name, r.headerMode.toString,
      r.pageRules.map(p => s"page ${p.priority} ${p.pageType} " +
        s"${strs(p.containsAny)} ${p.fallback}").mkString("\n"),
      r.recordRules.map(p => s"record ${p.priority} ${strs(p.matchAny)} " +
        s"${p.output} ${p.outputGroup} ${p.fallback}").mkString("\n"),
      r.txnTypeRules.map(p => s"txn ${p.name} ${p.priority} " +
        s"${strs(p.matchAny)} ${strs(p.excludeIfContains)} ${p.output} " +
        s"${p.fallback}").mkString("\n"),
      r.othersFallback.toString, strs(r.othersExcludedPrefixes),
      fields(r.extraction.trade), fields(r.extraction.positions)
    ).mkString("\n")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Seq(RuleSets.plugin, RuleSets.soa).foreach(r =>
      md.update((render(r) + "\u0000").getBytes("UTF-8")))
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(hex ==
      "43966d9ab8eadcd2394e1a749520335e2e85712fea6ca4531faa490b2a1b0152")
  }

  // ---- the scalar FieldSpec compiler (the page kernel's field stage) ----

  private def field(fs: FieldSpec, cells: Seq[String], text: String = "",
      values: Array[String] = Array.empty): String =
    FieldSpec.compile(fs, _ => 0)(FieldInput(cells, text, values))

  test("field strategies: an index past the row reads blank") {
    val row = Seq("12.03.2024", "BUY", "USD 100")
    for (s <- Seq("cell", "cell_trim", "currency_token",
        "amount_after_currency"))
      assert(field(FieldSpec(s, index = 9), row) === "", s)
    assert(field(FieldSpec("cell", index = 3), row) === "USD 100")
  }

  test("field strategies: whitespace splits and trims follow the twin") {
    // Python str.split(): runs of whitespace, no empty tokens, so a
    // leading or repeated run still yields the currency token
    val cell = Seq("12.03.2024", "BUY", "  USD   1'000  000 ")
    assert(field(FieldSpec("currency_token", index = 3), cell) === "USD")
    assert(field(FieldSpec("amount_after_currency", index = 3), cell) ===
      "1'000 000")
    // a non-alphabetic first token keeps the whole cell as the amount
    val num = Seq("x", "y", " 1'000  CHF")
    assert(field(FieldSpec("currency_token", index = 3), num) === "")
    assert(field(FieldSpec("amount_after_currency", index = 3), num) ===
      " 1'000  CHF")
    // Java trim: tabs and carriage returns go too
    assert(field(FieldSpec("cell_trim", index = 1), Seq("\t BUY \r")) === "BUY")
    // positions: split at the first run, the rest kept as is
    val pos = Seq(" 100   Nestle  SA ", "x")
    assert(field(FieldSpec("positions_quantity"), pos) === "100")
    assert(field(FieldSpec("positions_name"), pos) === "Nestle  SA")
    val cur = Seq("CHF", "\t250\tRoche Holding", "x")
    assert(field(FieldSpec("positions_currency"), cur) === "CHF")
    assert(field(FieldSpec("positions_quantity"), cur) === "250")
    assert(field(FieldSpec("positions_name"), cur) === "Roche Holding")
  }

  test("field strategies: regex without a match or without its group") {
    val text = "12.03.2024 YOUR PURCHASE USD 100 ISIN CH0038863350"
    assert(field(FieldSpec("regex", "ISIN\\s+([A-Z0-9]{12})", group = 1),
      Nil, text) === "CH0038863350")
    assert(field(FieldSpec("regex", "NEVERMATCH(\\d+)", group = 1),
      Nil, text) === "")
    // group 1 takes no part in the match: blank, like regexp_extract
    assert(field(FieldSpec("regex", "(x)?(USD|CHF)", group = 1),
      Nil, text) === "")
    assert(field(FieldSpec("regex", "(x)?(USD|CHF)", group = 2),
      Nil, text) === "USD")
  }

  test("field strategies: const and page_context") {
    assert(field(FieldSpec("const", key = "K"), Nil) === "K")
    assert(FieldSpec.compile(FieldSpec("page_context", key = "k"),
      Map("k" -> 1))(FieldInput(Nil, "", Array("a", "b"))) === "b")
  }

  test("field strategies: specs that cannot be evaluated fail at compile") {
    def fails(fs: FieldSpec) = intercept[IllegalArgumentException](
      FieldSpec.compile(fs, _ => 0))
    fails(FieldSpec("no_such_strategy"))
    fails(FieldSpec("cell"))            // index 0: cells count from 1
    fails(FieldSpec("regex", "(a)", group = 2))
  }

  test("page kernel: page_context reads an earlier field, and only an " +
      "earlier one") {
    import graft.pipeline.PageKernel
    val md = Seq("# Transaction list",
      "| Date | Type | Amount | Security |", "|---|---|---|---|",
      "| 12.03.2024 | YOUR PURCHASE | USD 1'000.00 | Nestle SA |")
      .mkString("\n")
    def rec(trade: Map[String, FieldSpec]) = {
      val k = new PageKernel(rs.copy(extraction =
        rs.extraction.copy(trade = rs.extraction.trade ++ trade)))
      val rows = k.classifiedRecords("u", "Transaction", "", "Client X", "",
        md).toSeq
      assert(rows.size === 1)
      (n: String) => rows.head.getString(PageKernel.Schema.fieldIndex(n))
    }
    val r = rec(Map(
      "quantity" -> FieldSpec("page_context", key = "transaction_type_raw"),
      "account_no" -> FieldSpec("page_context", key = "client_name"),
      "security_name" -> FieldSpec("page_context", key = "txn_type")))
    assert(r("quantity") === "YOUR PURCHASE")
    assert(r("account_no") === "Client X")
    assert(r("security_name") === "Buy")
    // a field evaluated later is not readable
    intercept[IllegalArgumentException](rec(Map(
      "client_name" -> FieldSpec("page_context", key = "security_name"))))
  }
}
