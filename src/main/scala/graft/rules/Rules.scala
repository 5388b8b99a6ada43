package graft.rules

import java.util.Locale
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Condition algebra of the reference's rule engine
  * (/root/reference/pipeline/extractors/base.py:31-54):
  * str ⇒ substring contains; list ⇒ AND; {all_of} / {any_of} /
  * {none_of} / {contains}. Compiled both to a scalar predicate (used by
  * the golden evaluator) and to a Catalyst `Column` (used by the Spark
  * pipeline) — two backends, one semantics.
  */
sealed trait Cond
object Cond {
  case class Contains(s: String) extends Cond
  case class AllOf(cs: Seq[Cond]) extends Cond
  case class AnyOf(cs: Seq[Cond]) extends Cond
  case class NoneOf(cs: Seq[Cond]) extends Cond

  def eval(text: String, c: Cond): Boolean = c match {
    case Contains(s) => text.contains(s)
    case AllOf(cs)   => cs.forall(eval(text, _))
    case AnyOf(cs)   => cs.exists(eval(text, _))
    case NoneOf(cs)  => !cs.exists(eval(text, _))
  }

  def toColumn(text: Column, c: Cond): Column = c match {
    case Contains(s) => text.contains(lit(s))
    case AllOf(cs)   => cs.map(toColumn(text, _)).reduceOption(_ && _).getOrElse(lit(true))
    case AnyOf(cs)   => cs.map(toColumn(text, _)).reduceOption(_ || _).getOrElse(lit(false))
    case NoneOf(cs)  => !cs.map(toColumn(text, _)).reduceOption(_ || _).getOrElse(lit(false))
  }
}

/** Page-classification rule
  * (/root/reference/soa_extractor/rules/rule.json:2-39): match is
  * case-insensitive substring over the page "header" slice.
  */
case class PageRule(
    priority: Int,
    pageType: String,
    containsAny: Seq[String] = Nil,
    fallback: Boolean = false)

/** Record-classification rule (rule.json:40-131). */
case class RecordRule(
    priority: Int,
    matchAny: Seq[String] = Nil,
    output: String = "",
    outputGroup: String = "",
    fallback: Boolean = false)

/** Transaction-type rule with the exclude_if_contains refinement
  * (/root/reference/docs/rule.json transaction_type_rules, e.g. the
  * SPOT-without-SALE rule).
  */
case class TxnTypeRule(
    name: String,
    priority: Int,
    matchAny: Seq[String] = Nil,
    excludeIfContains: Seq[String] = Nil,
    output: String = "",
    fallback: Boolean = false)

/** How the page "header" slice is derived before classification —
  * the two reference variants (SURVEY §7.4-3):
  *  - Soa: first 20 lines (soa_extractor/pipeline/page_classifier.py:16)
  *  - Plugin: lines whose trimmed form starts with '#', else first 10
  *    lines (pipeline/page_classifier.py:13-14). Golden semantics.
  */
sealed trait HeaderMode
case object SoaHeader extends HeaderMode
case object PluginHeader extends HeaderMode

case class RuleSet(
    name: String,
    headerMode: HeaderMode,
    pageRules: Seq[PageRule],
    recordRules: Seq[RecordRule],
    txnTypeRules: Seq[TxnTypeRule],
    /** OthersPlugin.identify semantics (others.py:9-29): pages that hit
      * the page fallback are re-routed to "Others" unless their text
      * starts with an excluded header. Plugin variant only.
      */
    othersFallback: Boolean = false,
    othersExcludedPrefixes: Seq[String] = RuleSet.DefaultOthersExcluded,
    /** Config-driven field extraction (docs/rule.json sections[]
      * extraction_rules) — defaults reproduce the reference plugins'
      * hardcoded extraction exactly (loader-identity golden test).
      */
    extraction: ExtractionSpec = ExtractionSpec.default) {
  // priority desc; fallback rules only set the default. The reference
  // loop reassigns the default on EVERY fallback rule it passes
  // (priority desc, page_classifier.py:22-24), so with several fallback
  // rules the LAST one in priority-desc order wins.
  val sortedPageRules: Seq[PageRule] = pageRules.sortBy(-_.priority)
  val sortedRecordRules: Seq[RecordRule] = recordRules.sortBy(-_.priority)
  val sortedTxnRules: Seq[TxnTypeRule] = txnTypeRules.sortBy(-_.priority)
  def pageFallback: String =
    sortedPageRules.filter(_.fallback).lastOption.map(_.pageType)
      .getOrElse(defaultPage)
  def recordFallback: (String, String) =
    sortedRecordRules.filter(_.fallback).lastOption
      .map(r => (r.outputGroup, r.output))
      .getOrElse(defaultRecord)
  def txnFallback: String =
    sortedTxnRules.filter(_.fallback).lastOption.map(_.output)
      .getOrElse("Other")
  // built-in defaults when no fallback rule exists: soa router defaults
  // ("Others","Other") at record_router.py:6-7; plugin router defaults
  // ("Trade","Trade") at pipeline/record_router.py:5-6.
  def defaultPage: String = "Ignore"
  def defaultRecord: (String, String) =
    if (headerMode == SoaHeader) ("Others", "Other") else ("Trade", "Trade")
}

object RuleSet {
  /** The 7 page headers OthersPlugin refuses to claim (others.py:13-21). */
  val DefaultOthersExcluded: Seq[String] = Seq(
    "# Performance", "# Table of contents", "# Asset evaluations",
    "# Asset allocation", "# Document Title", "# Important information",
    "# Portfolio overview")
}

/** The two reference rule configurations, encoded as data (the rule
  * semantics of soa_extractor/rules/rule.json:1-132 and
  * docs/rule.json transaction_type_rules).
  */
object RuleSets {
  private val pageRules = Seq(
    PageRule(10, "Trade", Seq("Trade information", "Transaction details")),
    PageRule(10, "FXTF", Seq("FX & TF", "Foreign Exchange")),
    PageRule(10, "Positions",
      Seq("Portfolio", "Positions", "Holdings", "Statement of assets")),
    // Transaction pages: the plugin orchestrator branches on page_type
    // "Transaction" (orchestrator.py:139); the keyword set comes from
    // docs/rule.json's Trade-information page identification
    // ("Transaction list").
    PageRule(9, "Transaction", Seq("Transaction list", "Transaction details")),
    PageRule(0, "Ignore", fallback = true))

  private val recordRules = Seq(
    RecordRule(100, Seq("FX FORWARD"), "FX Forward", "FXTF"),
    RecordRule(95, Seq("FX SPOT"), "FX Spot", "FXTF"),
    RecordRule(90, Seq("SPOT"), "FX Spot", "FXTF"),
    RecordRule(70, Seq("SOLD FOR YOU AS AGENT", "BOUGHT FROM YOU AS PRINCIPAL",
      "FRAMEWORK REDEMPTION", "REDEMPTION", "YOUR SALE",
      "SEC. DELIVERY AGAINST PAYMENT", "SALE SPOT", "SALE", "SELL"),
      "Sell", "Trade"),
    RecordRule(60, Seq("SOLD TO YOU AS PRINCIPAL", "BOUGHT FOR YOU AS AGENT",
      "NEW ISSUE PURCHASE", "YOUR PURCHASE", "SEC. RECEIPT AGAINST PAYMENT",
      "PURCHASE", "BUY"), "Buy", "Trade"),
    RecordRule(40, Seq("REDUCTION", "REPAYMENT", "INTEREST CAP."),
      "UBS Call Deposit", "Others"),
    RecordRule(30, Seq("increase"), "Increase", "Positions"),
    RecordRule(20, Seq("new investment", "new invest", "new inv"),
      "New investment", "Positions"),
    RecordRule(0, Nil, "Other", "Others", fallback = true))

  private val txnRules = Seq(
    TxnTypeRule("UBS Call Deposit", 110, Seq("UBS Call Deposit"),
      output = "UBS Call Deposit"),
    TxnTypeRule("FX Forward", 100, Seq("FX FORWARD"), output = "FX Forward"),
    TxnTypeRule("FX Spot (explicit)", 95, Seq("FX SPOT"), output = "FX Spot"),
    TxnTypeRule("FX Spot (implicit)", 90, Seq("SPOT"), Seq("SALE"), "FX Spot"),
    TxnTypeRule("REDUCTION", 89, Seq("REDUCTION"), output = "REDUCTION"),
    TxnTypeRule("REPAYMENT", 88, Seq("REPAYMENT"), output = "REPAYMENT"),
    TxnTypeRule("INTEREST CAP.", 87, Seq("INTEREST CAP."),
      output = "INTEREST CAP."),
    TxnTypeRule("Sell", 70, Seq("SOLD FOR YOU AS AGENT",
      "BOUGHT FROM YOU AS PRINCIPAL", "FRAMEWORK REDEMPTION", "REDEMPTION",
      "YOUR SALE", "SEC. DELIVERY AGAINST PAYMENT", "SALE SPOT", "SALE",
      "SELL"), output = "Sell"),
    TxnTypeRule("Buy", 60, Seq("SOLD TO YOU AS PRINCIPAL",
      "BOUGHT FOR YOU AS AGENT", "NEW ISSUE PURCHASE", "YOUR PURCHASE",
      "SEC. RECEIPT AGAINST PAYMENT", "PURCHASE", "BUY"), output = "Buy"),
    TxnTypeRule("Increase", 30, Seq("increase"), output = "Increase"),
    TxnTypeRule("New investment", 20, Seq("new investment", "new invest",
      "new inv"), output = "New investment"),
    TxnTypeRule("Other", 0, fallback = true, output = "Other"))

  // Others-fallback is the plugin family's behavior (others.py:9-29);
  // the soa path drops fallback-classified pages (run.py:189-196).
  val plugin: RuleSet =
    RuleSet("plugin", PluginHeader, pageRules, recordRules, txnRules,
      othersFallback = true)
  val soa: RuleSet =
    RuleSet("soa", SoaHeader, pageRules, recordRules, txnRules)
}

/** Scalar (non-Spark) rule evaluation — used by the golden evaluator and
  * unit tests. Mirrors the Python loops exactly.
  */
object ScalarRules {
  private def lower(s: String) = s.toLowerCase(Locale.ROOT)

  /** Header slice per variant, then lowercased (both reference variants
    * lowercase the header before matching).
    */
  def headerText(text: String, mode: HeaderMode): String = {
    val lines = text.split("\n", -1)
    val slice = mode match {
      case SoaHeader => lines.take(20)
      case PluginHeader =>
        val hashLines = lines.filter(_.trim.startsWith("#"))
        if (hashLines.nonEmpty) hashLines else lines.take(10)
    }
    lower(slice.mkString("\n"))
  }

  def classifyPage(text: String, rs: RuleSet): String = {
    val header = headerText(text, rs.headerMode)
    rs.sortedPageRules.filterNot(_.fallback)
      .find(r => r.containsAny.exists(k => header.contains(lower(k))))
      .map(_.pageType).getOrElse(rs.pageFallback)
  }

  /** OthersPlugin.identify (others.py:9-29): a fallback-classified page
    * is claimed by "Others" unless its text (leading ASCII whitespace
    * stripped, matching the Column twin's regexp `^\s+`) starts with an
    * excluded header.
    */
  def isOthersPage(text: String, rs: RuleSet): Boolean = {
    val t = text.dropWhile(c => c == ' ' || c == '\t' || c == '\n' ||
      c == '\r' || c == '\u000B' || c == '\f')
    rs.othersFallback && !rs.othersExcludedPrefixes.exists(t.startsWith)
  }

  /** classifyPage + the Others-fallback re-test — the page type the
    * extraction pipeline routes on.
    */
  def effectivePageType(text: String, rs: RuleSet): String = {
    val base = classifyPage(text, rs)
    if (base == rs.pageFallback && isOthersPage(text, rs)) "Others" else base
  }

  /** Returns (group, type). */
  def classifyRecord(rowText: String, rs: RuleSet): (String, String) = {
    val rl = lower(rowText)
    rs.sortedRecordRules.filterNot(_.fallback)
      .find(r => r.matchAny.exists(k => rl.contains(lower(k))))
      .map(r => (r.outputGroup, r.output)).getOrElse(rs.recordFallback)
  }

  /** Transaction-type classifier with exclude_if_contains
    * (fx_tf.py:32-59 generalized to all rules per docs/rule.json).
    */
  def classifyTxnType(rowText: String, rs: RuleSet): String = {
    val rl = lower(rowText)
    rs.sortedTxnRules.filterNot(_.fallback)
      .find { r =>
        r.matchAny.exists(k => rl.contains(lower(k))) &&
        !r.excludeIfContains.exists(e => rl.contains(lower(e)))
      }
      .map(_.output)
      .getOrElse(rs.txnFallback)
  }
}

/** Catalyst compiler: rule sets → pure `Column` when-chains. No UDFs —
  * classification stays inside whole-stage codegen and is pushdown-able.
  * `when` order encodes priority (highest first), matching the Python
  * first-match-wins loop.
  */
object RuleCompiler {

  /** Header slice as a Column over the page text. */
  def headerCol(text: Column, mode: HeaderMode): Column = {
    val lines = split(text, "\n", -1)
    val sliceCol = mode match {
      case SoaHeader => slice(lines, 1, 20)
      case PluginHeader =>
        val hashLines = filter(lines, l => startswith(ltrim(l), lit("#")))
        when(size(hashLines) > 0, hashLines).otherwise(slice(lines, 1, 10))
    }
    lower(concat_ws("\n", sliceCol))
  }

  private def containsAnyLower(text: Column, kws: Seq[String]): Column =
    kws.map(k => text.contains(lit(k.toLowerCase(Locale.ROOT))))
      .reduceOption(_ || _).getOrElse(lit(false))

  /** page_type from an ALREADY-MATERIALIZED lowercased header column.
    * IMPORTANT: pass an attribute (withColumn-materialized), not an
    * expression — the when-chain references it once per keyword and
    * Catalyst would otherwise duplicate the whole header computation
    * into every branch (CollapseProject re-inlines cheap-looking
    * aliases; HOF-bearing header derivation is not codegen-CSE'd).
    */
  def classifyPageFromHeader(header: Column, rs: RuleSet): Column =
    rs.sortedPageRules.filterNot(_.fallback).foldRight(lit(rs.pageFallback)) {
      (r, elseCol) =>
        when(containsAnyLower(header, r.containsAny), lit(r.pageType))
          .otherwise(elseCol)
    }

  /** page text → page_type column (single-expression form — fine for
    * small/one-off projections; prefer materializing headerCol +
    * classifyPageFromHeader in hot paths).
    */
  def classifyPage(text: Column, rs: RuleSet): Column =
    classifyPageFromHeader(headerCol(text, rs.headerMode), rs)

  /** Others-fallback re-test (ScalarRules.effectivePageType twin):
    * `pageType` must be an ALREADY-MATERIALIZED classification attribute
    * (see classifyPageFromHeader note). Identity when the rule set has
    * othersFallback disabled.
    */
  def othersFallbackCol(pageType: Column, md: Column, rs: RuleSet): Column =
    if (!rs.othersFallback) pageType
    else {
      val stripped = regexp_replace(md, "^\\s+", "")
      val excluded = rs.othersExcludedPrefixes
        .map(p => stripped.startsWith(lit(p)))
        .reduceOption(_ || _).getOrElse(lit(false))
      when(pageType === lit(rs.pageFallback) && !excluded, lit("Others"))
        .otherwise(pageType)
    }

  /** struct(txn_group, txn_type) from a pre-lowered row-text column
    * (materialize `lower(text)` once in hot paths — see
    * classifyPageFromHeader note).
    */
  def classifyRecordFromLower(rl: Column, rs: RuleSet): Column = {
    val (fg, ft) = rs.recordFallback
    val fallbackCol = struct(lit(fg).as("txn_group"), lit(ft).as("txn_type"))
    rs.sortedRecordRules.filterNot(_.fallback).foldRight(fallbackCol) {
      (r, elseCol) =>
        when(containsAnyLower(rl, r.matchAny),
          struct(lit(r.outputGroup).as("txn_group"),
            lit(r.output).as("txn_type"))).otherwise(elseCol)
    }
  }

  /** row text → struct(txn_group, txn_type). */
  def classifyRecord(rowText: Column, rs: RuleSet): Column =
    classifyRecordFromLower(lower(rowText), rs)

  /** txn type (with exclude_if_contains) from a pre-lowered column. */
  def classifyTxnTypeFromLower(rl: Column, rs: RuleSet): Column = {
    val fb = lit(rs.txnFallback)
    rs.sortedTxnRules.filterNot(_.fallback).foldRight(fb) { (r, elseCol) =>
      val hit = containsAnyLower(rl, r.matchAny) &&
        !containsAnyLower(rl, r.excludeIfContains)
      when(hit, lit(r.output)).otherwise(elseCol)
    }
  }

  /** row text → transaction type (with exclude_if_contains). */
  def classifyTxnType(rowText: Column, rs: RuleSet): Column =
    classifyTxnTypeFromLower(lower(rowText), rs)
}
