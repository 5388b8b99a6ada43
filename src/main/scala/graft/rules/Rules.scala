package graft.rules

import java.util.Locale

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
      * extraction_rules); defaults to the built-in plugin set's, which
      * reproduces the reference plugins' hardcoded extraction.
      */
    extraction: ExtractionSpec = RuleSets.plugin.extraction) {
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

/** The two reference rule configurations. Their rules live only in
  * `plugin_rules.json` (the semantics of soa_extractor/rules/rule.json:1-132
  * and docs/rule.json transaction_type_rules and sections[]); the soa
  * variant shares them and differs only in header mode and fallback.
  */
object RuleSets {
  // Others-fallback is the plugin family's behavior (others.py:9-29);
  // the soa path drops fallback-classified pages (run.py:189-196).
  val plugin: RuleSet = RuleLoader.fromResource(
    "/graft/rules/plugin_rules.json", "plugin", PluginHeader,
    othersFallback = true)
  val soa: RuleSet =
    plugin.copy(name = "soa", headerMode = SoaHeader, othersFallback = false)
}

/** The rule engine: priority-ordered, first-match-wins keyword rules
  * for pages, records and transaction types. Mirrors the Python loops
  * exactly. The one implementation: the page kernel, the page-event
  * log, the golden evaluator and the catalog's extraction queries all
  * call it.
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
    * is claimed by "Others" unless its text, with leading ASCII
    * whitespace (space, tab, LF, CR, VT, FF) stripped, starts with an
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
