package graft
package catalog

import graft.gen.PagesGen
import graft.ops.{Layout, Multimodal}
import graft.pipeline.ExtractionPipeline
import graft.rules.{PageRule, PluginHeader, RuleCompiler, RuleSet, RuleSets}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Shared._

/** The extraction pipeline and its parts (rule compilation,
  * routing, validation, events, multimodal assets), and output layout
  * ([[graft.ops.Layout]]: Z-order, zone maps, shard assignment).
  */
object ExtractionQueries {
  /** Rule set for the documents-table classification demo (q10) — same
    * compiler as the page classifier, domain-specific keywords.
    */
  private val docRules = RuleSet("docs", PluginHeader,
    pageRules = Seq(
      PageRule(10, "QueryDoc", Seq("join", "group")),
      PageRule(8, "StreamDoc", Seq("stream", "window")),
      PageRule(5, "StorageDoc", Seq("parquet", "scan", "column")),
      PageRule(0, "OtherDoc", fallback = true)),
    recordRules = RuleSets.plugin.recordRules,
    txnTypeRules = RuleSets.plugin.txnTypeRules)

  /** Booking texts for the q31 synthesized routing pages — exercises the
    * record-rule space (FX, Sell, Buy, UBS, Positions-increase, fallback).
    */
  private val RouteBookings = Seq(
    "FX FORWARD deal", "FX SPOT conversion", "SPOT conversion deal",
    "YOUR SALE of units", "NEW ISSUE PURCHASE", "REDUCTION of deposit",
    "Portfolio increase booked", "new investment subscription",
    "Coupon payment received")

  /** q36 synthesized validator inputs — each list mixes valid, invalid,
    * and empty shapes so every code of the reference VAL taxonomy
    * (error_system.py:37-43) fires deterministically on the documents
    * table. Selected per row by (doc_id + shift) % len, identically in
    * the Spark query and the generated oracle SQL.
    */
  private val ValTradeDates = Seq("15.03.2024", "29.02.2024", "30.02.2024",
    "31.04.2023", "29.02.2023", "10/11/2023", "2024-13-05", "",
    "03.07.2025")

  private val ValSettleDates = Seq("18.03.2024", "01.01.2024", "31.12.2023",
    "29.02.2024", "31.04.2024", "", "2024-02-30", "05.05.2024")

  private val ValCurrencies = Seq("USD", "EUR", "XBT", "usd", "", "CHF",
    "Fee", "JPY")

  private val ValNets = Seq("1'234.56", "(2'500.00)",
    "1'000'000'000'000.00", "12.345", "abc", "999'999'999'999.99", "-42",
    "")

  private val ValMvs = Seq("500.25", "(0.10)", "9'999'999'999'999.99",
    "77.777", "12 345.00", "", "n/a", "1.00")

  private val ValIsins = Seq("", "US0378331005", "US0378331004",
    "ABCDEFGHIJKL", "CH0012032048", "ZZ9999999990", "BAD", "")

  /** q30 synthesized event-page inputs — mixes of valid and invalid
    * shapes so the full event vocabulary (page events, route events
    * incl. the fallback, every VAL_* code, stitch events) fires
    * deterministically from `documents` rows. Trade/settle entries are
    * all DD.MM.YYYY-SHAPED (the row-validity filter requires a shaped
    * first cell) but mix calendar-valid and impossible dates; selected
    * per row by (doc_id + shift) % len, identically in the Spark query
    * and the generated oracle SQL (q30Sql).
    */
  private val EvTradeDates = Seq("15.03.2024", "29.02.2024", "30.02.2024",
    "31.04.2023", "01.01.2024", "29.02.2023")

  private val EvSettleDates = Seq("18.03.2024", "30.02.2024", "01.01.2020",
    "29.02.2024", "31.12.2023")

  private val EvCurrencies = Seq("USD", "EUR", "XBT", "usd", "CHF", "Fee",
    "JPY")

  private val EvNets = Seq("1'234.56", "(2'500.00)", "1'000'000'000'000.00",
    "12.345", "abc", "999'999'999'999.99", "-42", "12 345.00")

  /** S8 sheet-name mapping (run_hard_core.py:47-54), section → sheet. */
  private val SheetNames = Seq(
    "Trade" -> "Trade", "Trade information" -> "Trade",
    "FXTF" -> "FX & TF", "FX & TF" -> "FX & TF",
    "Others" -> "Others", "Positions" -> "Positions")

  private def sheetNameCol(section: Column): Column =
    SheetNames.foldRight(section) { case ((from, to), els) =>
      when(section === lit(from), lit(to)).otherwise(els)
    }

  /** q31 synthesized page text, shared construction (see oracle twin):
    * one '#' header line (did%5 selects the page family) + three
    * markdown pipe rows (two routable, one noise).
    */
  private def routePageCol(did: Column, booking1: Column,
      booking2: Column): Column = {
    val header = when(pmod(did, lit(5)) === 0, lit("# Transaction list"))
      .when(pmod(did, lit(5)) === 1, lit("# Trade information"))
      .when(pmod(did, lit(5)) === 2, lit("# FX & TF"))
      .when(pmod(did, lit(5)) === 3, lit("# Account summary")) // Others fallback
      .otherwise(lit("# Table of contents")) // excluded → Ignore
    concat_ws("\n", header,
      concat(lit("| 01.02.2024 | "), booking1,
        lit(" | USD 1'250.00 | ISIN US0000000001 |")),
      lit("| Balance |  |  |  |"),
      concat(lit("| 15.03.2024 | "), booking2,
        lit(" | EUR 900.00 | note text |")))
  }

  /** q30 synthesized page text: the five q31 routing families plus a
    * Positions family whose continuation row exercises segment
    * stitching; the two transaction rows mix the Ev* validation pools
    * so every VAL_* code fires. The oracle twin (q30Sql) reconstructs
    * the identical rows and re-derives classification, routing,
    * extraction and validation in SQL.
    */
  private def eventPageCol(did: Column): Column = {
    val fam = pmod(did, lit(6))
    val header = when(fam === 0, lit("# Transaction list"))
      .when(fam === 1, lit("# Trade information"))
      .when(fam === 2, lit("# FX & TF"))
      .when(fam === 3, lit("# Account summary")) // Others fallback
      .when(fam === 4, lit("# Table of contents")) // excluded → Ignore
      .otherwise(lit("# Statement of assets")) // Positions
    def booking(shift: Int): Column =
      RouteBookings.zipWithIndex.foldRight(lit("")) { case ((b, i), els) =>
        when(pmod(did + shift, lit(RouteBookings.length)) === i, lit(b))
          .otherwise(els)
      }
    val rowA = concat(lit("| "), pickCol(did, EvTradeDates, 0), lit(" | "),
      booking(0), lit(" | "), pickCol(did, EvCurrencies, 2), lit(" "),
      pickCol(did, EvNets, 3), lit(" | ISIN "), pickCol(did, ValIsins, 5),
      lit(" due "), pickCol(did, EvSettleDates, 1), lit(" |"))
    val rowC = concat(lit("| "), pickCol(did, EvTradeDates, 4), lit(" | "),
      booking(3), lit(" | "), pickCol(did, EvCurrencies, 6), lit(" "),
      pickCol(did, EvNets, 7), lit(" | note text |"))
    val posPage = concat_ws("\n", header,
      lit("| USD 100 Apple Inc ISIN US0378331005 | 250.00 | note |"),
      lit("| quarterly continuation note |  |  |"))
    when(fam === 5, posPage).otherwise(
      concat_ws("\n", header, rowA, lit("| Balance |  |  |  |"), rowC))
  }

  /** Page-classification CASE generated from the rule set (priority-desc
    * when-chain, contains over the lowercased header expression).
    */
  private def pageClassifySql(hdrExpr: String, rs: RuleSet): String = {
    val whens = rs.sortedPageRules.filterNot(_.fallback).map { r =>
      val conds = r.containsAny
        .map(k => s"contains($hdrExpr, '${sqlLit(k.toLowerCase)}')")
        .mkString(" OR ")
      s"WHEN $conds THEN '${sqlLit(r.pageType)}'"
    }
    s"CASE ${whens.mkString(" ")} ELSE '${sqlLit(rs.pageFallback)}' END"
  }

  /** Record-classification CASE (txn_group only). */
  private def recordGroupSql(rlExpr: String, rs: RuleSet): String = {
    val whens = rs.sortedRecordRules.filterNot(_.fallback).map { r =>
      val conds = r.matchAny
        .map(k => s"contains($rlExpr, '${sqlLit(k.toLowerCase)}')")
        .mkString(" OR ")
      s"WHEN $conds THEN '${sqlLit(r.outputGroup)}'"
    }
    s"CASE ${whens.mkString(" ")} ELSE '${sqlLit(rs.recordFallback._1)}' END"
  }

  /** Record-classification CASE (txn_type side). The same priority-desc
    * whens as [[recordGroupSql]], so one rule decides both fields —
    * exactly like classifyRecordFromLower's single find.
    */
  private def recordTxnSql(rlExpr: String, rs: RuleSet): String = {
    val whens = rs.sortedRecordRules.filterNot(_.fallback).map { r =>
      val conds = r.matchAny
        .map(k => s"contains($rlExpr, '${sqlLit(k.toLowerCase)}')")
        .mkString(" OR ")
      s"WHEN $conds THEN '${sqlLit(r.output)}'"
    }
    s"CASE ${whens.mkString(" ")} ELSE '${sqlLit(rs.recordFallback._2)}' END"
  }

  private def sheetNameSql(sectionExpr: String): String = {
    val whens = SheetNames.map { case (from, to) =>
      s"WHEN $sectionExpr = '${sqlLit(from)}' THEN '${sqlLit(to)}'"
    }
    s"CASE ${whens.mkString(" ")} ELSE $sectionExpr END"
  }

  private def bookingSql(shift: Int): String = {
    val whens = RouteBookings.zipWithIndex.map { case (b, i) =>
      s"WHEN (CAST(doc_id AS BIGINT) + $shift) % ${RouteBookings.length} = $i THEN '${sqlLit(b)}'"
    }
    s"CASE ${whens.mkString(" ")} ELSE '' END"
  }

  private def routePageSql: String = {
    val hdr = """CASE CAST(doc_id AS BIGINT) % 5
      WHEN 0 THEN '# Transaction list'
      WHEN 1 THEN '# Trade information'
      WHEN 2 THEN '# FX & TF'
      WHEN 3 THEN '# Account summary'
      ELSE '# Table of contents' END"""
    s"""concat_ws(chr(10), $hdr,
      concat('| 01.02.2024 | ', ${bookingSql(0)}, ' | USD 1''250.00 | ISIN US0000000001 |'),
      '| Balance |  |  |  |',
      concat('| 15.03.2024 | ', ${bookingSql(3)}, ' | EUR 900.00 | note text |'))"""
  }

  /** TextOps.normalizeDate twin. */
  private def normDateSql(c: String): String =
    s"""(CASE
      WHEN regexp_matches(trim($c), '^[0-9]{2}[.][0-9]{2}[.][0-9]{4}$$')
        THEN regexp_replace(trim($c),
          '([0-9]{2})[.]([0-9]{2})[.]([0-9]{4})', '\\3-\\2-\\1')
      WHEN regexp_matches(trim($c), '^[0-9]{2}/[0-9]{2}/[0-9]{4}$$')
        THEN regexp_replace(trim($c),
          '([0-9]{2})/([0-9]{2})/([0-9]{4})', '\\3-\\2-\\1')
      WHEN regexp_matches(trim($c), '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$')
        THEN trim($c)
      ELSE '' END)"""

  /** TextOps.isValidCalendarDate twin (pure arithmetic; TRY_CAST is the
    * DuckDB analogue of the when-guarded casts ANSI Spark needs).
    */
  private def calOkSql(iso: String): String = {
    val y = s"TRY_CAST(substr($iso, 1, 4) AS INT)"
    val m = s"TRY_CAST(substr($iso, 6, 2) AS INT)"
    val d = s"TRY_CAST(substr($iso, 9, 2) AS INT)"
    s"""coalesce(regexp_matches($iso, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$')
      AND $m BETWEEN 1 AND 12 AND $d >= 1 AND $d <= (CASE
        WHEN $m IN (1,3,5,7,8,10,12) THEN 31
        WHEN $m IN (4,6,9,11) THEN 30
        WHEN $m = 2 THEN (CASE WHEN ($y % 4 = 0 AND $y % 100 != 0)
          OR $y % 400 = 0 THEN 29 ELSE 28 END)
        ELSE 0 END), FALSE)"""
  }

  /** TextOps.cleanNumberString twin → (cleaned digits, negate?). */
  private def cleanNumSql(c: String): (String, String) = {
    val t = s"trim($c)"
    val paren = s"(starts_with($t, '(') AND ends_with($t, ')'))"
    val inner0 =
      s"(CASE WHEN $paren THEN substr($t, 2, greatest(length($t) - 2, 0)) ELSE $t END)"
    val negLead = s"starts_with($inner0, '-')"
    val inner1 = s"(CASE WHEN $negLead THEN substr($inner0, 2) ELSE $inner0 END)"
    (s"regexp_replace($inner1, '['',\\s]', '', 'g')",
      s"($paren != $negLead)")
  }

  /** q30 oracle: reconstructs the synthesized event pages' rows and
    * re-derives every event count in SQL. Page types come from the
    * SCALAR rule engine evaluated at SQL-generation time over the six
    * header constants (classification reads only the '#' header
    * lines, so it is a pure function of the family); routing reuses
    * the q31 record-rule CASE twins over the reconstructed row text;
    * extraction is modeled field-for-field (the settlement date is the
    * second DD.MM.YYYY in row A's text and the first in row C's, the
    * currency/amount split takes cell 3's leading alpha token, the
    * ISIN verdict per pool entry is precomputed with the same Luhn
    * kernel as q36); validation reuses the q36 validator twins.
    */
  private lazy val q30Sql: String = {
    val rs = RuleSets.plugin
    val headers = Seq("# Transaction list", "# Trade information",
      "# FX & TF", "# Account summary", "# Table of contents",
      "# Statement of assets")
    val ptWhens = headers.zipWithIndex.map { case (h, i) =>
      val p = graft.rules.ScalarRules.effectivePageType(h + "\n| x |", rs)
      s"WHEN $i THEN '${sqlLit(p)}'"
    }.mkString(" ")
    val ptCase = s"(CASE (did % 6) $ptWhens ELSE '' END)"
    val isinWhens = ValIsins.zipWithIndex.flatMap { case (v, i) =>
      val extracted = if (v.matches("[A-Z0-9]{12}")) v else ""
      val err =
        if (extracted.isEmpty) None
        else if (!extracted.matches("[A-Z]{2}[A-Z0-9]{9}[0-9]"))
          Some("VAL_ISIN_SHAPE")
        else if (!graft.functions.IsinValid.check(extracted))
          Some("VAL_ISIN_CHECKSUM")
        else None
      err.map(e =>
        s"WHEN (CAST(doc_id AS BIGINT) + 5) % ${ValIsins.length} = $i " +
          s"THEN '$e'")
    }
    val isinErr =
      if (isinWhens.isEmpty) "CAST(NULL AS VARCHAR)"
      else s"(CASE ${isinWhens.mkString(" ")} END)"
    val currList = graft.textops.TextOps.Currencies
      .map(c => s"'${sqlLit(c)}'").mkString(", ")
    val numOk = "'^[0-9]+([.][0-9]+)?$'"
    val rangeOk = "'^[0-9]{1,12}([.][0-9]{1,2})?$'"
    val (netClean, _) = cleanNumSql("net")
    val rlA = s"lower(concat(${pickSql(EvTradeDates, 0)}, ' ', " +
      s"${bookingSql(0)}, ' ', ${pickSql(EvCurrencies, 2)}, ' ', " +
      s"${pickSql(EvNets, 3)}, ' ISIN ', ${pickSql(ValIsins, 5)}, " +
      s"' due ', ${pickSql(EvSettleDates, 1)}))"
    val rlC = s"lower(concat(${pickSql(EvTradeDates, 4)}, ' ', " +
      s"${bookingSql(3)}, ' ', ${pickSql(EvCurrencies, 6)}, ' ', " +
      s"${pickSql(EvNets, 7)}, ' note text'))"
    s"""WITH f AS (SELECT doc_id, CAST(doc_id AS BIGINT) AS did,
        (CAST(doc_id AS BIGINT) % 7 = 3) AS isempty FROM documents),
      pev AS (SELECT CASE WHEN isempty THEN 'WARN' ELSE 'INFO' END AS level,
        CASE WHEN isempty THEN 'PAGE_EMPTY' ELSE 'PAGE_OK_HTML' END AS code,
        'extract' AS stage FROM f),
      pt AS (SELECT doc_id, did, $ptCase AS page_type FROM f
        WHERE NOT isempty),
      rowa AS (SELECT doc_id, did, page_type,
          ${pickSql(EvTradeDates, 0)} AS td,
          ${pickSql(EvSettleDates, 1)} AS sd,
          ${pickSql(EvCurrencies, 2)} AS cur,
          ${pickSql(EvNets, 3)} AS net,
          $isinErr AS isin_err,
          $rlA AS rl
        FROM pt
        WHERE page_type IN ('Transaction','Trade','FXTF','Others')),
      rowc AS (SELECT doc_id, did, page_type,
          ${pickSql(EvTradeDates, 4)} AS td,
          ${pickSql(EvTradeDates, 4)} AS sd,
          ${pickSql(EvCurrencies, 6)} AS cur,
          ${pickSql(EvNets, 7)} AS net,
          CAST(NULL AS VARCHAR) AS isin_err,
          $rlC AS rl
        FROM pt
        WHERE page_type IN ('Transaction','Trade','FXTF','Others')),
      recs AS (SELECT * FROM rowa UNION ALL SELECT * FROM rowc),
      routed AS (SELECT *,
          CASE WHEN page_type = 'Others' THEN 'Others'
            ELSE ${recordGroupSql("rl", rs)} END AS section,
          CASE WHEN page_type = 'Others' THEN 'Other'
            ELSE ${recordTxnSql("rl", rs)} END AS txn
        FROM recs),
      rev AS (SELECT 'INFO' AS level,
          CASE WHEN page_type IN ('Transaction','Trade','FXTF')
            AND section = 'Others' AND txn = 'Other'
            THEN 'REC_ROUTE_FALLBACK' ELSE 'REC_ROUTE_OK' END AS code,
          'record_route' AS stage FROM routed
        UNION ALL
        SELECT 'INFO', 'REC_ROUTE_OK', 'record_route' FROM pt
        WHERE page_type = 'Positions'),
      vn AS (SELECT *,
          $netClean AS net_clean,
          ${normDateSql("td")} AS t_iso,
          ${normDateSql("sd")} AS s_iso
        FROM routed WHERE page_type IN ('Transaction','Trade','FXTF')),
      v AS (SELECT *,
          regexp_matches(net_clean, $numOk) AS net_ok,
          ${calOkSql("t_iso")} AS t_ok,
          ${calOkSql("s_iso")} AS s_ok
        FROM vn),
      vev AS (SELECT 'WARN' AS level, unnest(list_filter([
          isin_err,
          CASE WHEN net != '' AND NOT net_ok THEN 'VAL_NUM_NET' END,
          CASE WHEN net_ok AND NOT regexp_matches(net_clean, $rangeOk)
            THEN 'VAL_RANGE_NET' END,
          CASE WHEN td != '' AND NOT t_ok THEN 'VAL_DATE_TRADE' END,
          CASE WHEN sd != '' AND NOT s_ok THEN 'VAL_DATE_SETTLE' END,
          CASE WHEN cur != '' AND cur NOT IN ($currList)
            THEN 'VAL_CURR' END,
          CASE WHEN t_ok AND s_ok AND s_iso < t_iso
            THEN 'VAL_CONFLICT' END
        ], x -> x IS NOT NULL)) AS code, 'validate' AS stage FROM v),
      sev AS (SELECT 'INFO' AS level, 'REC_STITCH_MERGED' AS code,
        'stitch' AS stage FROM pt WHERE page_type = 'Positions'),
      ev AS (SELECT * FROM pev
        UNION ALL SELECT level, code, stage FROM rev
        UNION ALL SELECT * FROM vev
        UNION ALL SELECT * FROM sev)
      SELECT level, code, stage, CAST(COUNT(*) AS BIGINT) AS n
      FROM ev GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
  }

  private def q36Sql: String = {
    val (netClean, netNeg) = cleanNumSql("net_consideration")
    val (mvClean, mvNeg) = cleanNumSql("market_value")
    // VAL_ISIN_CHECKSUM per synthesized value, precomputed at SQL-gen
    // time with the same IsinValid kernel the Column uses (the Luhn
    // expansion is golden/unit-tested elsewhere; the values here are
    // driver-side constants, so this stays a pure-data CASE)
    val checksumWhens = ValIsins.zipWithIndex.collect {
      case (v, i) if v.nonEmpty && v.matches("[A-Z]{2}[A-Z0-9]{9}[0-9]") &&
          !graft.functions.IsinValid.check(v) =>
        s"WHEN (CAST(doc_id AS BIGINT) + 5) % ${ValIsins.length} = $i " +
          "THEN 'VAL_ISIN_CHECKSUM'"
    }
    val checksumSql =
      if (checksumWhens.isEmpty) "NULL"
      else s"(CASE ${checksumWhens.mkString(" ")} END)"
    val currList = graft.textops.TextOps.Currencies
      .map(c => s"'${sqlLit(c)}'").mkString(", ")
    val numOk = "'^[0-9]+([.][0-9]+)?$'"
    val rangeOk = "'^[0-9]{1,12}([.][0-9]{1,2})?$'"
    s"""WITH f AS (SELECT doc_id,
        ${pickSql(ValTradeDates, 0)} AS trade_date,
        ${pickSql(ValSettleDates, 1)} AS settlement_date,
        ${pickSql(ValCurrencies, 2)} AS currency,
        ${pickSql(ValNets, 3)} AS net_consideration,
        ${pickSql(ValMvs, 4)} AS market_value,
        ${pickSql(ValIsins, 5)} AS securities_id
        FROM documents),
      n AS (SELECT *,
        $netClean AS net_clean, $netNeg AS net_neg,
        $mvClean AS mv_clean,
        ${normDateSql("trade_date")} AS trade_date_iso,
        ${normDateSql("settlement_date")} AS settlement_date_iso
        FROM f),
      v AS (SELECT *,
        regexp_matches(net_clean, $numOk) AS net_ok,
        regexp_matches(mv_clean, $numOk) AS mv_ok,
        ${calOkSql("trade_date_iso")} AS t_ok,
        ${calOkSql("settlement_date_iso")} AS s_ok
        FROM n)
      SELECT doc_id, trade_date_iso, settlement_date_iso,
        CASE WHEN net_ok THEN CAST(net_clean AS DOUBLE) *
          (CASE WHEN net_neg THEN -1 ELSE 1 END) END AS net_num,
        array_to_string(list_filter([
          CASE WHEN securities_id != '' AND NOT regexp_matches(
            securities_id, '^[A-Z]{2}[A-Z0-9]{9}[0-9]$$')
            THEN 'VAL_ISIN_SHAPE' END,
          $checksumSql,
          CASE WHEN net_consideration != '' AND NOT net_ok
            THEN 'VAL_NUM_NET' END,
          CASE WHEN market_value != '' AND NOT mv_ok THEN 'VAL_NUM_MV' END,
          CASE WHEN net_ok AND NOT regexp_matches(net_clean, $rangeOk)
            THEN 'VAL_RANGE_NET' END,
          CASE WHEN mv_ok AND NOT regexp_matches(mv_clean, $rangeOk)
            THEN 'VAL_RANGE_MV' END,
          CASE WHEN trade_date != '' AND NOT t_ok THEN 'VAL_DATE_TRADE' END,
          CASE WHEN settlement_date != '' AND NOT s_ok
            THEN 'VAL_DATE_SETTLE' END,
          CASE WHEN currency != '' AND currency NOT IN ($currList)
            THEN 'VAL_CURR' END,
          CASE WHEN t_ok AND s_ok AND settlement_date_iso < trade_date_iso
            THEN 'VAL_CONFLICT' END
        ], x -> x IS NOT NULL), ',') AS errs
      FROM v ORDER BY doc_id"""
  }

  def specs: Seq[QuerySpec] = Seq(
    // C1/X3: rule-compiled classification (when-chain) over documents
    QuerySpec("q10_classify", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          RuleCompiler.classifyPage(col("text"), docRules).as("doc_class"))
        .orderBy("doc_id"),
    Some {
      // mirror the PluginHeader slice ('#'-prefixed lines, else first 10
      // lines) instead of classifying over the full text — the two only
      // coincide for short texts
      val hdr = "lower(array_to_string(CASE WHEN len(list_filter(" +
        "string_split(text, chr(10)), l -> starts_with(ltrim(l), '#'))) > 0 " +
        "THEN list_filter(string_split(text, chr(10)), " +
        "l -> starts_with(ltrim(l), '#')) " +
        "ELSE string_split(text, chr(10))[1:10] END, chr(10)))"
      s"""SELECT doc_id, ${pageClassifySql("hdr", docRules)} AS doc_class
        FROM (SELECT doc_id, $hdr AS hdr FROM documents)
        ORDER BY doc_id"""
    }),
    // the full extraction pipeline (not SQL-expressible; rows-only)
    QuerySpec("q22_pipeline_extract", (s, d) =>
      ExtractionPipeline.records(PagesGen.pages(s, 600, 42, 8))
        .groupBy(col("target_section"), col("txn_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("net_consideration_num")).as("sum_net"))
        .orderBy("target_section", "txn_type"),
    None),
    // byte-identity artifact summary (rows-only)
    QuerySpec("q23_pipeline_bytes", (s, d) =>
      ExtractionPipeline.mainTexts(PagesGen.pages(s, 600, 42, 8))
        .groupBy(col("content_kind"))
        .agg(count(lit(1)).as("n_pages"),
          sum(length(col("main_text"))).as("total_chars"),
          sum(size(col("spans"))).as("total_spans"))
        .orderBy("content_kind"),
    None),
    // multimodal plumbing: synth → batched decode stub → resize plan
    QuerySpec("q26_media", (s, d) =>
      Multimodal.withResizePlan(
        Multimodal.decodeStub(Multimodal.synth(s, 500)).toDF())
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("resize_w")).as("sum_resize_w"))
        .orderBy("kind"),
    None),
    // multimodal: frame sampling via posexplode(sequence)
    QuerySpec("q27_frames", (s, d) =>
      Multimodal.sampleFrames(
        Multimodal.decodeStub(Multimodal.synth(s, 500)).toDF(), 10000)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_frames"),
          max(col("frame_idx")).as("max_frame_idx"))
        .orderBy("kind"),
    None),
    // A3: error statistics by code/stage over the pipeline event log —
    // page + record (route/validate) + stitch events from ONE
    // checkpointed extraction pass (eventLog) over pages synthesized
    // from `documents` rows; the oracle re-derives every count
    // (classification, routing, extraction, the full VAL taxonomy,
    // stitching) in SQL
    QuerySpec("q30_event_stats", (s, d) => {
      val did = col("doc_id").cast("long")
      val isEmptyPage = pmod(did, lit(7)) === 3
      val pt = t(s, d, "documents").select(
        concat(lit("doc://"), col("doc_id").cast("string")).as("url"),
        when(isEmptyPage, lit("")).otherwise(eventPageCol(did))
          .as("page_md"),
        when(isEmptyPage, lit("empty")).otherwise(lit("html"))
          .as("content_kind"),
        lit("").as("error"))
      ExtractionPipeline.eventLog(ExtractionPipeline.classifyPagesDf(pt))
        .groupBy(col("level"), col("code"), col("stage"))
        .agg(count(lit(1)).as("n"))
        .orderBy("level", "code", "stage")
    },
    Some(q30Sql)),
    // C1+C3+C10+P1+S8 routing, oracle-checked: pages synthesized from
    // `documents` rows (identical construction in the oracle), classified
    // by the COMPILED rule chains incl. the Others fallback, pipe rows
    // exploded, routed per row, counted per (page_type, sheet)
    QuerySpec("q31_route_records", (s, d) => {
      val rs = RuleSets.plugin
      val did = col("doc_id").cast("long")
      def booking(shift: Int): Column =
        RouteBookings.zipWithIndex.foldRight(lit("")) { case ((b, i), els) =>
          when(pmod(did + shift, lit(RouteBookings.length)) === i, lit(b))
            .otherwise(els)
        }
      val page = routePageCol(did, booking(0), booking(3))
      val isOth = col("page_type") === "Others"
      val lineArr = split(col("page"), "\n", -1)
      val cellsOf = (line: Column) => {
        val parts = split(line, "\\|", -1)
        transform(slice(parts, lit(2), size(parts) - 2), c => trim(c))
      }
      t(s, d, "documents")
        .select(col("doc_id"), page.as("page"))
        .withColumn("_pt", RuleCompiler.classifyPage(col("page"), rs))
        .withColumn("page_type",
          RuleCompiler.othersFallbackCol(col("_pt"), col("page"), rs))
        .filter(col("page_type")
          .isin("Transaction", "Trade", "FXTF", "Others"))
        .withColumn("line", explode(
          filter(lineArr, l => l.startsWith("|") && l.endsWith("|"))))
        .withColumn("cells", cellsOf(col("line")))
        .withColumn("keep",
          when(isOth,
            size(filter(col("cells"), c =>
              c =!= "" && c.rlike("[a-zA-Z0-9]"))) >= 2)
            .otherwise(
              element_at(col("cells"), 1).rlike("^\\d{2}\\.\\d{2}\\.\\d{4}") &&
                size(col("cells")) > 1 && element_at(col("cells"), 2) =!= ""))
        .filter(col("keep"))
        .withColumn("section",
          when(isOth, lit("Others"))
            .otherwise(RuleCompiler
              .classifyRecord(concat_ws(" ", col("cells")), rs)
              .getField("txn_group")))
        .withColumn("sheet", sheetNameCol(col("section")))
        .groupBy(col("page_type"), col("section"), col("sheet"))
        .agg(count(lit(1)).as("n"))
        .orderBy("page_type", "section")
    },
    Some {
      val rs = RuleSets.plugin
      val hdrExpr = "lower(array_to_string(list_filter(" +
        "string_split(page, chr(10)), l -> starts_with(ltrim(l), '#')), chr(10)))"
      val excluded = rs.othersExcludedPrefixes
        .map(p => "starts_with(regexp_replace(page, '^\\s+', ''), '" + sqlLit(p) + "')")
        .mkString(" OR ")
      s"""WITH pages AS (SELECT doc_id, $routePageSql AS page FROM documents),
        cls0 AS (SELECT doc_id, page,
          ${pageClassifySql(hdrExpr, rs)} AS pt0 FROM pages),
        cls AS (SELECT doc_id, page,
          CASE WHEN pt0 = '${sqlLit(rs.pageFallback)}' AND NOT ($excluded)
            THEN 'Others' ELSE pt0 END AS page_type FROM cls0),
        rows0 AS (SELECT doc_id, page_type,
          unnest(list_filter(string_split(page, chr(10)),
            l -> starts_with(l, '|') AND ends_with(l, '|'))) AS line
          FROM cls
          WHERE page_type IN ('Transaction', 'Trade', 'FXTF', 'Others')),
        cellsT AS (SELECT doc_id, page_type,
          list_transform(string_split(line, '|')[2:-2], c -> trim(c)) AS cells
          FROM rows0),
        kept AS (SELECT * FROM cellsT WHERE
          CASE WHEN page_type = 'Others'
            THEN len(list_filter(cells, c -> c != ''
              AND regexp_matches(c, '[a-zA-Z0-9]'))) >= 2
            ELSE regexp_matches(cells[1], '^[0-9]{2}[.][0-9]{2}[.][0-9]{4}')
              AND len(cells) > 1 AND cells[2] != '' END),
        routed AS (SELECT page_type,
          CASE WHEN page_type = 'Others' THEN 'Others'
            ELSE ${recordGroupSql("lower(array_to_string(cells, ' '))", rs)}
          END AS section FROM kept)
        SELECT page_type, section, ${sheetNameSql("section")} AS sheet,
          COUNT(*) AS n
        FROM routed GROUP BY 1, 2, 3 ORDER BY 1, 2"""
    }),
    // full reference validator taxonomy (error_system.py:37-43:
    // VAL_ISIN/NUM/RANGE/DATE/CURR/CONFLICT) over documents-synthesized
    // field values; the same validationErrorsCol the extraction
    // pipeline's Stage 7 uses
    QuerySpec("q36_validate", (s, d) => {
      val did = col("doc_id").cast("long")
      t(s, d, "documents")
        .select(col("doc_id"),
          pickCol(did, ValTradeDates, 0).as("trade_date"),
          pickCol(did, ValSettleDates, 1).as("settlement_date"),
          pickCol(did, ValCurrencies, 2).as("currency"),
          pickCol(did, ValNets, 3).as("net_consideration"),
          pickCol(did, ValMvs, 4).as("market_value"),
          pickCol(did, ValIsins, 5).as("securities_id"))
        .withColumn("trade_date_iso",
          ExtractionPipeline.normalizeDateCol(col("trade_date")))
        .withColumn("settlement_date_iso",
          ExtractionPipeline.normalizeDateCol(col("settlement_date")))
        .withColumn("net_num",
          ExtractionPipeline.normalizeNumberCol(col("net_consideration"))
            .cast("double"))
        .withColumn("errs", array_join(
          ExtractionPipeline.validationErrorsCol(
            col("securities_id"),
            col("net_consideration"),
            ExtractionPipeline.normalizeNumberCol(col("net_consideration")),
            col("market_value"),
            ExtractionPipeline.normalizeNumberCol(col("market_value")),
            col("trade_date"), col("trade_date_iso"),
            col("settlement_date"), col("settlement_date_iso"),
            col("currency")), ","))
        .select("doc_id", "trade_date_iso", "settlement_date_iso",
          "net_num", "errs")
        .orderBy("doc_id")
    },
    Some(q36Sql)),
    // storage layout: Z-order (Morton) clustering key for data-skipping
    // file layouts — exact [min,max]→[0,2^8) integral codes per column,
    // bit-interleaved so one sort key gives BOTH columns per-file
    // min/max locality (the key Delta OPTIMIZE ZORDER / Iceberg
    // z-ordered rewrites sort by). The oracle re-derives the bounds,
    // the clamped integral-DIV codes and the interleave in SQL
    QuerySpec("q108_zorder", (s, d) => {
      val docs = t(s, d, "documents")
      val bounds = Layout.columnBounds(docs, Seq("n_chars", "doc_id"))
      val bits = 8
      val codeChars =
        Layout.rangeCode(col("n_chars"), bounds(0)._1, bounds(0)._2, bits)
      val codeId =
        Layout.rangeCode(col("doc_id"), bounds(1)._1, bounds(1)._2, bits)
      docs.select(col("doc_id").cast("long").as("doc_id"),
          codeChars.as("code_chars"), codeId.as("code_id"),
          Layout.zValue(Seq(codeChars, codeId), bits).as("z"))
        .orderBy(col("z"), col("doc_id"))
        .limit(256)
    },
    // q108: bounds, clamped integral codes and the Morton interleave
    // re-derived in SQL (DuckDB '//' is floor division; both operands
    // are non-negative here, so it equals Spark's truncating div)
    Some {
      val inter = (0 until 8).flatMap(b => Seq(
        s"(((code_chars >> $b) & 1) << ${2 * b + 1})",
        s"(((code_id >> $b) & 1) << ${2 * b})")).mkString(" | ")
      s"""WITH b AS (SELECT min(n_chars) AS lo1, max(n_chars) AS hi1,
          min(CAST(doc_id AS BIGINT)) AS lo2,
          max(CAST(doc_id AS BIGINT)) AS hi2 FROM documents),
        c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
          least(255, greatest(0,
            ((n_chars - lo1) * 255) // greatest(1, hi1 - lo1)))
            AS code_chars,
          least(255, greatest(0,
            ((CAST(doc_id AS BIGINT) - lo2) * 255)
              // greatest(1, hi2 - lo2))) AS code_id
          FROM documents, b)
        SELECT doc_id, CAST(code_chars AS BIGINT) AS code_chars,
          CAST(code_id AS BIGINT) AS code_id,
          CAST($inter AS BIGINT) AS z
        FROM c ORDER BY z, doc_id LIMIT 256"""
    }),
    // zone-map pruning: per-shard min/max sidecars answer a 2-D box
    // predicate for a LINEAR layout vs the z-ordered one — the
    // planner-side file-skipping decision, measured as shards touched
    // (z-order wins because every z-contiguous shard spans a small box
    // in BOTH dimensions)
    QuerySpec("q136_zone_maps", (s, d) => {
      val docs = t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
      val bounds = Layout.columnBounds(docs, Seq("doc_id", "n_chars"))
      val mx = bounds(0)._2
      val nSh = 16L
      val linear = docs.withColumn("shard", least(lit(nSh - 1),
        call_function("div", col("doc_id") * nSh, lit(mx + 1))))
      val zed = Layout.withZValue(docs, Seq("doc_id", "n_chars"),
          bounds, bits = 8)
        .withColumn("shard",
          call_function("div", col("_z") * nSh, lit(65536L)))
      val (loId, hiId) = ((mx + 1) / 5, 2 * (mx + 1) / 5)
      // three predicate shapes: the first column (linear's home turf),
      // the SECOND column alone (where a linear sort prunes nothing),
      // and the 2-D box
      val preds = Seq(
        ("id_only", Seq(("doc_id", loId, hiId))),
        ("chars_only", Seq(("n_chars", 150L, 250L))),
        ("box", Seq(("doc_id", loId, hiId), ("n_chars", 150L, 250L))))
      def one(name: String, sharded: DataFrame) = {
        val zones = Layout.zoneMaps(sharded, "shard",
          Seq("doc_id", "n_chars"))
        preds.map { case (p, rs) =>
          Layout.zonesTouched(zones, rs)
            .agg(count(lit(1)).cast("long").as("shards_touched"))
            .withColumn("layout", lit(name))
            .withColumn("predicate", lit(p))
        }.reduce(_ unionByName _)
      }
      val matched = preds.map { case (p, rs) =>
        docs.where(rs.map { case (c, lo, hi) =>
            col(c).between(lo, hi) }.reduce(_ && _))
          .agg(count(lit(1)).cast("long").as("rows_matched"))
          .withColumn("predicate", lit(p))
      }.reduce(_ unionByName _)
      one("linear", linear).unionByName(one("zorder", zed))
        .join(matched, "predicate")
        .select(col("layout"), col("predicate"),
          lit(nSh).as("shards_total"), col("shards_touched"),
          col("rows_matched"))
        .orderBy("layout", "predicate")
    },
    // q136: the oracle re-derives bounds, the clamped range codes, the
    // Morton interleave (16 shift terms generated here — disjoint bits,
    // so + is |), both shard layouts, the zone maps, and the box test
    Some {
      val interleave = (0 until 8).flatMap(b => Seq(
        s"(((c1 >> $b) & 1) << ${2 * b + 1})",
        s"(((c2 >> $b) & 1) << ${2 * b})")).mkString(" + ")
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(n_chars AS BIGINT) AS n_chars FROM documents),
        b AS (SELECT MAX(doc_id) AS mxd, MIN(doc_id) AS mnd,
          MAX(n_chars) AS mxc, MIN(n_chars) AS mnc FROM d),
        pr AS (SELECT (mxd + 1) // 5 AS lo_id,
          2 * (mxd + 1) // 5 AS hi_id FROM b),
        lin AS (SELECT doc_id, n_chars,
          least(15, (doc_id * 16) // (mxd + 1)) AS shard FROM d, b),
        zc AS (SELECT doc_id, n_chars,
          least(255, greatest(0,
            (doc_id - mnd) * 255 // greatest(1, mxd - mnd))) AS c1,
          least(255, greatest(0,
            (n_chars - mnc) * 255 // greatest(1, mxc - mnc))) AS c2
          FROM d, b),
        zs AS (SELECT doc_id, n_chars,
          (($interleave) * 16) // 65536 AS shard FROM zc),
        zl AS (SELECT 'linear' AS layout, shard,
            MIN(doc_id) AS dmin, MAX(doc_id) AS dmax,
            MIN(n_chars) AS cmin, MAX(n_chars) AS cmax
          FROM lin GROUP BY shard
          UNION ALL SELECT 'zorder', shard, MIN(doc_id), MAX(doc_id),
            MIN(n_chars), MAX(n_chars) FROM zs GROUP BY shard),
        touched AS (
          SELECT layout, 'id_only' AS predicate,
            CAST(COUNT(*) AS BIGINT) AS shards_touched
          FROM zl, pr WHERE dmin <= hi_id AND dmax >= lo_id
          GROUP BY layout
          UNION ALL SELECT layout, 'chars_only', COUNT(*)
          FROM zl WHERE cmin <= 250 AND cmax >= 150 GROUP BY layout
          UNION ALL SELECT layout, 'box', COUNT(*)
          FROM zl, pr WHERE dmin <= hi_id AND dmax >= lo_id
            AND cmin <= 250 AND cmax >= 150
          GROUP BY layout),
        m AS (
          SELECT 'id_only' AS predicate,
            CAST(COUNT(*) AS BIGINT) AS rows_matched
          FROM d, pr WHERE doc_id BETWEEN lo_id AND hi_id
          UNION ALL SELECT 'chars_only', COUNT(*)
          FROM d WHERE n_chars BETWEEN 150 AND 250
          UNION ALL SELECT 'box', COUNT(*)
          FROM d, pr WHERE doc_id BETWEEN lo_id AND hi_id
            AND n_chars BETWEEN 150 AND 250)
        SELECT layout, touched.predicate,
          CAST(16 AS BIGINT) AS shards_total, shards_touched,
          rows_matched
        FROM touched JOIN m ON touched.predicate = m.predicate
        ORDER BY layout, touched.predicate"""
    }),
    // resharding: rendezvous (HRW) assignment at 8 and 9 shards —
    // the minimal-movement property measured: every moved key moves
    // TO the new shard, ~1/9 of keys total (mod-9 would move 8/9)
    QuerySpec("q137_rendezvous", (s, d) => {
      val a = t(s, d, "documents")
        .select(concat(lit("doc:"), col("doc_id")).as("key"))
        .withColumn("s8", Layout.rendezvousShard(col("key"), 8))
        .withColumn("s9", Layout.rendezvousShard(col("key"), 9))
      val occ = a.groupBy("s8").agg(count(lit(1)).as("c"))
        .agg(min("c").cast("long").as("min_shard8"),
          max("c").cast("long").as("max_shard8"))
      a.agg(count(lit(1)).cast("long").as("n_keys"),
          sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L))
            .cast("long").as("n_moved"),
          sum(when(col("s8") =!= col("s9") && col("s9") === 8L, 1L)
            .otherwise(0L)).cast("long").as("n_moved_to_new"))
        .withColumn("moved_ppm",
          expr("n_moved * 1000000 div n_keys"))
        .crossJoin(occ)
    },
    // q137: argmax replayed as ROW_NUMBER over (h DESC, s DESC) — the
    // same tie direction greatest(struct(h, s)) resolves to
    Some("""WITH k AS (SELECT 'doc:' || doc_id AS key FROM documents),
        e8 AS (SELECT key, g.s,
          CAST(('0x' || substr(md5(key || ':rdv:' || g.s), 1, 8))
            AS BIGINT) AS h
          FROM k, generate_series(0, 7) g(s)),
        s8 AS (SELECT key, s AS s8 FROM (SELECT key, s,
          ROW_NUMBER() OVER (PARTITION BY key
            ORDER BY h DESC, s DESC) AS rn FROM e8) WHERE rn = 1),
        e9 AS (SELECT key, g.s,
          CAST(('0x' || substr(md5(key || ':rdv:' || g.s), 1, 8))
            AS BIGINT) AS h
          FROM k, generate_series(0, 8) g(s)),
        s9 AS (SELECT key, s AS s9 FROM (SELECT key, s,
          ROW_NUMBER() OVER (PARTITION BY key
            ORDER BY h DESC, s DESC) AS rn FROM e9) WHERE rn = 1),
        j AS (SELECT s8.key, s8.s8, s9.s9 FROM s8 JOIN s9 USING (key)),
        occ AS (SELECT CAST(MIN(c) AS BIGINT) AS min_shard8,
          CAST(MAX(c) AS BIGINT) AS max_shard8
          FROM (SELECT s8, COUNT(*) AS c FROM j GROUP BY s8)),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
          CAST(SUM(CASE WHEN s8 != s9 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_moved,
          CAST(SUM(CASE WHEN s8 != s9 AND s9 = 8 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved_to_new FROM j)
        SELECT n_keys, n_moved, n_moved_to_new,
          CAST(n_moved * 1000000 // n_keys AS BIGINT) AS moved_ppm,
          min_shard8, max_shard8
        FROM agg, occ""")),
    // output layout: byte-balanced shard assignment — cumulative-weight
    // bins over a deterministic hash order (a row-count split skews
    // wildly when document sizes do); cum/total ride along so the
    // oracle pins the running sum itself, not just the bin id
    QuerySpec("q118_balanced_shards", (s, d) =>
      Layout.balancedShards(
          t(s, d, "documents").select(col("doc_id").cast("long")
            .as("doc_id"), coalesce(col("n_chars"), lit(0L)).as("w")),
          "doc_id", col("w"), nShards = 8)
        .select(col("doc_id"), col("cum_bytes"), col("total_bytes"),
          col("shard"))
        .orderBy("doc_id"),
    // q118: the running weight sum is a plain global window in SQL
    // (fine at oracle scale — the Spark side shards it); shard id =
    // exclusive-prefix DIV ceil(total/8), clamped to 7
    Some("""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(coalesce(n_chars, 0) AS BIGINT) AS w,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'),
            1, 8)) AS BIGINT) AS hh FROM documents),
        s AS (SELECT doc_id, w,
          CAST(sum(w) OVER (ORDER BY hh, doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bytes,
          CAST(sum(w) OVER () AS BIGINT) AS total_bytes FROM d)
        SELECT doc_id, cum_bytes, total_bytes,
          CAST(least(7, (cum_bytes - w) //
            greatest((total_bytes + 7) // 8, 1)) AS BIGINT) AS shard
        FROM s ORDER BY doc_id"""))
  )
}
