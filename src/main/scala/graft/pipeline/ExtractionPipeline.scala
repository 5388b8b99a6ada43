package graft.pipeline

import graft.extract.ContentExtractor
import graft.model.{Page, PageText}
import graft.rules.{RuleCompiler, RuleSet, RuleSets}
import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The Spark-native extraction pipeline (north_rule):
  *
  *   Dataset[Page]
  *     → explicit url-hash repartition (X4)
  *     → mapPartitions content extraction (X1 HTML / X2 PDF)   [typed map]
  *     → page classification (C1/C2)                           [Column]
  *     → table-row flatMap (P1/P2 + G3 header repair)          [generator]
  *     → row filters (C9/C10/C11) + main-row detection (G1)    [Column]
  *     → window segment-id + segment fold (G2/A5)              [window+agg]
  *     → record routing (C3-C6)                                [Column]
  *     → field extraction (N5-N13)                             [Column]
  *     → validation/normalization (N14/N15, C12, J1)           [Column]
  *
  * One shuffle for the explicit repartition, one for the window sort,
  * one (partial-agg-collapsed) for the segment fold. Everything after
  * the flatMap is pure Column expressions inside whole-stage codegen —
  * no UDFs. Classification/extraction logic mirrors ScalarEvaluator
  * (the golden twin) line for line.
  */
object ExtractionPipeline {

  /** Projection carried into the segmentation flatMap. */
  case class PageForSeg(url: String, page_type: String, portfolio_no: String,
      client_name: String, as_of_date: String, page_md: String)

  case class SegRow(url: String, page_type: String, portfolio_no: String,
      client_name: String, as_of_date: String, table_idx: Int, row_idx: Int,
      cells: Seq[String])

  /** Stage 1: explicit url-hash partitioning + per-partition batched
    * content extraction. The kernel objects are JVM-static singletons,
    * reused across all rows of a partition (the reference's
    * model-resident-per-process analogue, run.py:133-137).
    */
  def pageTexts(pages: Dataset[Page], partitions: Int = 32,
      needMain: Boolean = true): Dataset[PageText] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // X4: explicit url-hash partitioning for balanced extraction work.
    // partitions <= 0 skips the shuffle (use when the source is already
    // evenly split by the scan — at 100 TB, shuffling raw page bytes is
    // only worth it for skewed inputs; the later window shuffle moves
    // only thin segmentation rows either way).
    val balanced =
      if (partitions > 0) pages.repartition(partitions, col("url"))
      else pages
    balanced.mapPartitions(_.map(ContentExtractor.extractPage(_, needMain)))
  }

  /** Stage 2: page-level classification + page-context extraction (G4:
    * computed BEFORE the row explode — broadcast-by-construction).
    */
  def classifyPages(pt: Dataset[PageText], rs: RuleSet = RuleSets.plugin): DataFrame =
    classifyPagesDf(pt.toDF(), rs)

  /** [[classifyPages]] over an untyped frame — the seam for callers
    * that enter the pipeline AFTER content extraction with synthesized
    * page text (needs `url`, `page_md`, `content_kind`, `error`
    * columns; e.g. the oracle-checked event-statistics query builds
    * pages from `documents` rows).
    */
  def classifyPagesDf(pt: DataFrame, rs: RuleSet = RuleSets.plugin): DataFrame = {
    val md = col("page_md")
    // `_header` is materialized ONCE per row; the when-chain then only
    // touches the attribute (otherwise Catalyst would duplicate the
    // split/filter/concat header derivation into every keyword branch —
    // measured 8× slowdown of this stage).
    pt.toDF()
      .withColumn("_header", RuleCompiler.headerCol(md, rs.headerMode))
      .withColumn("_pt",
        RuleCompiler.classifyPageFromHeader(col("_header"), rs))
      // Others-fallback re-test on the materialized attribute (empty
      // pages classify "Others" too but produce zero table rows)
      .withColumn("page_type", RuleCompiler.othersFallbackCol(col("_pt"), md, rs))
      .drop("_header", "_pt")
      .withColumn("portfolio_no",
        regexp_extract(md, "Portfolio number\\s+(\\d{3}-\\d{6}-\\d{2})", 1))
      .withColumn("client_name",
        when(md.contains("Portfolio number") &&
          md.contains("Statement of assets"),
          trim(regexp_extract(md,
            "(?s)Portfolio number.*?\\n(.*?)\\n.*?Statement of assets", 1)))
          .otherwise(lit("")))
      .withColumn("as_of_date",
        regexp_extract(md, "as of (\\d{2}\\.\\d{2}\\.\\d{4})", 1))
  }

  // ---- Column helpers mirroring TextOps/ScalarEvaluator ----

  private val DatePat = "\\d{2}\\.\\d{2}\\.\\d{4}"

  private def startsWithCurrencyCol(c: Column): Column =
    TextOps.Currencies.map(cur => c.startsWith(lit(cur)))
      .reduce(_ || _)

  private def sniffCurrencyCol(cells: Column): Column =
    TextOps.Currencies.foldRight(lit("")) { (cur, els) =>
      when(exists(cells, x => x.contains(lit(cur))), lit(cur)).otherwise(els)
    }

  /** Number normalization (N14): thousands separators (, ' space),
    * parentheses-negative XOR leading minus — mirrors
    * TextOps.normalizeNumber. Null when unparseable.
    */
  def normalizeNumberCol(c: Column): Column = {
    val (cleaned, negFlip) = cleanedNumberCol(c)
    val ok = cleaned.rlike("^\\d+(\\.\\d+)?$")
    val num = cleaned.cast(DecimalType(38, 6))
    when(ok, when(negFlip, -num).otherwise(num))
      .otherwise(lit(null).cast(DecimalType(38, 6)))
  }

  /** (separator-stripped digit string, negate?) — shared cleaning step
    * behind normalizeNumberCol and the VAL_RANGE check (mirrors
    * TextOps.cleanNumberString).
    */
  private def cleanedNumberCol(c: Column): (Column, Column) = {
    val t = trim(c)
    val paren = t.startsWith("(") && t.endsWith(")")
    val inner0 = when(paren, substring(t, lit(2), greatest(length(t) - 2, lit(0))))
      .otherwise(t)
    val negLead = inner0.startsWith("-")
    val inner1 = when(negLead, substring(inner0, lit(2), length(inner0)))
      .otherwise(inner0)
    (regexp_replace(inner1, "[',\\s]", ""), paren =!= negLead)
  }

  /** VAL_RANGE twin of TextOps.numberInRange: ≤12 integer digits, ≤2
    * decimals, over the cleaned digit string.
    */
  def numberInRangeCol(c: Column): Column =
    cleanedNumberCol(c)._1.rlike("^\\d{1,12}(\\.\\d{1,2})?$")

  /** VAL_DATE twin of TextOps.isValidCalendarDate over an ISO string —
    * pure arithmetic (no engine date parser), identical in the DuckDB
    * oracle.
    */
  def calendarOkCol(iso: Column): Column = {
    // every cast sits under a shape-checking when(): with ANSI mode ON
    // (Spark 4 default) a bare cast('' as int) throws, and relying on
    // && short-circuit order would be one optimizer rule away from a
    // runtime error. CaseWhen branches are guaranteed lazy.
    val shaped = iso.rlike("^\\d{4}-\\d{2}-\\d{2}$")
    val y = when(shaped, substring(iso, 1, 4).cast("int"))
    val m = when(shaped, substring(iso, 6, 2).cast("int"))
    val d = when(shaped, substring(iso, 9, 2).cast("int"))
    val leap = (y % 4 === 0 && y % 100 =!= 0) || y % 400 === 0
    val dim = when(m.isin(1, 3, 5, 7, 8, 10, 12), 31)
      .when(m.isin(4, 6, 9, 11), 30)
      .when(m === 2, when(leap, 29).otherwise(28))
      .otherwise(0)
    coalesce(shaped && m >= 1 && m <= 12 && d >= 1 && d <= dim, lit(false))
  }

  /** The full validator taxonomy as one Column (reference
    * error_system.py:37-43; scalar twin ScalarEvaluator.validate —
    * identical code order). `netNum`/`mvNum` take the already-
    * normalized numeric columns so callers that materialize them don't
    * re-evaluate the parse.
    */
  def validationErrorsCol(securitiesId: Column,
      netConsideration: Column, netNum: Column,
      marketValue: Column, mvNum: Column,
      tradeDate: Column, tradeIso: Column,
      settlementDate: Column, settlementIso: Column,
      currency: Column): Column = {
    val isinShapeOk = securitiesId.rlike("^[A-Z]{2}[A-Z0-9]{9}[0-9]$")
    val tOk = calendarOkCol(tradeIso)
    val sOk = calendarOkCol(settlementIso)
    array_compact(array(
      when(securitiesId =!= "" && !isinShapeOk, lit("VAL_ISIN_SHAPE")),
      // shape OK but ISO 6166 Luhn digit wrong — native IsinValid expr
      when(securitiesId =!= "" && isinShapeOk &&
        !graft.functions.IsinValid(securitiesId), lit("VAL_ISIN_CHECKSUM")),
      when(netConsideration =!= "" && netNum.isNull, lit("VAL_NUM_NET")),
      when(marketValue =!= "" && mvNum.isNull, lit("VAL_NUM_MV")),
      when(netNum.isNotNull && !numberInRangeCol(netConsideration),
        lit("VAL_RANGE_NET")),
      when(mvNum.isNotNull && !numberInRangeCol(marketValue),
        lit("VAL_RANGE_MV")),
      when(tradeDate =!= "" && !tOk, lit("VAL_DATE_TRADE")),
      when(settlementDate =!= "" && !sOk, lit("VAL_DATE_SETTLE")),
      when(currency =!= "" && !currency.isin(TextOps.Currencies: _*),
        lit("VAL_CURR")),
      when(tOk && sOk && settlementIso < tradeIso, lit("VAL_CONFLICT"))))
  }

  /** Date normalization (N15) to ISO — mirrors TextOps.normalizeDate;
    * "" when unparseable (full-match semantics).
    */
  def normalizeDateCol(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^\\d{2}\\.\\d{2}\\.\\d{4}$"),
      regexp_replace(t, "(\\d{2})\\.(\\d{2})\\.(\\d{4})", "$3-$2-$1"))
      .when(t.rlike("^\\d{2}/\\d{2}/\\d{4}$"),
        regexp_replace(t, "(\\d{2})/(\\d{2})/(\\d{4})", "$3-$2-$1"))
      .when(t.rlike("^\\d{4}-\\d{2}-\\d{2}$"), t)
      .otherwise(lit(""))
  }

  /** Stages 3-7: segmentation → routing → field extraction → validation.
    * Input: output of classifyPages. Output: ExtractedRecord-shaped DF.
    */
  def recordsFromClassified(classified: DataFrame,
      rs: RuleSet = RuleSets.plugin): DataFrame =
    recordsFromSegments(segments(classified), rs)

  /** Stages 4-7 over an already-segmented frame — the seam that lets a
    * caller compute [[segments]] ONCE (checkpointed) and feed both the
    * record output and the stitch-event projection (see [[eventLog]]).
    */
  def recordsFromSegments(segs: DataFrame,
      rs: RuleSet = RuleSets.plugin): DataFrame =
    extractFields(segs.drop("n_rows"), rs)

  /** Stages 3a-3d: classified pages → stitched segments (one row per
    * record-to-be, with `n_rows` = how many table rows were folded in).
    */
  def segments(classified: DataFrame): DataFrame = {
    val spark = classified.sparkSession
    import spark.implicits._

    // Stage 3a: table-row flatMap (the Generator/UDTF slot) using the
    // SAME shared kernel as the scalar evaluator (G3 repair inside).
    val segRows: Dataset[SegRow] = classified
      .filter(col("page_type")
        .isin("Positions", "Transaction", "Trade", "FXTF", "Others"))
      .select("url", "page_type", "portfolio_no", "client_name",
        "as_of_date", "page_md")
      .as[PageForSeg]
      .flatMap { p =>
        ScalarEvaluator.enumerateRows(p.page_type, p.page_md).map {
          case (t, r, cells) =>
            SegRow(p.url, p.page_type, p.portfolio_no, p.client_name,
              p.as_of_date, t, r, cells)
        }
      }

    val isPos = col("page_type") === "Positions"
    val isOth = col("page_type") === "Others"
    val cells = col("cells")
    val rawJoin = concat_ws(" ", cells) // mkString(" ") — empties kept
    val firstCol = trim(element_at(cells, 1))

    // Stage 3b: row filters + main-row detection, all Columns.
    // Others keep = the C10 noise filter: ≥2 cells non-empty with an
    // ASCII alphanumeric (others.py:41-47; scalar twin identical).
    val withFlags = segRows.toDF()
      .withColumn("row_text",
        when(isPos, trim(rawJoin)).otherwise(rawJoin))
      .withColumn("keep",
        when(isPos,
          col("row_text") =!= "" &&
            !lower(col("row_text")).startsWith("total"))
          .when(isOth,
            size(filter(cells, c =>
              trim(c) =!= "" && c.rlike("[a-zA-Z0-9]"))) >= 2)
          .otherwise(
            size(cells) > 0 &&
              trim(element_at(cells, 1)).rlike("^" + DatePat) &&
              size(cells) > 1 && trim(element_at(cells, 2)) =!= ""))
      .withColumn("is_main",
        when(isPos,
          firstCol =!= "" &&
            (substring(firstCol, 1, 1).rlike("^[0-9]$") ||
              startsWithCurrencyCol(firstCol)) &&
            !firstCol.rlike("^" + DatePat))
          .otherwise(lit(true)))
      .filter(col("keep"))

    // Stage 3c: G2 — window segment-id (running count of main rows per
    // page, ordered by (table_idx, row_idx)); continuation rows before
    // the first main row get segId 0 and are dropped, exactly like the
    // reference's `if records:` guard (orchestrator.py:135-140).
    val w = Window.partitionBy(col("url"))
      .orderBy(col("table_idx"), col("row_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSeg = withFlags
      .withColumn("seg_id", sum(col("is_main").cast("int")).over(w))
      .filter(col("seg_id") > 0)

    // Stage 3d: A5 — segment fold. sort_array makes the fold order-stable
    // under any partitioning; partial aggregation collapses each segment
    // locally (rows of a segment are contiguous post-window).
    val segs = withSeg
      .groupBy(col("url"), col("seg_id"))
      .agg(
        first(col("page_type")).as("page_type"),
        first(col("portfolio_no")).as("portfolio_no"),
        first(col("client_name")).as("client_name"),
        first(col("as_of_date")).as("as_of_date"),
        sort_array(collect_list(struct(
          col("table_idx"), col("row_idx"), col("row_text"), col("cells"))))
          .as("rows"))
      .withColumn("mc", element_at(col("rows"), 1).getField("cells"))
      .withColumn("stitched",
        array_join(transform(col("rows"), r => r.getField("row_text")), " "))
      .withColumn("n_rows", size(col("rows")))
      .drop("rows")

    segs
  }

  /** Stages 4-7 — routing + field extraction + validation as one wide
    * Column projection (mirrors ScalarEvaluator.extractPositions /
    * extractTrade / validate).
    */
  private def extractFields(segs: DataFrame, rs: RuleSet): DataFrame = {
    val isPos = col("page_type") === "Positions"
    // Others records carry row_text only — no field extraction, no page
    // context (others.py:48-59; scalar twin extractOthers)
    val isOth = col("page_type") === "Others"
    val mc = col("mc")
    val txt = col("stitched")
    val firstCol = trim(element_at(mc, 1))

    // routing (C3) on the pre-lowered stitched text (materialized once —
    // see classifyPages note on when-chain expression duplication)
    val routed = RuleCompiler.classifyRecordFromLower(col("_rl"), rs)

    // ---- strategy compiler: rs.extraction (config-driven, default =
    // the reference plugins' hardcoded extraction) → Columns ----

    // 1-based positional cell with the size guard (N12)
    def cellAt(i: Int): Column =
      when(size(mc) >= i, element_at(mc, i)).otherwise(lit(""))

    // positions quantity/name split (positions.py:206-223)
    val curHead = startsWithCurrencyCol(firstCol) && length(firstCol) <= 4
    val cell2 = cellAt(2)
    val p2 = split(trim(cell2), "\\s+", 2)
    val p1 = split(firstCol, "\\s+", 2)
    val posQty = when(curHead,
      when(size(p2) === 2, element_at(p2, 1)).otherwise(lit("")))
      .otherwise(
        when(size(p1) === 2, element_at(p1, 1)).otherwise(firstCol))
    val posName = when(curHead,
      when(size(p2) === 2, element_at(p2, 2)).otherwise(cell2))
      .otherwise(when(size(p1) === 2, element_at(p1, 2)).otherwise(lit("")))
    val posCurrency = when(curHead, firstCol)
      .otherwise(sniffCurrencyCol(mc))

    // trade date heuristics (trade_information.py:217-226)
    val c0 = element_at(mc, 1)
    val tradeDate = when(c0.rlike("^" + DatePat), c0).otherwise(lit(""))
    val allDates = regexp_extract_all(txt, lit(DatePat), lit(0))
    val settlement = when(tradeDate === "", lit(""))
      .when(size(allDates) > 1, element_at(allDates, 2))
      .otherwise(c0)

    // currency/amount split of one cell (trade_information.py:230-241)
    def currencySplit(i: Int): (Column, Column) = {
      val c = cellAt(i)
      val parts = split(c, "\\s+")
      val firstTok =
        when(size(parts) > 0, element_at(parts, 1)).otherwise(lit(""))
      val tokAlpha = firstTok.rlike("^[A-Za-z]+$")
      val rest = array_join(
        slice(parts, lit(2), greatest(size(parts) - 1, lit(0))), " ")
      (when(tokAlpha, firstTok).otherwise(lit("")),
        when(tokAlpha, rest).otherwise(c))
    }

    def compile(fs: graft.rules.FieldSpec): Column = fs.strategy match {
      case "regex"                 => regexp_extract(txt, fs.pattern, fs.group)
      case "cell"                  => cellAt(fs.index)
      case "cell_trim" =>
        when(size(mc) >= fs.index, trim(element_at(mc, fs.index)))
          .otherwise(lit(""))
      case "page_context"          => col(fs.key)
      case "first_date"            => tradeDate
      case "second_date_or_first"  => settlement
      case "currency_token"        => currencySplit(fs.index)._1
      case "amount_after_currency" => currencySplit(fs.index)._2
      case "positions_currency"    => posCurrency
      case "positions_quantity"    => posQty
      case "positions_name"        => posName
      case "const"                 => lit(fs.key)
      case other =>
        throw new IllegalArgumentException(s"unknown strategy '$other'")
    }

    val spec = rs.extraction
    def tfield(name: String): Column =
      spec.trade.get(name).map(compile).getOrElse(lit(""))
    def pfield(name: String): Column =
      spec.positions.get(name).map(compile).getOrElse(lit(""))
    // trade-family-only field (Positions/Others always blank)
    def tOnly(name: String): Column =
      when(isPos || isOth, lit("")).otherwise(tfield(name))
    // positions-only field
    def pOnly(name: String): Column =
      when(isPos, pfield(name)).otherwise(lit(""))
    // extracted for both families, blank for Others
    def bothField(name: String): Column =
      when(isOth, lit(""))
        .when(isPos, pfield(name)).otherwise(tfield(name))

    val df = segs
      .withColumn("_rl", lower(txt))
      .withColumn("routed_section",
        when(isPos, lit("Positions")).when(isOth, lit("Others"))
          .otherwise(routed.getField("txn_group")))
      .withColumn("txn_type",
        when(isPos, lit("Positions")).when(isOth, lit("Other"))
          .otherwise(routed.getField("txn_type")))
      .withColumn("txn_type_detail",
        when(isPos || isOth, lit(""))
          .otherwise(RuleCompiler.classifyTxnTypeFromLower(col("_rl"), rs)))
      .withColumn("row_text", txt)
      .withColumn("client_name", tOnly("client_name"))
      .withColumn("portfolio_no", pOnly("portfolio_no"))
      .withColumn("trade_date", tOnly("trade_date"))
      .withColumn("settlement_date", tOnly("settlement_date"))
      .withColumn("transaction_type_raw", tOnly("transaction_type_raw"))
      .withColumn("currency", bothField("currency"))
      .withColumn("quantity", bothField("quantity"))
      .withColumn("security_name", bothField("security_name"))
      .withColumn("securities_id", bothField("securities_id"))
      .withColumn("account_no", bothField("account_no"))
      .withColumn("foreign_unit_price", tOnly("foreign_unit_price"))
      .withColumn("foreign_gross_consideration",
        tOnly("foreign_gross_consideration"))
      .withColumn("foreign_net_consideration",
        tOnly("foreign_net_consideration"))
      .withColumn("net_consideration", tOnly("net_consideration"))
      .withColumn("market_price", pOnly("market_price"))
      .withColumn("market_value", pOnly("market_value"))
      .withColumn("cost_price", pOnly("cost_price"))
      .withColumn("valuation_date", pOnly("valuation_date"))
      .withColumn("currency_buy", tOnly("currency_buy"))
      .withColumn("amount_buy", tOnly("amount_buy"))
      .withColumn("currency_sell", tOnly("currency_sell"))
      .withColumn("amount_sell", tOnly("amount_sell"))

    // Stage 7: validation + normalization + C12 downgrade. The iso/num
    // columns are materialized FIRST so validationErrorsCol references
    // the attributes instead of re-evaluating the normalizers per check.
    df
      .withColumn("trade_date_iso", normalizeDateCol(col("trade_date")))
      .withColumn("settlement_date_iso",
        normalizeDateCol(col("settlement_date")))
      .withColumn("net_consideration_num",
        normalizeNumberCol(col("net_consideration")))
      .withColumn("market_value_num", normalizeNumberCol(col("market_value")))
      .withColumn("validation_errors", validationErrorsCol(
        col("securities_id"),
        col("net_consideration"), col("net_consideration_num"),
        col("market_value"), col("market_value_num"),
        col("trade_date"), col("trade_date_iso"),
        col("settlement_date"), col("settlement_date_iso"),
        col("currency")))
      .withColumn("target_section",
        when(col("routed_section") === "FXTF" &&
          (col("currency_buy") === "" || col("currency_sell") === ""),
          lit("Trade"))
          .when(col("routed_section") === "Trade" &&
            col("securities_id") === "", lit("Others"))
          .when(col("routed_section") === "Positions" &&
            col("market_value") === "", lit("Others"))
          .otherwise(col("routed_section")))
      .drop("mc", "stitched", "seg_id", "_rl", "as_of_date")
  }

  /** Full pipeline: pages → records. Record extraction needs only the
    * page_md transcription, so the boilerplate-scored main_text is not
    * assembled here (needMain=false).
    */
  def records(pages: Dataset[Page], rs: RuleSet = RuleSets.plugin,
      partitions: Int = 32): DataFrame =
    recordsFromClassified(
      classifyPages(pageTexts(pages, partitions, needMain = false), rs), rs)

  /** Byte-identity artifact: url → (main_text, spans). */
  def mainTexts(pages: Dataset[Page], partitions: Int = 32): DataFrame =
    pageTexts(pages, partitions).toDF()
      .select("url", "main_text", "spans", "content_kind", "n_blocks", "error")

  /** Pipeline event rows (S10) — same field set as the reference's JSONL
    * event log (/root/reference/soa_extractor/error_system.py:73-86):
    * extraction errors, blank pages, and per-page stage outcomes. Error
    * statistics (A3) are a groupBy(code, stage).count() away.
    */
  def events(classified: DataFrame): DataFrame =
    classified.select(
      current_timestamp().as("ts"),
      when(col("error") =!= "", lit("ERROR"))
        .when(col("content_kind") === "empty", lit("WARN"))
        .otherwise(lit("INFO")).as("level"),
      when(col("error") =!= "", col("error"))
        .when(col("content_kind") === "empty", lit("PAGE_EMPTY"))
        .otherwise(concat(lit("PAGE_OK_"), upper(col("content_kind"))))
        .as("code"),
      lit("extract").as("stage"),
      col("url"),
      lit(0).as("page"),
      lit("").as("record_id"),
      col("page_type").as("group"),
      lit("").as("txn_type"),
      coalesce(col("error"), lit("")).as("message"))
      // reference error-code vocabulary (error_system.py:13-54)
      .withColumn("ref_code", ErrorCodes.refCodeCol(col("code")))

  /** Record-stage events (reference REC/VAL taxonomy,
    * error_system.py:19-43): one record_route event per record (FALLBACK
    * when routing fell through to the default rule on a transaction-form
    * page) and one validate event per validation error. record_id is a
    * stable content hash, so the log is deterministic and joinable back
    * to the output.
    */
  def recordEvents(records: DataFrame): DataFrame = {
    val recId = substring(md5(concat(col("url"), col("row_text"))), 1, 8)
    val route = records.select(
      current_timestamp().as("ts"),
      lit("INFO").as("level"),
      when(col("page_type").isin("Transaction", "Trade", "FXTF") &&
        col("routed_section") === "Others" && col("txn_type") === "Other",
        lit("REC_ROUTE_FALLBACK")).otherwise(lit("REC_ROUTE_OK")).as("code"),
      lit("record_route").as("stage"),
      col("url"),
      lit(0).as("page"),
      recId.as("record_id"),
      col("routed_section").as("group"),
      col("txn_type"),
      lit("").as("message"))
    val vals = records
      .select(col("url"), col("row_text"), col("routed_section"),
        col("txn_type"),
        explode(col("validation_errors")).as("verr"))
      .select(
        current_timestamp().as("ts"),
        lit("WARN").as("level"),
        col("verr").as("code"),
        lit("validate").as("stage"),
        col("url"),
        lit(0).as("page"),
        recId.as("record_id"),
        col("routed_section").as("group"),
        col("txn_type"),
        lit("").as("message"))
    route.unionByName(vals)
      .withColumn("ref_code", ErrorCodes.refCodeCol(col("code")))
  }

  /** The full event stream — page-stage (extract) + record-stage
    * (route/validate) + stitch-stage — computed from ONE extraction
    * pass: the classified frame and the segment frame are
    * localCheckpoint'ed so the three projections share work instead of
    * each re-triggering the upstream mapPartitions extraction (the
    * round-2 plan ran it three times and segmentation twice). On a real
    * cluster the same seam is reliable checkpoint/TableIO storage.
    */
  def eventLog(classified0: DataFrame,
      rs: RuleSet = RuleSets.plugin): DataFrame = {
    val classified = classified0.localCheckpoint()
    val segs = segments(classified).localCheckpoint()
    events(classified)
      .unionByName(recordEvents(recordsFromSegments(segs, rs)))
      .unionByName(stitchEventsFromSegments(segs))
  }

  /** Stitch-stage events (reference REC_STITCH, error_system.py:19-43):
    * one event per segment folded from >1 table row (a main row plus
    * continuation rows). record_id matches recordEvents' content hash
    * (the record's row_text IS the stitched text), so stitch events are
    * joinable to route/validate events and to the output records.
    */
  def stitchEvents(classified: DataFrame): DataFrame =
    stitchEventsFromSegments(segments(classified))

  /** stitchEvents over an already-computed segment frame (see
    * [[recordsFromSegments]] / [[eventLog]]).
    */
  def stitchEventsFromSegments(segs: DataFrame): DataFrame =
    segs
      .filter(col("n_rows") > 1)
      .select(
        current_timestamp().as("ts"),
        lit("INFO").as("level"),
        lit("REC_STITCH_MERGED").as("code"),
        lit("stitch").as("stage"),
        col("url"),
        lit(0).as("page"),
        substring(md5(concat(col("url"), col("stitched"))), 1, 8)
          .as("record_id"),
        col("page_type").as("group"),
        lit("").as("txn_type"),
        concat(lit("rows="), col("n_rows")).as("message"))
      .withColumn("ref_code", ErrorCodes.refCodeCol(col("code")))
}
