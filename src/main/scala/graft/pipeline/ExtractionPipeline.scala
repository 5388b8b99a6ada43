package graft.pipeline

import graft.extract.ContentExtractor
import graft.model.{Page, PageText}
import graft.rules.{RuleCompiler, RuleSet, RuleSets}
import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.collection.immutable.ListMap

/** The Spark-native extraction pipeline (north_rule):
  *
  *   Dataset[Page]
  *     → optional url-hash repartition (X4)
  *     → mapPartitions content extraction (X1 HTML / X2 PDF)   [typed map]
  *     → page classification (C1/C2)                           [Column]
  *     → segmentation flatMap: table rows (P1/P2 + G3 header
  *       repair), row filters (C9/C10/C11), main-row detection (G1)
  *       and stitching (G2/A5), per page       [generator, shared kernel]
  *     → record routing (C3-C6)                                [Column]
  *     → field extraction (N5-N13)                             [Column]
  *     → validation/normalization (N14/N15, C12, J1)           [Column]
  *
  * The only shuffle is the optional repartition: segmentation keeps
  * state within one page, so it runs inside the page's own task.
  * Everything after the flatMap is pure Column expressions inside
  * whole-stage codegen — no UDFs. Classification/extraction logic
  * mirrors ScalarEvaluator (the golden twin) line for line; the
  * segmentation flatMap calls its kernel, ScalarEvaluator.segmentsOf.
  */
object ExtractionPipeline {

  /** Projection carried into the segmentation flatMap. */
  case class PageForSeg(url: String, page_type: String, portfolio_no: String,
      client_name: String, as_of_date: String, page_md: String)

  /** One stitched segment with its page context, as [[segments]]
    * emits it.
    */
  case class SegRow(url: String, page_type: String, portfolio_no: String,
      client_name: String, as_of_date: String, mc: Seq[String],
      stitched: String, n_rows: Int)

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
    // partitions <= 0 skips the shuffle and extracts inside the scan's
    // own tasks, so parallelism comes from the scan splits
    // (GraftSession.ScanSplits). TableIO's waves (buckets and stream
    // micro-batches) do this: shuffling raw pages pays only for skew.
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
    // `_header` and `_pt` are each materialized ONCE per row by a
    // projection of their own; the when-chains then only touch the
    // attribute (otherwise Catalyst would duplicate the split/filter/
    // concat header derivation into every keyword branch — measured 8×
    // slowdown of this stage).
    val typed = pt.toDF()
      .withColumn("_header", RuleCompiler.headerCol(md, rs.headerMode))
      .withColumn("_pt",
        RuleCompiler.classifyPageFromHeader(col("_header"), rs))
    layer(typed, ListMap(
      // Others-fallback re-test on the materialized attribute (empty
      // pages classify "Others" too but produce zero table rows)
      "page_type" -> RuleCompiler.othersFallbackCol(col("_pt"), md, rs),
      "portfolio_no" ->
        regexp_extract(md, "Portfolio number\\s+(\\d{3}-\\d{6}-\\d{2})", 1),
      "client_name" ->
        when(md.contains("Portfolio number") &&
          md.contains("Statement of assets"),
          trim(regexp_extract(md,
            "(?s)Portfolio number.*?\\n(.*?)\\n.*?Statement of assets", 1)))
          .otherwise(lit("")),
      "as_of_date" ->
        regexp_extract(md, "as of (\\d{2}\\.\\d{2}\\.\\d{4})", 1)),
      "_header", "_pt")
  }

  /** `df.withColumns(cols).drop(dropped: _*)` as ONE projection. Spark
    * analyzes and checks the whole plan for every Dataset built, so a
    * plan grown a column at a time pays that cost per column; the
    * pipeline grows it a dependent layer at a time. `cols` read only
    * `df`'s columns.
    */
  private def layer(df: DataFrame, cols: ListMap[String, Column],
      dropped: String*): DataFrame = {
    val kept = df.columns.filterNot(dropped.contains)
      .map(c => cols.get(c).fold(col(c))(_.as(c)))
    val added = cols.collect {
      case (n, c) if !df.columns.contains(n) => c.as(n)
    }
    df.select((kept ++ added).toIndexedSeq: _*)
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

  /** Stage 3: classified pages → stitched segments, one row per
    * record-to-be, with `n_rows` = how many table rows were folded in.
    * One flatMap over pages runs the SAME segmentation kernel as the
    * scalar evaluator (row filters, G3 header repair, main-row detection,
    * stitching), so segmentation stays inside the page's own task. The
    * page-type test runs in the closure: as a Column filter, Catalyst
    * pushes it below classifyPagesDf's `_header` projection and inlines
    * the header derivation into it once per keyword branch.
    */
  def segments(classified: DataFrame): DataFrame = {
    val spark = classified.sparkSession
    import spark.implicits._
    classified
      .select("url", "page_type", "portfolio_no", "client_name",
        "as_of_date", "page_md")
      .as[PageForSeg]
      .flatMap { p =>
        ScalarEvaluator.segmentsOf(p.page_type, p.page_md).map { s =>
          SegRow(p.url, p.page_type, p.portfolio_no, p.client_name,
            p.as_of_date, s.cells, s.text, s.nRows)
        }
      }
      .toDF()
  }

  /** Stages 4-7 — routing + field extraction + validation as wide
    * Column projections, one per dependent layer (mirrors
    * ScalarEvaluator.extractPositions / extractTrade / validate), over
    * an already-segmented frame: the seam that lets a caller compute
    * [[segments]] ONCE (checkpointed) and feed both the record output
    * and the stitch-event projection (see [[eventLog]]).
    */
  def recordsFromSegments(segs: DataFrame,
      rs: RuleSet = RuleSets.plugin): DataFrame = {
    val isPos = col("page_type") === "Positions"
    // Others records carry row_text only — no field extraction, no page
    // context (others.py:48-59; scalar twin extractOthers)
    val isOth = col("page_type") === "Others"
    val mc = col("mc")
    val txt = col("stitched")
    val firstCol = trim(element_at(mc, 1))

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

    // fields are defined in order, each seeing the ones before it:
    // `prior` holds those, and a page_context key naming one of them
    // reads that field's value, any other key the input column
    def compile(fs: graft.rules.FieldSpec,
        prior: Map[String, Column]): Column = fs.strategy match {
      case "regex"                 => regexp_extract(txt, fs.pattern, fs.group)
      case "cell"                  => cellAt(fs.index)
      case "cell_trim" =>
        when(size(mc) >= fs.index, trim(element_at(mc, fs.index)))
          .otherwise(lit(""))
      case "page_context"          => prior.getOrElse(fs.key, col(fs.key))
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
    type Field = (String, Map[String, Column]) => Column
    def tfield(name: String, prior: Map[String, Column]): Column =
      spec.trade.get(name).map(compile(_, prior)).getOrElse(lit(""))
    def pfield(name: String, prior: Map[String, Column]): Column =
      spec.positions.get(name).map(compile(_, prior)).getOrElse(lit(""))
    // trade-family-only field (Positions/Others always blank)
    val tOnly: Field = (name, prior) =>
      when(isPos || isOth, lit("")).otherwise(tfield(name, prior))
    // positions-only field
    val pOnly: Field = (name, prior) =>
      when(isPos, pfield(name, prior)).otherwise(lit(""))
    // extracted for both families, blank for Others
    val bothField: Field = (name, prior) =>
      when(isOth, lit(""))
        .when(isPos, pfield(name, prior)).otherwise(tfield(name, prior))

    // routing + every record field as ONE projection over `_rl` and
    // `_route`, in output order: Spark analyzes the growing plan once
    // per layer, not once per column
    val fields = Seq[(String, Field)](
      "client_name" -> tOnly, "portfolio_no" -> pOnly,
      "trade_date" -> tOnly, "settlement_date" -> tOnly,
      "transaction_type_raw" -> tOnly, "currency" -> bothField,
      "quantity" -> bothField, "security_name" -> bothField,
      "securities_id" -> bothField, "account_no" -> bothField,
      "foreign_unit_price" -> tOnly, "foreign_gross_consideration" -> tOnly,
      "foreign_net_consideration" -> tOnly, "net_consideration" -> tOnly,
      "market_price" -> pOnly, "market_value" -> pOnly,
      "cost_price" -> pOnly, "valuation_date" -> pOnly,
      "currency_buy" -> tOnly, "amount_buy" -> tOnly,
      "currency_sell" -> tOnly, "amount_sell" -> tOnly,
    ).foldLeft(ListMap[String, Column](
      "routed_section" ->
        when(isPos, lit("Positions")).when(isOth, lit("Others"))
          .otherwise(col("_route").getField("txn_group")),
      "txn_type" ->
        when(isPos, lit("Positions")).when(isOth, lit("Other"))
          .otherwise(col("_route").getField("txn_type")),
      "txn_type_detail" ->
        when(isPos || isOth, lit(""))
          .otherwise(RuleCompiler.classifyTxnTypeFromLower(col("_rl"), rs)),
      "row_text" -> txt)) { case (prior, (name, field)) =>
      prior.updated(name, field(name, prior))
    }

    // Stage 7: validation + normalization + C12 downgrade. The iso/num
    // columns are materialized FIRST (a layer of their own) so
    // validationErrorsCol references the attributes instead of
    // re-evaluating the normalizers per check.
    val normalized = segs
      .withColumn("_rl", lower(txt))
      // routing (C3) on the pre-lowered stitched text: struct(txn_group,
      // txn_type) in a layer of its own, so routed_section and txn_type
      // read one attribute and the when-chain is built once (see
      // classifyPages note on when-chain expression duplication)
      .withColumn("_route",
        RuleCompiler.classifyRecordFromLower(col("_rl"), rs))
      .withColumns(fields)
      .withColumns(ListMap(
        "trade_date_iso" -> normalizeDateCol(col("trade_date")),
        "settlement_date_iso" -> normalizeDateCol(col("settlement_date")),
        "net_consideration_num" -> normalizeNumberCol(col("net_consideration")),
        "market_value_num" -> normalizeNumberCol(col("market_value"))))
    layer(normalized, ListMap(
      "validation_errors" -> validationErrorsCol(
        col("securities_id"),
        col("net_consideration"), col("net_consideration_num"),
        col("market_value"), col("market_value_num"),
        col("trade_date"), col("trade_date_iso"),
        col("settlement_date"), col("settlement_date_iso"),
        col("currency")),
      "target_section" ->
        when(col("routed_section") === "FXTF" &&
          (col("currency_buy") === "" || col("currency_sell") === ""),
          lit("Trade"))
          .when(col("routed_section") === "Trade" &&
            col("securities_id") === "", lit("Others"))
          .when(col("routed_section") === "Positions" &&
            col("market_value") === "", lit("Others"))
          .otherwise(col("routed_section"))),
      "mc", "stitched", "n_rows", "_rl", "_route", "as_of_date")
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
    *
    * @param ts   the event time, evaluated per record
    * @param keep record columns appended unchanged to each of the
    *             record's events (e.g. the table's partition column)
    */
  def recordEvents(records: DataFrame, ts: Column, keep: String*): DataFrame = {
    // one scan: each record explodes into its route event followed by
    // one event per validation error (a null error list still yields
    // the route event)
    val route = struct(lit("INFO").as("level"),
      when(col("page_type").isin("Transaction", "Trade", "FXTF") &&
        col("routed_section") === "Others" && col("txn_type") === "Other",
        lit("REC_ROUTE_FALLBACK")).otherwise(lit("REC_ROUTE_OK")).as("code"),
      lit("record_route").as("stage"))
    val vals = transform(
      coalesce(col("validation_errors"), array().cast("array<string>")),
      v => struct(lit("WARN").as("level"), v.as("code"),
        lit("validate").as("stage")))
    val kept = keep.map(col)
    records
      .select(Seq(ts.as("ts"), col("url"), col("row_text"),
        col("routed_section"), col("txn_type"),
        explode(concat(array(route), vals)).as("ev")) ++ kept: _*)
      .select(Seq(
        col("ts"),
        col("ev.level").as("level"),
        col("ev.code").as("code"),
        col("ev.stage").as("stage"),
        col("url"),
        lit(0).as("page"),
        substring(md5(concat(col("url"), col("row_text"))), 1, 8)
          .as("record_id"),
        col("routed_section").as("group"),
        col("txn_type"),
        lit("").as("message"),
        ErrorCodes.refCodeCol(col("ev.code")).as("ref_code")) ++ kept: _*)
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
      .unionByName(recordEvents(recordsFromSegments(segs, rs),
        current_timestamp()))
      .unionByName(stitchEventsFromSegments(segs))
  }

  /** Stitch-stage events (reference REC_STITCH, error_system.py:19-43)
    * over a segment frame (see [[recordsFromSegments]] / [[eventLog]]):
    * one event per segment folded from >1 table row (a main row plus
    * continuation rows). record_id matches recordEvents' content hash
    * (the record's row_text IS the stitched text), so stitch events are
    * joinable to route/validate events and to the output records.
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
