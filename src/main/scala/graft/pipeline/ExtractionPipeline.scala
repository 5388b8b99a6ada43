package graft.pipeline

import graft.extract.ContentExtractor
import graft.model.{Page, PageText}
import graft.rules.{RuleCompiler, RuleSet, RuleSets}
import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}

/** The Spark-native extraction pipeline (north_rule):
  *
  *   Dataset[Page]
  *     → optional url-hash repartition (X4)
  *     → mapPartitions: the page kernel, per page          [typed map]
  *         content extraction (X1 HTML / X2 PDF)
  *         → page classification (C1/C2) + page context (G4)
  *         → segmentation: table rows (P1/P2 + G3 header repair),
  *           row filters (C9/C10/C11), main-row detection (G1),
  *           stitching (G2/A5)
  *         → record routing + transaction-type rules (C3-C6)
  *         → field extraction (N5-N13), compiled from rs.extraction
  *         → validation/normalization (N14/N15, C12, J1)
  *
  * The only shuffle is the optional repartition: every stage keeps its
  * state within one page, so [[records]] is one typed map inside the
  * scan's (or the repartition's) tasks, with no per-wave plan to
  * optimize or codegen beyond it. [[PageKernel]] holds the stages;
  * ScalarEvaluator (the golden twin) shares its classification,
  * segmentation and validation and hand-codes the field extraction the
  * kernel compiles from config. The Column forms below serve page-level
  * views (page events, the catalog's oracle-checked queries).
  */
object ExtractionPipeline {

  /** Stage 1: explicit url-hash partitioning + per-partition batched
    * content extraction. The kernel objects are JVM-static singletons,
    * reused across all rows of a partition (the reference's
    * model-resident-per-process analogue, run.py:133-137).
    */
  def pageTexts(pages: Dataset[Page], partitions: Int = 32,
      needMain: Boolean = true): Dataset[PageText] = {
    val spark = pages.sparkSession
    import spark.implicits._
    balanced(pages, partitions)
      .mapPartitions(_.map(ContentExtractor.extractPage(_, needMain)))
  }

  /** X4: explicit url-hash partitioning for balanced extraction work.
    * partitions <= 0 skips the shuffle and extracts inside the scan's
    * own tasks, so parallelism comes from the scan splits
    * (GraftSession.ScanSplits). TableIO's waves (buckets and stream
    * micro-batches) do this: shuffling raw pages pays only for skew.
    */
  private def balanced(pages: Dataset[Page], partitions: Int): Dataset[Page] =
    if (partitions > 0) pages.repartition(partitions, col("url")) else pages

  /** Page-level classification + page-context extraction (G4) as
    * Columns over extracted pages — the page-event log's input. The
    * record path classifies inside [[PageKernel]] instead.
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
    pt.withColumn("_header", RuleCompiler.headerCol(md, rs.headerMode))
      .withColumn("_pt",
        RuleCompiler.classifyPageFromHeader(col("_header"), rs))
      .select(pt.columns.toIndexedSeq.map(col) ++ Seq(
        // Others-fallback re-test on the materialized attribute (empty
        // pages classify "Others" too but produce zero table rows)
        RuleCompiler.othersFallbackCol(col("_pt"), md, rs).as("page_type"),
        regexp_extract(md, "Portfolio number\\s+(\\d{3}-\\d{6}-\\d{2})", 1)
          .as("portfolio_no"),
        when(md.contains("Portfolio number") &&
          md.contains("Statement of assets"),
          trim(regexp_extract(md,
            "(?s)Portfolio number.*?\\n(.*?)\\n.*?Statement of assets", 1)))
          .otherwise(lit("")).as("client_name"),
        regexp_extract(md, "as of (\\d{2}\\.\\d{2}\\.\\d{4})", 1)
          .as("as_of_date")): _*)
  }

  // ---- Column helpers mirroring TextOps/ScalarEvaluator ----

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
    * error_system.py:37-43; scalar form ScalarEvaluator.validate —
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

  /** Full pipeline: pages → records, in [[PageKernel.Schema]]. After
    * the optional url-hash repartition, one typed mapPartitions runs
    * the [[PageKernel]] on each page.
    */
  def records(pages: Dataset[Page], rs: RuleSet = RuleSets.plugin,
      partitions: Int = 32): DataFrame = {
    val kernel = new PageKernel(rs)
    balanced(pages, partitions).mapPartitions(_.flatMap(kernel.pageRecords))(
      Encoders.row(PageKernel.Schema))
  }

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
    * (route/validate) + stitch-stage — over classified pages (see
    * [[classifyPagesDf]]), with the page kernel run on each page's own
    * classification and context. The classified frame and the records
    * are localCheckpoint'ed, so the projections share one pass.
    */
  def eventLog(classified0: DataFrame,
      rs: RuleSet = RuleSets.plugin): DataFrame = {
    val spark = classified0.sparkSession
    import spark.implicits._
    val classified = classified0.localCheckpoint()
    val kernel = new PageKernel(rs)
    val recs = classified
      .select("url", "page_type", "portfolio_no", "client_name",
        "as_of_date", "page_md")
      .as[(String, String, String, String, String, String)]
      .mapPartitions(_.flatMap { case (url, pt, pn, cn, asOf, md) =>
        kernel.classifiedRecords(url, pt, pn, cn, asOf, md)
      })(Encoders.row(PageKernel.Schema.add("n_rows", IntegerType, false)))
      .localCheckpoint()
    events(classified)
      .unionByName(recordEvents(recs, current_timestamp()))
      .unionByName(stitchEvents(recs))
  }

  /** Stitch-stage events (reference REC_STITCH, error_system.py:19-43):
    * one event per record stitched from >1 table row (a main row plus
    * continuation rows). record_id is recordEvents' content hash, so
    * stitch events are joinable to route/validate events and to the
    * output records.
    */
  private def stitchEvents(recs: DataFrame): DataFrame =
    recs
      .filter(col("n_rows") > 1)
      .select(
        current_timestamp().as("ts"),
        lit("INFO").as("level"),
        lit("REC_STITCH_MERGED").as("code"),
        lit("stitch").as("stage"),
        col("url"),
        lit(0).as("page"),
        substring(md5(concat(col("url"), col("row_text"))), 1, 8)
          .as("record_id"),
        col("page_type").as("group"),
        lit("").as("txn_type"),
        concat(lit("rows="), col("n_rows")).as("message"))
      .withColumn("ref_code", ErrorCodes.refCodeCol(col("code")))
}
