package graft.pipeline

import graft.extract.ContentExtractor
import graft.model.{Page, PageText}
import graft.rules.{RuleSet, RuleSets, ScalarRules}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

/** The Spark-native extraction pipeline (north_rule):
  *
  *   Dataset[Page]
  *     → url-hash repartition (X4), only when the caller asks
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
  * kernel compiles from config. Page events ([[classifyPages]]) run
  * the same scalar classification and page context, also as one typed
  * map: `rules/` and `pipeline/` hold one implementation of each rule
  * and validation decision.
  */
object ExtractionPipeline {

  /** Stage 1: per-partition batched content extraction, inside the
    * scan's tasks unless the caller asks for the url-hash repartition
    * ([[balanced]]). The kernel objects are JVM-static singletons,
    * reused across all rows of a partition (the reference's
    * model-resident-per-process analogue, run.py:133-137).
    */
  def pageTexts(pages: Dataset[Page], partitions: Int = 0,
      needMain: Boolean = true): Dataset[PageText] = {
    val spark = pages.sparkSession
    import spark.implicits._
    balanced(pages, partitions)
      .mapPartitions(_.map(ContentExtractor.extractPage(_, needMain)))
  }

  /** X4: explicit url-hash partitioning for balanced extraction work,
    * only when a caller asks for it (partitions > 0): shuffling raw
    * pages pays only for skew. The default, partitions <= 0, skips the
    * shuffle and extracts inside the scan's own tasks, so parallelism
    * comes from the scan splits (GraftSession.ScanSplits); TableIO's
    * waves, stream micro-batches and CurateApp's extraction stage all
    * run this way.
    */
  private def balanced(pages: Dataset[Page], partitions: Int): Dataset[Page] =
    if (partitions > 0) pages.repartition(partitions, col("url")) else pages

  /** Page-level classification + page context (G4) — the page-event
    * log's input: the input columns plus `page_type`, `portfolio_no`,
    * `client_name` and `as_of_date`, from the page kernel's own calls
    * ([[ScalarRules.effectivePageType]], [[PageKernel.context]]) in one
    * typed map, so a page's events and its records agree. `pt` needs a
    * string `page_md` column: extracted pages ([[pageTexts]]) or pages
    * a caller synthesizes (the event-statistics query builds them from
    * `documents` rows).
    */
  def classifyPages(pt: Dataset[_], rs: RuleSet = RuleSets.plugin): DataFrame = {
    val in = pt.toDF()
    val md = in.schema.fieldIndex("page_md")
    val out = Seq("page_type", "portfolio_no", "client_name", "as_of_date")
      .foldLeft(in.schema)(_.add(_, StringType, nullable = false))
    in.mapPartitions(_.map { r =>
      val text = r.getString(md)
      val (portfolioNo, clientName, asOfDate) = PageKernel.context(text)
      Row.fromSeq(r.toSeq ++ Seq(ScalarRules.effectivePageType(text, rs),
        portfolioNo, clientName, asOfDate))
    })(Encoders.row(out))
  }

  /** Full pipeline: pages → records, in [[PageKernel.Schema]]. After
    * the optional url-hash repartition, one typed mapPartitions runs
    * the [[PageKernel]] on each page.
    */
  def records(pages: Dataset[Page], rs: RuleSet = RuleSets.plugin,
      partitions: Int = 0): DataFrame = {
    val kernel = new PageKernel(rs)
    balanced(pages, partitions).mapPartitions(_.flatMap(kernel.pageRecords))(
      Encoders.row(PageKernel.Schema))
  }

  /** Byte-identity artifact: url → (main_text, spans). */
  def mainTexts(pages: Dataset[Page], partitions: Int = 0): DataFrame =
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
    * [[classifyPages]]), with the page kernel run on each page's own
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
