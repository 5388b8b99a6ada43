package graft

import graft.extract.ContentExtractor
import graft.gen.PagesGen
import graft.io.TableIO
import graft.model.{Page, Span}
import graft.pipeline.{ExtractionPipeline, ScalarEvaluator}
import graft.rules.{RuleSets, ScalarRules}
import graft.textops.TextOps
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.Try

/** Fixed-seed scalacheck properties of the extraction pipeline over
  * generated inputs: the Spark records and main texts equal their
  * scalar twins' at any partitioning, page events classify each page
  * as its records do, the segmentation kernel folds
  * every kept Positions row into exactly one segment, and a resumable
  * run killed part way and resumed equals an uninterrupted one.
  */
class PipelinePropertiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** GoldenPipelineSpec's canonical record forms (canon / sparkCanon). */
  private val golden = new GoldenPipelineSpec

  private def check(p: Prop, trials: Int): Unit = {
    val res = Test.check(Test.Parameters.default
      .withInitialSeed(20261019L).withMinSuccessfulTests(trials)
      .withWorkers(1), p)
    assert(res.passed, Pretty.pretty(res))
  }

  // ---- (a) Spark records and main texts == their scalar twins ----

  /** (PagesGen seed, distinct page indices, `records` partitions). */
  private val pageSets: Gen[(Long, Seq[Long], Int)] = for {
    seed <- Gen.choose(0L, 1000000L)
    n <- Gen.choose(1, 60)
    idx <- Gen.containerOfN[Set, Long](n, Gen.choose(0L, 100000L))
    parts <- Gen.oneOf(0, 1, 4)
  } yield (seed, idx.toSeq.sorted, parts)

  /** Whitespace that `String.trim`, regex `\\s`, `Character.isWhitespace`
    * and Spark's trims disagree on: tab, CR, NBSP and U+2000-U+200A.
    */
  private val Spaces = Seq('\t', '\r', '\u00a0') ++ ('\u2000' to '\u200a')

  private val CellOrHeading = "<(td|th|h1|h2)>([^<]*)</(td|th|h1|h2)>".r

  /** `p` with whitespace variants in its HTML's table cells and heading
    * lines: each cell or heading gets a variant drawn by `rng` before
    * its text, after it, in place of its first space, or none. PDFs and
    * empty payloads stay as generated (`gen.PagesGen` writes only
    * spaces and newlines).
    */
  private def withSpaces(p: Page, rng: scala.util.Random): Page =
    if (p.html.isEmpty || graft.extract.PdfExtractor.isPdf(p.html)) p
    else p.copy(html = CellOrHeading.replaceAllIn(
      new String(p.html, UTF_8), { m =>
        val ws = Spaces(rng.nextInt(Spaces.size)).toString
        val body = m.group(2)
        val mutated = rng.nextInt(4) match {
          case 0 => ws + body
          case 1 => body + ws
          case 2 => body.replaceFirst(" ", ws)
          case _ => body
        }
        scala.util.matching.Regex.quoteReplacement(
          s"<${m.group(1)}>$mutated</${m.group(3)}>")
      }).getBytes(UTF_8))

  /** `pageSets`' pages, plain or with whitespace variants (a mutation
    * seed per set).
    */
  private def pagesOf(seed: Long, idx: Seq[Long],
      spaces: Boolean): Seq[Page] = {
    val rng = new scala.util.Random(seed * 31 + idx.size)
    idx.map { i =>
      val p = PagesGen.pageFor(i, seed)
      if (spaces) withSpaces(p, rng) else p
    }
  }

  private def recordsMatchScalar(spaces: Boolean): Unit = {
    import spark.implicits._
    check(Prop.forAllNoShrink(pageSets) { case (seed, idx, parts) =>
      val pages = pagesOf(seed, idx, spaces)
      val got = golden.sparkCanon(ExtractionPipeline.records(
        spark.createDataset(pages), RuleSets.plugin, parts))
      val want = pages.flatMap(ScalarEvaluator.process(_, RuleSets.plugin))
        .map(golden.canon).sorted
      Prop(got == want) :| s"seed=$seed pages=${idx.size} partitions=$parts"
    }, trials = 10)
  }

  test("property: Spark records == scalar records on generated page sets, " +
      "partitions in {0, 1, 4}") {
    recordsMatchScalar(spaces = false)
  }

  test("property: Spark records == scalar records on page sets with tab, " +
      "CR, NBSP and U+2000-U+200A in cells and headings") {
    recordsMatchScalar(spaces = true)
  }

  test("property: Spark mainTexts == ContentExtractor.extract on every " +
      "page, partitions in {0, 1, 4}") {
    import spark.implicits._
    check(Prop.forAllNoShrink(pageSets) { case (seed, idx, parts) =>
      val pages = idx.map(PagesGen.pageFor(_, seed))
      val got = ExtractionPipeline.mainTexts(spark.createDataset(pages), parts)
        .as[(String, String, Seq[Span], String, Int, String)]
        .collect().toSeq.sortBy(_._1)
      val want = pages.map { p =>
        val c = ContentExtractor.extract(p.html, needMain = true)
        (p.url, c.main_text, c.spans, c.content_kind, c.n_blocks, c.error)
      }.sortBy(_._1)
      Prop(got == want) :| s"seed=$seed pages=${idx.size} partitions=$parts"
    }, trials = 10)
  }

  /** Page events' classification and context per url:
    * (page_type, portfolio_no, client_name, as_of_date).
    */
  private def classified(pages: Dataset[Page],
      parts: Int): Map[String, (String, String, String, String)] = {
    import spark.implicits._
    ExtractionPipeline.classifyPages(ExtractionPipeline.pageTexts(pages,
        parts, needMain = false), RuleSets.plugin)
      .select("url", "page_type", "portfolio_no", "client_name", "as_of_date")
      .as[(String, String, String, String, String)].collect()
      .map { case (u, pt, pn, cn, asOf) => u -> (pt, pn, cn, asOf) }.toMap
  }

  test("page events: classifyPages agrees with records on a tab-indented " +
      "'#' line and a tab-padded client name") {
    import spark.implicits._
    // both lines sit in the table's verbatim markup, so page_md keeps
    // their tabs; the header's only other '#' line matches no page rule
    val html = "<html><body><h1>Account statement</h1><table>\n" +
      "Portfolio number 123-456789-01\n\tJane Doe\t\n" +
      "\t# Trade information\n" +
      "<thead><tr><th>Date</th><th>Type</th><th>Amount</th></tr></thead>" +
      "<tbody><tr><td>01.02.2024</td><td>YOUR PURCHASE</td>" +
      "<td>USD 1'000.00</td></tr></tbody></table>" +
      "<p>Statement of assets</p></body></html>"
    val pages = spark.createDataset(Seq(Page("doc://tabs",
      new java.sql.Timestamp(0L), html.getBytes(UTF_8), "", "en")))
    val recs = ExtractionPipeline.records(pages, RuleSets.plugin, 0)
      .select("page_type", "client_name").as[(String, String)]
      .collect().toSeq
    val (pt, _, cn, _) = classified(pages, 0)("doc://tabs")
    assert(recs.nonEmpty && recs.forall(_ == ((pt, cn))),
      s"records $recs, page event ($pt, $cn)")
    assert((pt, cn) === (("Trade", "Jane Doe")))
  }

  private def classifyMatchesRecords(spaces: Boolean): Unit = {
    import spark.implicits._
    check(Prop.forAllNoShrink(pageSets) { case (seed, idx, parts) =>
      val pages = pagesOf(seed, idx, spaces)
      val got = classified(spark.createDataset(pages), parts)
      val byPage = pages.map { p =>
        val md = ContentExtractor.extract(p.html).page_md
        val want = (ScalarRules.effectivePageType(md, RuleSets.plugin),
          TextOps.extractPortfolioNo(md).getOrElse(""),
          TextOps.extractClientName(md).getOrElse(""),
          TextOps.extractAsOfDate(md).getOrElse(""))
        val (pt, pn, cn, asOf) = got(p.url)
        // each record carries its page's type and the context its
        // family reads (Others records read none)
        val recsAgree = ScalarEvaluator.process(p, RuleSets.plugin).forall { r =>
          r.page_type == pt && (pt match {
            case "Positions" => r.portfolio_no == pn && r.valuation_date == asOf
            case "Others"    => true
            case _           => r.client_name == cn
          })
        }
        Prop(got(p.url) == want && recsAgree) :| s"url=${p.url}"
      }
      (Prop(got.size == pages.size) && Prop.all(byPage: _*)) :|
        s"seed=$seed pages=${idx.size} partitions=$parts"
    }, trials = 10)
  }

  test("property: classifyPages == the scalar twin per page, and agrees " +
      "with the page's records, partitions in {0, 1, 4}") {
    classifyMatchesRecords(spaces = false)
  }

  test("property: classifyPages == the scalar twin per page and agrees " +
      "with its records on page sets with tab, CR, NBSP and U+2000-U+200A " +
      "in cells and headings") {
    classifyMatchesRecords(spaces = true)
  }

  // ---- (b) segmentation of Positions pages ----

  private def rowText(cells: Seq[String]): String = cells.mkString(" ").trim

  /** C9: Positions drops blank rows and "total" rows. */
  private def kept(cells: Seq[String]): Boolean = {
    val t = rowText(cells)
    t.nonEmpty && !TextOps.lower(t).startsWith("total")
  }

  /** G1: a main row's first cell starts with an ASCII digit or a
    * currency code and is not a DD.MM.YYYY date.
    */
  private def isMain(cells: Seq[String]): Boolean = {
    val f = cells.headOption.getOrElse("").trim
    f.nonEmpty && ((f.head >= '0' && f.head <= '9') ||
      TextOps.startsWithCurrency(f)) && !TextOps.startsWithDate(f)
  }

  private val firstCells: Gen[String] = Gen.oneOf(
    Gen.choose(1, 5000).map(q => s"$q Nestle SA"),         // main
    Gen.oneOf(TextOps.Currencies).map(c => s"$c 0.00 Cash"), // main
    Gen.oneOf(TextOps.Currencies),                          // main
    Gen.const("ISIN CH0012345678"),                         // continuation
    Gen.const("12.03.2024 coupon"),                         // date: continuation
    Gen.const("Account 123-456789.01"),                     // continuation
    Gen.oneOf("Total", "TOTAL assets", ""))                 // dropped or blank

  private val rows: Gen[Seq[String]] = for {
    first <- firstCells
    n <- Gen.choose(0, 4)
    rest <- Gen.listOfN(n, Gen.oneOf("", "USD", "101.25", "1'250.00",
      "ISIN US0000000001", "note"))
  } yield first +: rest

  /** One pipe table: a label header, a data-like header (G3 repair) or
    * none, then 0-12 rows.
    */
  private val tables: Gen[String] = for {
    header <- Gen.oneOf(Some("Description"), Some("250 Roche Holding"),
      Some("CHF"), None)
    body <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, rows))
  } yield {
    def line(cells: Seq[String]) = cells.mkString("| ", " | ", " |")
    (header.toSeq.flatMap(h => Seq(line(Seq(h, "Ccy")), "|---|---|")) ++
      body.map(line)).mkString("\n")
  }

  /** Markdown pages of 0-3 tables, plus the page_md of PagesGen's
    * Positions-classified pages (HTML and PDF).
    */
  private val positionsMds: Gen[String] = Gen.frequency(
    3 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, tables))
      .map(ts => ("# Statement of assets" +: ts).mkString("\n\ntext\n")),
    1 -> Gen.choose(0L, 100000L).map { i =>
      ContentExtractor.extract(PagesGen.pageFor(i, i % 7).html).page_md
    }.suchThat(md =>
      ScalarRules.effectivePageType(md, RuleSets.plugin) == "Positions"))

  test("property: segmentsOf on Positions pages returns one segment per " +
      "main row") {
    check(Prop.forAllNoShrink(positionsMds) { md =>
      val want = ScalarEvaluator.enumerateRows("Positions", md)
        .filter(r => kept(r) && isMain(r))
      val got = ScalarEvaluator.segmentsOf("Positions", md)
      Prop(got.map(_.cells) == want) :| s"page_md:\n$md"
    }, trials = 300)
  }

  test("property: every kept Positions row after the first main row lands " +
      "in exactly one segment") {
    check(Prop.forAllNoShrink(positionsMds) { md =>
      val keptRows = ScalarEvaluator.enumerateRows("Positions", md)
        .filter(kept)
      val stitched = keptRows.dropWhile(!isMain(_))
      val segs = ScalarEvaluator.segmentsOf("Positions", md)
      // the count, and the same rows in order: segment texts joined are
      // the joined row texts from the first main row on
      (Prop(segs.map(_.nRows).sum == stitched.length) &&
        Prop(segs.map(_.text).mkString(" ") ==
          stitched.map(rowText).mkString(" "))) :| s"page_md:\n$md"
    }, trials = 300)
  }

  // ---- (c) runResumable: kill, resume == uninterrupted ----

  /** A run's output in comparable form: the committed records in
    * GoldenPipelineSpec's canon form, each bucket's lineage
    * `(inputRows, outputRows, contentHash)` and the event log without
    * its `ts`. A run that committed no records reads as empty frames.
    */
  private def snapshot(out: String) = {
    val recs = TableIO.readCommitted(spark, out)
    val ev = TableIO.readEvents(spark, out)
    (if (recs.columns.isEmpty) Nil else golden.sparkCanon(recs),
      TableIO.readLineage(out).map { case (b, l) =>
        b -> (l.inputRows, l.outputRows, l.contentHash)
      },
      if (ev.columns.isEmpty) Nil
      else ev.drop("ts").collect().map(_.toString).toSeq.sorted)
  }

  /** (page set, buckets, waveSize, failAfter). The kill lands before
    * the first wave that starts with at least `failAfter` buckets
    * committed, so `failAfter` stays at or below the last wave's start;
    * it is 0 (nothing committed) only when there is one wave.
    */
  private val resumeRuns: Gen[(Long, Seq[Long], Int, Int, Int)] = for {
    (seed, idx, _) <- pageSets
    buckets <- Gen.choose(1, 8)
    wave <- Gen.choose(1, 4)
    lastStart = (buckets - 1) / wave * wave
    failAfter <- Gen.choose(math.min(1, lastStart), lastStart)
  } yield (seed, idx, buckets, wave, failAfter)

  test("property: runResumable killed after a random bucket count, then " +
      "resumed == an uninterrupted run") {
    import spark.implicits._
    check(Prop.forAllNoShrink(resumeRuns) {
      case (seed, idx, buckets, wave, failAfter) =>
        val pages = spark.createDataset(idx.map(PagesGen.pageFor(_, seed)))
        val clean = Files.createTempDirectory("graft_prop_clean").toString
        val killed = Files.createTempDirectory("graft_prop_kill").toString
        TableIO.runResumable(pages, clean, buckets, wave)
        val died = Try(TableIO.runResumable(pages, killed, buckets, wave,
          failAfter = failAfter)).isFailure
        val before = TableIO.readLineage(killed).size
        val resumed = TableIO.runResumable(pages, killed, buckets, wave)
        (Prop(died) && Prop(before + resumed == buckets) &&
          Prop(snapshot(killed) == snapshot(clean))) :|
          s"seed=$seed pages=${idx.size} buckets=$buckets wave=$wave " +
          s"failAfter=$failAfter died=$died committed=$before"
    }, trials = 4)
  }
}
