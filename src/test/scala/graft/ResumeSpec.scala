package graft

import graft.gen.PagesGen
import graft.io.TableIO
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Resume correctness (SURVEY §5.2-5): a killed run, re-invoked, must
  * produce output identical to an uninterrupted run without reprocessing
  * committed buckets.
  */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("kill after k buckets → resume → identical output, no reprocess") {
    import spark.implicits._
    val pages = spark.createDataset((0L until 300L).map(PagesGen.pageFor(_, 42)))
    val cleanDir = Files.createTempDirectory("graft_clean").toString
    val resumeDir = Files.createTempDirectory("graft_resume").toString

    // uninterrupted reference run
    val total = TableIO.runResumable(pages, cleanDir, buckets = 8, waveSize = 3)
    assert(total === 8)

    // interrupted run: dies after 3 committed buckets
    val thrown = intercept[RuntimeException] {
      TableIO.runResumable(pages, resumeDir, buckets = 8, waveSize = 3,
        failAfter = 3)
    }
    assert(thrown.getMessage.contains("injected failure"))
    val afterKill = TableIO.readLineage(resumeDir)
    assert(afterKill.count(_._2.status == "COMMITTED") === 3)

    // resumed run: completes only the remaining buckets
    val resumed = TableIO.runResumable(pages, resumeDir, buckets = 8,
      waveSize = 3)
    assert(resumed === 5, "resume must process exactly the pending buckets")

    // committed-in-run-1 buckets were NOT reprocessed (attempt stays 1)
    val lineage = TableIO.readLineage(resumeDir)
    assert(lineage.size === 8)
    assert(lineage.values.forall(_.attempt === 1))

    // outputs identical to the uninterrupted run
    def canon(dir: String): Seq[String] =
      TableIO.readCommitted(spark, dir)
        .select("url", "row_text", "target_section", "txn_type")
        .collect().map(_.toString).toSeq.sorted
    assert(canon(resumeDir) === canon(cleanDir))

    // the _metrics event log is also identical (modulo wall-clock ts):
    // a resumed run rebuilds exactly the killed run's missing event
    // partitions — no duplicates from re-appending committed buckets
    def canonEvents(dir: String): Seq[String] =
      TableIO.readEvents(spark, dir)
        .select("level", "code", "stage", "url", "record_id", "group",
          "txn_type")
        .collect().map(_.toString).toSeq.sorted
    val cleanEv = canonEvents(cleanDir)
    assert(cleanEv.nonEmpty, "uninterrupted run must emit record events")
    assert(canonEvents(resumeDir) === cleanEv)
    // every record produced a route event: counts line up with the data
    assert(TableIO.readEvents(spark, resumeDir)
      .filter(org.apache.spark.sql.functions.col("stage") === "record_route")
      .count() === TableIO.readCommitted(spark, resumeDir).count())

    // re-running a complete output is a no-op
    assert(TableIO.runResumable(pages, resumeDir, buckets = 8) === 0)

    // content hashes in lineage match across runs (same data → same hash)
    val cleanHash = TableIO.readLineage(cleanDir).map { case (k, v) =>
      k -> v.contentHash
    }
    val resumeHash = lineage.map { case (k, v) => k -> v.contentHash }
    assert(cleanHash === resumeHash)

    // input counts landed via the in-job accumulators (single scan)
    assert(lineage.values.map(_.inputRows).sum === 300L)
  }

  test("scala bucketFor == pmod(xxhash64(url), n) Column") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val urls = (0L until 500L).map(i => s"https://h$i.example.org/p/$i")
    val got = urls.toDF("url")
      .select(pmod(xxhash64(col("url")), lit(16)).cast("int")).as[Int]
      .collect().toSeq
    assert(got === urls.map(TableIO.bucketFor(_, 16)))
  }

  test("zero-record buckets commit 0-row lineage and resume cleanly") {
    import spark.implicits._
    // all-empty payloads → every bucket produces zero records
    val pages = spark.createDataset((0L until 40L).map { i =>
      graft.model.Page(s"https://x.example.org/e/$i",
        new java.sql.Timestamp(0L), Array.emptyByteArray, null, "und")
    })
    val out = Files.createTempDirectory("graft_empty").toString
    val n = TableIO.runResumable(pages, out, buckets = 4, waveSize = 2)
    assert(n === 4)
    val lineage = TableIO.readLineage(out)
    assert(lineage.size === 4)
    assert(lineage.values.forall(l =>
      l.status == "COMMITTED" && l.outputRows == 0L))
    assert(lineage.values.map(_.inputRows).sum === 40L)
    // read-back of a committed-but-empty table is empty, not an error
    assert(TableIO.readCommitted(spark, out).isEmpty)
    // and a re-run is a no-op
    assert(TableIO.runResumable(pages, out, buckets = 4) === 0)
  }

  test("staged curation: kill between stages → resume reuses committed stages") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val boiler = "subscribe to the newsletter"
    val docs = (0L until 80L).map { i =>
      val body =
        if (i % 7 == 0) Seq.fill(6)("the offer is here").mkString("\n")
        else if (i % 10 < 2) s"the shared body of pair ${i / 10} is the same"
        else s"the document $i is about topic ${i % 13} with words " +
          s"alpha${i} beta gamma delta epsilon"
      (i, s"$boiler\n\n$body\n\nContact user$i@example.com")
    }.toDF("id", "text")

    val cleanDir = Files.createTempDirectory("graft_cur_clean").toString
    val resumeDir = Files.createTempDirectory("graft_cur_resume").toString

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("id", "lang", "n_tokens", "clean_text")
        .collect().map(_.toString).toSeq.sorted

    val ref = canon(graft.ops.Curation.curateStaged(
      docs, "id", "text", cleanDir, minTokens = 5, paraMinDocs = 3))

    // staged result == the in-memory composition
    val inMem = canon(graft.ops.Curation.curate(
      docs, "id", "text", minTokens = 5, paraMinDocs = 3))
    assert(ref === inMem)

    // kill after 2 of 4 stages
    val thrown = intercept[RuntimeException] {
      graft.ops.Curation.curateStaged(docs, "id", "text", resumeDir,
        minTokens = 5, paraMinDocs = 3, failAfterStage = 2)
    }
    assert(thrown.getMessage.contains("injected failure"))
    assert(graft.io.StagedJob.committed(resumeDir, "1_gate"))
    assert(graft.io.StagedJob.committed(resumeDir, "2_deboil"))
    assert(!graft.io.StagedJob.committed(resumeDir, "3_exact"))

    // resume must NOT rewrite committed stages: pin their markers' mtime
    val m1 = Files.getLastModifiedTime(
      graft.io.StagedJob.markerPath(resumeDir, "1_gate"))
    val m2 = Files.getLastModifiedTime(
      graft.io.StagedJob.markerPath(resumeDir, "2_deboil"))
    val resumed = canon(graft.ops.Curation.curateStaged(
      docs, "id", "text", resumeDir, minTokens = 5, paraMinDocs = 3))
    assert(resumed === ref)
    assert(Files.getLastModifiedTime(
      graft.io.StagedJob.markerPath(resumeDir, "1_gate")) === m1)
    assert(Files.getLastModifiedTime(
      graft.io.StagedJob.markerPath(resumeDir, "2_deboil")) === m2)
    // stage row accounting exposed via markers
    assert(graft.io.StagedJob.readRows(resumeDir, "4_neardup")
      .contains(resumed.size.toLong))
  }

  test("staged curation with span-scrub stage: resume matches in-memory") {
    import spark.implicits._
    val planted = "one two three four five six seven eight nine ten"
    val docs = (0L until 40L).map { i =>
      val span = if (i % 4 == 0) s" $planted" else ""
      (i, s"the document $i is about the topic ${i % 13} with words " +
        s"alpha$i beta gamma delta epsilon$span")
    }.toDF("id", "text")
    val dir = Files.createTempDirectory("graft_cur_scrub").toString
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("id", "lang", "n_tokens", "clean_text")
        .collect().map(_.toString).toSeq.sorted
    // kill after deboil: the optional 2b stage is among the resumed work
    intercept[RuntimeException] {
      graft.ops.Curation.curateStaged(docs, "id", "text", dir,
        minTokens = 5, paraMinDocs = 3, spanScrubN = 8,
        failAfterStage = 2)
    }
    assert(!graft.io.StagedJob.committed(dir, "2b_spanscrub8"))
    val resumed = canon(graft.ops.Curation.curateStaged(docs, "id",
      "text", dir, minTokens = 5, paraMinDocs = 3, spanScrubN = 8))
    assert(graft.io.StagedJob.committed(dir, "2b_spanscrub8"))
    val inMem = canon(graft.ops.Curation.curate(docs, "id", "text",
      minTokens = 5, paraMinDocs = 3, spanScrubN = 8))
    assert(resumed === inMem)
    assert(resumed.forall(!_.contains(planted)),
      "resumed staged output is scrubbed too")
    // the SA spelling of stage 2b: its own stage/suffix names (config
    // coded into the resume contract), staged == in-memory, and the
    // planted cross-doc span is scrubbed by it too
    val saDir = Files.createTempDirectory("graft_cur_sascrub").toString
    val sa = canon(graft.ops.Curation.curateStaged(docs, "id", "text",
      saDir, minTokens = 5, paraMinDocs = 3, spanScrubN = 8,
      spanScrubSa = true))
    assert(graft.io.StagedJob.committed(saDir, "2b_sascrub8"))
    assert(graft.io.StagedJob.committed(saDir, "3_exact_sa8"))
    val committed = new java.io.File(saDir).list().toSeq
      .map(_.stripPrefix("stage_"))
      .filter(graft.io.StagedJob.committed(saDir, _))
    assert(graft.ops.Curation.curateStages(spanScrubN = 8,
      spanScrubSa = true).run.sorted == committed.sorted)
    assert(sa === canon(graft.ops.Curation.curate(docs, "id", "text",
      minTokens = 5, paraMinDocs = 3, spanScrubN = 8,
      spanScrubSa = true)))
    assert(sa.forall(!_.contains(planted)))
  }

  test("staged curation: a stage committed by an older format is recomputed") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"the document $i has words alpha$i beta gamma " +
        "delta epsilon zeta eta theta"))
      .toDF("id", "text")
    val dir = Files.createTempDirectory("graft_cur_upgrade").toString
    // simulate a stage_1_gate committed by the pre-_paras pipeline:
    // same marker protocol, old column set (id, lang, _red)
    graft.io.StagedJob.stage(spark, dir, "1_gate") {
      import org.apache.spark.sql.functions._
      docs.select(col("id"), lit("en").as("lang"),
        col("text").as("_red"))
    }
    assert(graft.io.StagedJob.committed(dir, "1_gate"))
    // the current pipeline requires _paras: the stale commit must be
    // invalidated and recomputed, then the run completes end to end
    val out = graft.ops.Curation.curateStaged(docs, "id", "text", dir,
      minTokens = 5, paraMinDocs = 3)
    val expect = graft.ops.Curation.curate(docs, "id", "text",
      minTokens = 5, paraMinDocs = 3).count()
    assert(out.count() === expect && expect > 0)
    val gate = spark.read.parquet(s"$dir/stage_1_gate")
    assert(gate.columns.contains("_paras"))
  }
}
