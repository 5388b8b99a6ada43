package graft

import graft.gen.PagesGen
import graft.io.TableIO
import graft.SparkTestBase.jobsOf
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

    // the event log is also identical (modulo commit-time ts): a
    // resumed run adds exactly the killed run's missing buckets
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

    // an event's ts is its bucket's commit time, the one from the run
    // that committed the bucket, so two reads of the log are identical
    val events = TableIO.readEvents(spark, resumeDir)
    val finished = events.select("bucket", "ts").distinct().collect()
      .map(r => r.getInt(0) -> r.getTimestamp(1).getTime).toMap
    assert(finished === lineage.collect {
      case (b, l) if l.outputRows > 0 => b -> l.finishedMs
    })
    assert(events.collect().toSeq.map(_.toString).sorted ===
      TableIO.readEvents(spark, resumeDir).collect().toSeq.map(_.toString)
        .sorted)

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

  test("lineage (outputRows, contentHash) == per-bucket stats of the committed files") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pages = spark.createDataset((0L until 300L).map(PagesGen.pageFor(_, 7)))
    val out = Files.createTempDirectory("graft_lineage").toString
    assert(TableIO.runResumable(pages, out, buckets = 8, waveSize = 3) === 8)
    val files = TableIO.readCommitted(spark, out)
      .groupBy(col("bucket"))
      .agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("url"), col("row_text"))), lit(0L)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lineage = TableIO.readLineage(out)
    assert(lineage.size === 8)
    lineage.values.foreach { l =>
      assert(l.status === "COMMITTED")
      assert((l.outputRows, l.contentHash) ===
        files.getOrElse(l.bucket, (0L, 0L)), s"bucket ${l.bucket}")
    }
    assert(lineage.values.map(_.outputRows).sum > 0L)
  }

  test("one runResumable wave starts one Spark job and writes no _metrics") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_wave_in").toString
    spark.createDataset((0L until 200L).map(PagesGen.pageFor(_, 11)))
      .write.mode("overwrite").parquet(in)
    // the input's schema is read here, before the count starts
    val pages = spark.read.parquet(in).as[graft.model.Page]
    val out = Files.createTempDirectory("graft_wave_out").toString
    // one wave is its data write: pages are extracted and segmented
    // inside the scan's own tasks, and the event log is read as a view
    val jobs = jobsOf {
      assert(TableIO.runResumable(pages, out, buckets = 4, waveSize = 4) === 4)
    }
    assert(jobs <= 1, s"$jobs jobs in one wave")
    assert(TableIO.readLineage(out).values.map(_.outputRows).sum > 0L)
    assert(!Files.exists(java.nio.file.Paths.get(out, "_metrics")))
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
    // every committed stage's marker rows == its table's row count
    graft.ops.Curation.curateStages().run.foreach { s =>
      assert(graft.io.StagedJob.readRows(resumeDir, s)
        .contains(spark.read.parquet(s"$resumeDir/stage_$s").count()), s)
    }
  }

  test("staged curation over empty docs commits every stage with 0 rows") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String)].toDF("id", "text")
    val dir = Files.createTempDirectory("graft_cur_empty").toString
    val out = graft.ops.Curation.curateStaged(docs, "id", "text", dir,
      minTokens = 5, paraMinDocs = 3)
    assert(out.isEmpty)
    graft.ops.Curation.curateStages().run.foreach { s =>
      assert(graft.io.StagedJob.committed(dir, s), s)
      assert(graft.io.StagedJob.readRows(dir, s).contains(0L), s)
    }
  }

  test("commit records: lineage file and stage marker bytes are pinned") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def masked(p: java.nio.file.Path): String =
      Files.readString(p).replaceAll(
        "\"(startedMs|finishedMs|start_ms|end_ms)\":\\d+", "\"$1\":T")
    val pages = spark.createDataset((0L until 20L).map(PagesGen.pageFor(_, 42)))
    val out = Files.createTempDirectory("graft_pin").toString
    assert(TableIO.runResumable(pages, out, buckets = 1, waveSize = 1) === 1)
    assert(masked(java.nio.file.Paths.get(out, "_lineage", "bucket-0.json")) ===
      """{"bucket":0,"status":"COMMITTED","attempt":1,"inputRows":20,""" +
      """"outputRows":86,"contentHash":7894895428696758718,""" +
      """"startedMs":T,"finishedMs":T}""")
    val dir = Files.createTempDirectory("graft_pin_stage").toString
    graft.io.StagedJob.stage(spark, dir, "1_gate") {
      spark.range(0, 37, 1, 3).select(col("id"), lit("en").as("lang"))
    }
    assert(masked(graft.io.StagedJob.markerPath(dir, "1_gate")) ===
      """{"stage":"1_gate","rows":37,"start_ms":T,"end_ms":T}""")
    assert(graft.io.StagedJob.readRows(dir, "1_gate").contains(37L))
  }

  test("a fresh stage starts no more Spark jobs than its data write alone") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (0L until 200L).map(i => (i, s"doc $i")).toDF("id", "text")
    def frame = docs.groupBy(col("id") % 13).agg(count(lit(1)).as("n"))
    val plainDir = Files.createTempDirectory("graft_stage_plain").toString
    val plain = jobsOf(frame.write.mode("overwrite").parquet(plainDir))
    val dir = Files.createTempDirectory("graft_stage_budget").toString
    var staged = Option.empty[org.apache.spark.sql.DataFrame]
    val jobs = jobsOf {
      staged = Some(graft.io.StagedJob.stage(spark, dir, "x")(frame))
    }
    assert(jobs <= plain, s"stage: $jobs jobs, its write alone: $plain")
    assert(graft.io.StagedJob.readRows(dir, "x").contains(13L))
    assert(staged.get.count() === 13L)
    // the returned frame reads the committed files as they are
    assert(staged.get.schema === spark.read.parquet(s"$dir/stage_x").schema)
  }

  test("a reused stage starts at most one Spark job and does not evaluate f") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stage_reuse").toString
    graft.io.StagedJob.stage(spark, dir, "x")(
      (0L until 50L).map(i => (i, "en")).toDF("id", "lang"))
    var evaluated = false
    var reused = Option.empty[org.apache.spark.sql.DataFrame]
    val jobs = jobsOf {
      reused = Some(graft.io.StagedJob.stage(spark, dir, "x",
          requiredCols = Seq("id", "lang")) {
        evaluated = true
        spark.emptyDataFrame
      })
    }
    assert(!evaluated, "a committed stage must not evaluate f")
    assert(jobs <= 1, s"$jobs jobs to reuse a committed stage")
    assert(reused.get.columns.toSeq === Seq("id", "lang"))
    assert(reused.get.count() === 50L)
  }

  test("Dedup.canonicalize over a pairs-only graph starts at most 13 Spark jobs") {
    import spark.implicits._
    // disjoint pairs plus singletons: one contraction round settles it
    val nodes = (0L until 40L).toDF("id")
    val pairs = (0L until 20L by 2L).map(i => (i, i + 1)).toDF("a", "b")
      .localCheckpoint()
    var labels = Option.empty[org.apache.spark.sql.DataFrame]
    // the edge checkpoint, its emptiness probe, one round's checkpoint
    // (AQE runs each of its shuffle map stages as a job) and the fused
    // convergence probe
    val jobs = jobsOf {
      labels = Some(graft.ops.Dedup.canonicalize(nodes, "id", pairs))
    }
    assert(jobs <= 13, s"$jobs jobs in canonicalize")
    assert(labels.get.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap === (0L until 40L).map(i =>
        i -> (if (i < 20L) i - i % 2L else i)).toMap)
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

  test("CurateApp pages: a committed extraction stage is the resume " +
      "point, so a resumed run extracts no page again") {
    import spark.implicits._
    val pages = spark.createDataset((0L until 160L).map(PagesGen.pageFor(_, 42)))
    // any page the resumed run evaluates fails it
    val poisoned = pages.map { p =>
      if (p != null) throw new IllegalStateException(s"${p.url} re-extracted")
      p
    }
    def curated(dir: String)(in: => org.apache.spark.sql.Dataset[graft.model.Page]) =
      graft.ops.Curation.curateStaged(CurateApp.extractedTexts(spark, dir)(in),
          "doc_id", "text", dir, minTokens = 5, paraMinDocs = 3)
        .select("doc_id", "lang", "n_tokens", "clean_text")
        .collect().map(_.toString).toSeq.sorted
    val cleanDir = Files.createTempDirectory("graft_x_clean").toString
    val ref = curated(cleanDir)(pages)
    assert(ref.nonEmpty)

    // the killed run: the extraction stage commits, then the run stops
    // before the gate
    val resumeDir = Files.createTempDirectory("graft_x_resume").toString
    CurateApp.extractedTexts(spark, resumeDir)(pages)
    assert(graft.io.StagedJob.readRows(resumeDir, CurateApp.ExtractStage)
      .contains(160L))
    assert(!graft.io.StagedJob.committed(resumeDir, "1_gate"))
    assert(intercept[Exception](poisoned.count()).getMessage
      .contains("re-extracted"))

    // resumed over pages whose evaluation throws: the same curated rows
    assert(curated(resumeDir)(poisoned) === ref)
  }
}
