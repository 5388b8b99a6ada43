package graft

import graft.gen.PagesGen
import graft.io.TableIO
import graft.model.Page
import graft.pipeline.ExtractionPipeline
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.Ev
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, encode, md5}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("foreachBatch extraction: streaming result == batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pagesSeq = (0L until 120L).map(PagesGen.pageFor(_, 42))
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString

    val stream = MemoryStream[graft.model.Page]
    val q = StreamingPipeline
      .extractStream(stream.toDF(), out, ckpt, partitions = 4)
      .start()
    // three micro-batches
    stream.addData(pagesSeq.slice(0, 40)); q.processAllAvailable()
    stream.addData(pagesSeq.slice(40, 80)); q.processAllAvailable()
    stream.addData(pagesSeq.slice(80, 120)); q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(out)
      .select("url", "row_text", "txn_type").collect()
      .map(_.toString).sorted
    val batch = graft.pipeline.ExtractionPipeline
      .records(spark.createDataset(pagesSeq), partitions = 4)
      .select("url", "row_text", "txn_type").collect()
      .map(_.toString).sorted
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("foreachBatch extraction is exactly-once: a replayed batch is " +
      "skipped, a batch without its commit record is redone") {
    import spark.implicits._
    val pages = (0L until 60L).map(PagesGen.pageFor(_, 7))
    val watch = Files.createTempDirectory("graft_xo_watch")
    val out = Files.createTempDirectory("graft_xo_out").toString
    val ckpt = Files.createTempDirectory("graft_xo_ckpt")
    val stage = Files.createTempDirectory("graft_xo_stage")
    // three parquet files, oldest first: one micro-batch each
    pages.grouped(20).zipWithIndex.foreach { case (slice, i) =>
      val staged = stage.resolve(s"s$i").toString
      spark.createDataset(slice).coalesce(1).write.parquet(staged)
      val part = Files.list(Paths.get(staged)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val f = Files.move(part, watch.resolve(s"p$i.parquet"))
      Files.setLastModifiedTime(f, FileTime.fromMillis(1000000L * (i + 1)))
    }
    val src = spark.readStream.schema(Encoders.product[Page].schema)
      .option("maxFilesPerTrigger", 1).parquet(watch.toString)
    def run(): Unit = {
      val q = StreamingPipeline.extractStream(src, out, ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def lineage = TableIO.readLineage(out)
    def stats = lineage.map { case (b, l) =>
      b -> (l.inputRows, l.outputRows, l.contentHash) }
    def eventTsMatchLineage(): Unit = {
      val ts = TableIO.readEvents(spark, out).select("bucket", "ts")
        .distinct().collect()
        .map(r => r.getInt(0) -> r.getTimestamp(1).getTime).toMap
      assert(ts === lineage.collect {
        case (b, l) if l.outputRows > 0 => b -> l.finishedMs })
    }

    run()
    val want = canon(TableIO.readCommitted(spark, out))
    val first = lineage
    val wantStats = stats
    val batchRows = ExtractionPipeline.records(spark.createDataset(pages))
      .count()
    assert(wantStats.keySet === Set(0, 1, 2))
    assert(wantStats.values.map(_._1).sum === 60L)
    assert(want.size.toLong === batchRows && batchRows > 0)
    eventTsMatchLineage()

    def crash(dropRecord: Boolean): Unit = {
      val commit = ckpt.resolve("commits").resolve("2")
      Files.delete(commit)
      Files.deleteIfExists(ckpt.resolve("commits").resolve(".2.crc"))
      if (dropRecord)
        Files.delete(Paths.get(out, "_lineage", "bucket-2.json"))
      val before = lineage
      run()
      // the restart re-ran batch 2: its offsets commit is back
      assert(Files.exists(commit))
      assert(canon(TableIO.readCommitted(spark, out)) === want)
      assert(spark.read.parquet(out).count() === batchRows)
      assert(stats === wantStats)
      if (!dropRecord) assert(lineage === before) // skipped, not redone
      else assert(lineage(2).startedMs >= first(2).finishedMs) // redone
      eventTsMatchLineage()
    }
    // (a) the sink wrote, the batch commit did not happen
    crash(dropRecord = false)
    // (b) the batch's commit record is gone too: the write is redone
    crash(dropRecord = true)
  }

  test("C4 cleaning on a stream == batch (stateless per-row gate)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 60L).map { i =>
      val lorem = if (i % 7 == 0) "\nlorem ipsum dolor sit amet." else ""
      (i, ("Sentence number " + i + " is long enough to keep.\n") * 5 +
        "short\njavascript snippet line here today." + lorem)
    }
    val stream = MemoryStream[(Long, String)]
    val cleaned = graft.ops.Curation.c4Clean(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = cleaned.writeStream.format("memory")
      .queryName("c4_stream_out").outputMode("append").start()
    stream.addData(docs.slice(0, 30)); q.processAllAvailable()
    stream.addData(docs.slice(30, 60)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("c4_stream_out").collect()
      .map(_.toString).sorted
    val batch = graft.ops.Curation.c4Clean(
      docs.toDF("doc_id", "text"), "doc_id", "text").collect()
      .map(_.toString).sorted
    assert(streamed.length === 60 && streamed.toSeq === batch.toSeq)
  }

  test("JSON-LD + hreflang extraction on a stream == batch " +
      "(stateless per-row projections)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pages = (0L until 40L).map { i =>
      val ld = "<script type=\"application/ld+json\">{\"@type\":" +
        "\"Article\",\"headline\":\"H" + i + "\"}</script>"
      val hl = "<link rel=\"alternate\" hreflang=\"de\" href=\"/de/p" +
        (i / 2) + ".html\">"
      (s"http://h$i.com/en/x.html", s"<html><head>$ld$hl</head></html>")
    }
    val stream = MemoryStream[(String, String)]
    val in = stream.toDF().toDF("url", "html")
    val proj = graft.extract.MetaExtractor.jsonLd(in, "url", "html")
      .join(graft.extract.MetaExtractor.hreflangLinks(in, "url", "html")
        .select(col("url"), col("href_abs")), Seq("url"))
    val q = proj.writeStream.format("memory")
      .queryName("ld_stream_out").outputMode("append").start()
    stream.addData(pages.slice(0, 20)); q.processAllAvailable()
    stream.addData(pages.slice(20, 40)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ld_stream_out").collect()
      .map(_.toString).sorted
    val bIn = pages.toDF("url", "html")
    val batch = graft.extract.MetaExtractor.jsonLd(bIn, "url", "html")
      .join(graft.extract.MetaExtractor.hreflangLinks(bIn, "url", "html")
        .select(col("url"), col("href_abs")), Seq("url"))
      .collect().map(_.toString).sorted
    assert(streamed.length === 40 && streamed.toSeq === batch.toSeq)
  }

  test("cdc chunking + readability on a stream == batch (stateless " +
      "per-row programs — the live storage-dedup / quality-gate arms)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 30L).map { i =>
      (i, (1 to 40).map(j => s"w${(i * 7 + j * 3) % 19}t$j")
        .mkString(" ") +
        (if (i % 3 == 0) ". second sentence here" else ""))
    }
    def chunks(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Curation.cdcChunks(df, "id", "text")
    def reads(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TextAnalysis.readability(df, "id", "text")
    val s1 = MemoryStream[(Long, String)]
    val q1 = chunks(s1.toDF().toDF("id", "text"))
      .writeStream.format("memory").queryName("cdc_stream_out")
      .outputMode("append").start()
    s1.addData(rows.slice(0, 15)); q1.processAllAvailable()
    s1.addData(rows.slice(15, 30)); q1.processAllAvailable()
    q1.stop()
    assert(spark.table("cdc_stream_out").collect()
      .map(_.toString).sorted.toSeq ===
      chunks(rows.toDF("id", "text")).collect()
        .map(_.toString).sorted.toSeq)
    val s2 = MemoryStream[(Long, String)]
    val q2 = reads(s2.toDF().toDF("id", "text"))
      .writeStream.format("memory").queryName("read_stream_out")
      .outputMode("append").start()
    s2.addData(rows); q2.processAllAvailable(); q2.stop()
    assert(spark.table("read_stream_out").collect()
      .map(_.toString).sorted.toSeq ===
      reads(rows.toDF("id", "text")).collect()
        .map(_.toString).sorted.toSeq)
  }

  test("urlFeatures + NFC normalization on a stream == batch " +
      "(stateless per-row projections)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 40L).map { i =>
      val url =
        if (i % 2 == 0) s"http://h$i.com/a/b/$i.html?x=1&utm_source=f"
        else s"https://H$i.COM/p$i"
      // alternating composed/decomposed text — NFC must collapse both
      val text = if (i % 2 == 0) "caf\u00e9 " + i else "cafe\u0301 " + i
      (url, text)
    }
    val stream = MemoryStream[(String, String)]
    val in = stream.toDF().toDF("url", "text")
    def proj(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Curation.urlFeatures(df, "url")
        .withColumn("nfc_md5",
          md5(graft.functions.UnicodeNormalize(col("text"))))
        .withColumn("surt_key",
          graft.ops.Curation.surtKey(col("url")))
        .drop("text")
    val q = proj(in).writeStream.format("memory")
      .queryName("urlf_stream_out").outputMode("append").start()
    stream.addData(rows.slice(0, 20)); q.processAllAvailable()
    stream.addData(rows.slice(20, 40)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("urlf_stream_out").collect()
      .map(_.toString).sorted
    val batch = proj(rows.toDF("url", "text")).collect()
      .map(_.toString).sorted
    assert(streamed.length === 40 && streamed.toSeq === batch.toSeq)
  }

  test("watermarked windowed aggregation over an event stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = stream.toDF().toDF("ts", "event_type", "value")
    val q = StreamingPipeline.windowedCounts(df)
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0),
      (ts(7), "view", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close the earlier windows
    stream.addData((ts(40), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out").collect()
    assert(rows.exists(r => r.getString(2) == "click" && r.getLong(3) == 2L))
    assert(rows.exists(r => r.getString(2) == "view" && r.getLong(3) == 1L))
  }

  test("mapGroupsWithState sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = StreamingPipeline.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Update).start()
    stream.addData(Ev(1, 1000, 5.0), Ev(1, 2000, 7.0), Ev(2, 1500, 1.0))
    q.processAllAvailable()
    stream.addData(Ev(1, 3000, 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // user 1 accumulated 3 events / 15.0 across batches
    assert(rows.contains((1L, 3L, 15.0)))
    assert(rows.contains((2L, 1L, 1.0)))
  }

  test("streaming exact dedup drops repeated content within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingPipeline.dedupStream(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData((ts(1), 1L, "alpha"), (ts(1), 2L, "beta"),
      (ts(2), 3L, "alpha")) // same content as doc 1 → dropped
    q.processAllAvailable()
    stream.addData((ts(3), 4L, "alpha"), (ts(3), 5L, "gamma"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // docs 3 and 4 are duplicates of doc 1's content inside the
    // watermark window; 1, 2, 5 survive
    assert(kept === Seq(1L, 2L, 5L))
  }

  test("stream-static decontamination flags planted benchmark overlap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val benchPhrase = "one two three four five six seven eight"
    val bench = Seq(s"item about $benchPhrase indeed").toDF("btext")
    val clean = (1 to 12).map(i => s"w$i").mkString(" ")
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingPipeline.decontamStream(df, bench, "doc_id", "text",
        "btext")
      .writeStream.format("memory").queryName("decontam_out")
      .outputMode(OutputMode.Update).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData(
      (ts(1), 1L, clean),
      (ts(1), 2L, s"prefix text then $benchPhrase and more"),
      (ts(2), 3L, ""))
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("decontam_out")
      .select("doc_id", "n_hit").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(1L) === 0L, "clean doc has no benchmark grams")
    assert(hits(2L) >= 1L, "planted 8-gram overlap is flagged")
    assert(hits(3L) === 0L, "empty doc passes with zero hits")
    // streaming verdicts match the batch operator on the same data
    val batch = graft.ops.Curation.contaminationStats(
      Seq((1L, clean), (2L, s"prefix text then $benchPhrase and more"),
        (3L, "")).toDF("doc_id", "text"),
      bench, "doc_id", "text", "btext", n = 8)
      .select("doc_id", "n_hit").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits === batch)
  }

  test("streaming incremental dedup vs static index == batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val body = "the archived body alpha bravo charlie delta echo " +
      "foxtrot golf hotel india juliet kilo lima mike november"
    val index = Seq(
      (1L, body),
      (2L, "some other indexed document about entirely different things")
    ).toDF("id", "text")
    // the deploy shape: index signatures persisted once, streamed-against
    val sigs = graft.ops.Dedup.signatureTable(index, "id", "text")
      .localCheckpoint()
    val freshRows = Seq(
      (100L, body),
      (101L, body + " with a small extra trailing clause"),
      (102L, "a genuinely novel document nothing like the index at all"))
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "id", "text")
    val q = StreamingPipeline.incrDedupStream(df, sigs, "id", "text")
      .writeStream.format("memory").queryName("incr_dedup_out")
      .outputMode(OutputMode.Update).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData(freshRows.map { case (i, t) => (ts(1), i, t) }: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("incr_dedup_out")
      .select("id", "verdict", "dup_of").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val batch = graft.ops.Dedup.dedupAgainstIndexSigs(
      freshRows.toDF("id", "text"), "id", "text", sigs)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got === batch)
    assert(got === Seq((100L, "exact", 1L), (101L, "near", 1L),
      (102L, "new", -1L)))
  }

  test("semantic dedup stream: frozen centroids, survivor state == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the OpsSpec planted corpus: chain-free groups, so the online
    // (survivor-state) verdicts must equal the batch keep-lowest-id
    // verdicts when docs arrive in id order
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.01f)),
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.02f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.03f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.01f)),
      (7L, Seq(0.0f, 1.0f, 0.0f, 0.02f)),
      (12L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (13L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)))
    val statics = rows.toDF("vec_id", "embedding")
    val cents = graft.ops.SimSearch.ivfCentroids(statics, "vec_id",
      "embedding", 4)
    val stream = MemoryStream[(java.sql.Timestamp, Long, Seq[Float])]
    val df = stream.toDF().toDF("ts", "vec_id", "embedding")
    val q = StreamingPipeline.semanticDedupStream(df, cents, "vec_id",
      "embedding", threshold = 0.9)
      .writeStream.format("memory").queryName("semdedup_out")
      .outputMode(OutputMode.Append).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData(rows.map { case (i, v) => (ts(1), i, v) }: _*)
    q.processAllAvailable()
    // a LATER micro-batch must still see batch-1's survivors (keyed
    // state carries over): a new +x arrival dups against survivor 0
    stream.addData((ts(2), 20L, Seq(1.0f, 0.0f, 0.0f, 0.015f)))
    q.processAllAvailable()
    q.stop()
    def verdicts(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    val got = verdicts(spark.table("semdedup_out")
      .select("doc_id", "kept", "dup_of"))
    val batch = verdicts(graft.ops.Dedup.semanticDedup(statics, "vec_id",
      "embedding", nCells = 4, threshold = 0.9)
      .select("id", "kept", "dup_of"))
    assert((got - 20L) === batch)
    assert(got(1L) === ((false, 0L)) && got(7L) === ((false, 3L)))
    assert(got(20L) === ((false, 0L)), "cross-batch survivor state")
  }

  test("fluency gate stream: frozen bigram model scores the feed == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = (0L until 8L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val (bigrams, heads) =
      graft.ops.Curation.bigramTables(corpus, "text")
    val (bg, hd) = (bigrams.localCheckpoint(), heads.localCheckpoint())
    val feed = Seq(
      (300L, "the quick brown fox"),              // all seen transitions
      (301L, "purple seven quantum beneath"),     // all unseen
      (302L, "solo"))                             // no bigrams
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "id", "text")
    val q = StreamingPipeline.fluencyGateStream(df, bg, hd, "id", "text")
      .writeStream.format("memory").queryName("fluency_out")
      .outputMode(OutputMode.Update).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData(feed.map { case (i, t) => (ts(1), i, t) }: _*)
    q.processAllAvailable()
    q.stop()
    def tup(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getLong(3))
    val got = spark.table("fluency_out")
      .select("id", "n_bigrams", "rare_bigram_ppm", "fluency_ppm")
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> tup(r)).toMap
    val batch = graft.ops.Curation.scoreBigramFluency(
      feed.toDF("id", "text"), "id", "text", bg, hd)
      .select("id", "n_bigrams", "rare_bigram_ppm", "fluency_ppm")
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> tup(r)).toMap
    assert(got === batch)
    assert(got(301L)._2 === 1000000L, "unseen transitions are 100% rare")
    assert(got(300L)._3 > got(301L)._3)
    assert(got(302L) === ((0L, 0L, 0L)))
    // the corpus-scale path (shuffled stream-static joins instead of a
    // driver-built broadcast) must score identically
    val stream2 = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q2 = StreamingPipeline.fluencyGateStream(
      stream2.toDF().toDF("ts", "id", "text"), bg, hd, "id", "text",
      broadcastModel = false)
      .writeStream.format("memory").queryName("fluency_out_shuf")
      .outputMode(OutputMode.Update).start()
    stream2.addData(feed.map { case (i, t) => (ts(1), i, t) }: _*)
    q2.processAllAvailable()
    q2.stop()
    val gotShuf = spark.table("fluency_out_shuf")
      .select("id", "n_bigrams", "rare_bigram_ppm", "fluency_ppm")
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> tup(r)).toMap
    assert(gotShuf === got)
  }

  test("classifier gate stream: frozen weights score the feed == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train offline in batch (the deploy pattern), gate the stream
    val labeled = ((0 until 6).map(i =>
      (i.toLong, s"spark scala engine query plan p$i", true)) ++
      (6 until 12).map(i =>
        (i.toLong, s"cuisine recette fromage baguette vin n$i", false)))
      .toDF("id", "text", "label")
    val w = graft.ops.Curation.tokenClassWeights(labeled, "id", "text",
      "label", buckets = 1 << 12)
    val feed = Seq(
      (100L, "spark query engine plan"),
      (101L, "recette fromage baguette"),
      (102L, ""))
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingPipeline.classifierGateStream(df, w, "doc_id",
        "text", buckets = 1 << 12)
      .writeStream.format("memory").queryName("clf_out")
      .outputMode(OutputMode.Update).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData(feed.map { case (id, t) => (ts(1), id, t) }: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("clf_out")
      .select("doc_id", "n_tokens_scored", "score_sum", "pred").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(100L)._3 === true && got(101L)._3 === false)
    val batch = graft.ops.Curation.scoreByTokenWeights(
        feed.toDF("doc_id", "text"), w, "doc_id", "text",
        buckets = 1 << 12)
      .select("doc_id", "n_tokens_scored", "score_sum", "pred").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got === batch)
  }

  test("stateful streaming near-dup: LSH bucket state flags later arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog " +
      "again and again and once more for good measure"
    def doc(tail: String) = s"$base $tail"
    def distinct(i: Int) = (1 to 18).map(j => s"u${i}x$j").mkString(" ")
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingPipeline.nearDupCandidatesStream(df, "doc_id", "text")
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData((ts(1), 1L, doc("alpha")), (ts(1), 2L, doc("beta")),
      (ts(1), 3L, distinct(3)))
    q.processAllAvailable()
    // a later micro-batch still sees doc 1's signatures in state
    stream.addData((ts(2), 4L, doc("gamma")), (ts(2), 5L, distinct(5)))
    q.processAllAvailable()
    q.stop()
    import org.apache.spark.sql.functions.{col, min}
    val verdicts = spark.table("neardup_out")
      .groupBy("doc_id")
      .agg(min(col("dup_of")).as("dup_of"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    assert(verdicts(1L).isEmpty, "first arrival is the survivor")
    assert(verdicts(2L).contains(1L), "same-batch near-dup flagged")
    assert(verdicts(3L).isEmpty)
    assert(verdicts(4L).contains(1L), "cross-batch near-dup flagged via state")
    assert(verdicts(5L).isEmpty)
  }

  test("curation gate stream: gate + redact + exact-dedup on a live feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingPipeline
      .curationGateStream(df, "doc_id", "text", minTokens = 5)
      .writeStream.format("memory").queryName("cur_gate_out")
      .outputMode(OutputMode.Append).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val good = "the quick brown fox jumps over the lazy dog today"
    val spammy = Seq.fill(6)("the offer is here").mkString("\n")
    stream.addData(
      (ts(1), 1L, s"$good mail me at a@b.org"),
      (ts(1), 2L, spammy), // dup-line ppm over ceiling → gated out
      (ts(1), 3L, "xqz qrp zzz vvv qqq www eee rrr"), // no stopwords → und
      (ts(2), 4L, s"$good mail me at a@b.org")) // exact dup of 1 (post-redact)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cur_gate_out")
      .select("doc_id", "lang", "red_text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(rows.map(_._1) === Seq(1L))
    assert(rows.head._2 === "en")
    assert(rows.head._3 === s"$good mail me at <EMAIL>")
  }

  test("curation gate stream == batch gateStage survivors, redacted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // no exact duplicates (before or after redaction), so the stream's
    // dedup drops nothing and every batch survivor must appear
    val good = "the quick brown fox jumps over the lazy dog today"
    val feed = Seq(
      (1L, s"$good mail me at a@b.org"),
      (2L, Seq.fill(6)("the offer is here").mkString("\n")), // dup lines
      (3L, "xqz qrp zzz vvv qqq www eee rrr"), // no stopwords → und
      (4L, "der hund ist nicht in dem haus und die katze auch nicht"),
      (5L, "the dog is"), // under the token floor
      (6L, s"call 555-123-4567 and then $good"),
      (7L, ""),
      (8L, s"$good\nand the second line of it is not the same"))
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingPipeline
      .curationGateStream(df, "doc_id", "text", minTokens = 5)
      .writeStream.format("memory").queryName("cur_gate_eq_out")
      .outputMode(OutputMode.Append).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val (first, second) = feed.splitAt(4)
    stream.addData(first.map { case (i, t) => (ts(1), i, t) }: _*)
    q.processAllAvailable()
    stream.addData(second.map { case (i, t) => (ts(2), i, t) }: _*)
    q.processAllAvailable()
    q.stop()
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
    val got = rows(spark.table("cur_gate_eq_out")
      .select("doc_id", "lang", "red_text"))
    val docs = feed.toDF("doc_id", "text")
    val batch = rows(graft.ops.Curation
      .gateStage(docs, "doc_id", "text", 5, 300000L)
      .join(docs, "doc_id")
      .select(col("doc_id"), col("lang"),
        graft.ops.Curation.piiRedact(col("text")).as("red_text")))
    assert(got === batch)
    assert(got.map(_._1) === Seq(1L, 4L, 6L, 8L))
  }

  test("WARC ingestion stream: archive files arriving in waves parse " +
    "== batch readWarc") {
    import spark.implicits._
    import graft.io.Warc
    val watched = Files.createTempDirectory("warc_watch").toString
    val ckpt = Files.createTempDirectory("warc_ckpt").toString
    def wave(ids: Range, stage: String): Unit = {
      val st = Files.createTempDirectory(s"warc_stage_$stage")
      Warc.writeWarc(
        ids.map(i => (s"http://h$i.com/p", s"payload $i\nline two"))
          .toDF("url", "payload").coalesce(1),
        "url", "payload", st.toString)
      java.nio.file.Files.list(st).forEach { p =>
        if (p.getFileName.toString.startsWith("part-"))
          java.nio.file.Files.copy(p,
            java.nio.file.Paths.get(watched, s"${stage}_${p.getFileName}"))
      }
    }
    wave(0 until 30, "w1")
    val q = Warc.readWarcStream(spark, watched)
      .writeStream.format("memory").queryName("warc_stream_out")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    wave(30 until 50, "w2")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("warc_stream_out")
      .select("url", "content_length", "payload")
      .collect().map(_.toString).sorted.toSeq
    val batch = Warc.readWarc(spark, watched)
      .select("url", "content_length", "payload")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.length === 50)
    assert(streamed === batch)
  }

  test("ingest chain over a WARC stream: charset + metadata + " +
    "admission verdicts == batch") {
    import spark.implicits._
    import graft.io.Warc
    val watched = Files.createTempDirectory("ing_watch").toString
    val ckpt = Files.createTempDirectory("ing_ckpt").toString
    def page(i: Int): String =
      if (i % 4 == 0)
        "<html><head><title>404 Not Found</title></head>" +
          "<body>page not found</body></html>"
      else if (i % 4 == 1)
        s"<html><head><title>Doc $i</title>" +
          "<meta name='robots' content='noindex'></head>" +
          s"<body>${Seq.fill(120)("tok").mkString(" ")}</body></html>"
      else
        s"<html><head><title>Doc $i</title>" +
          s"<link rel='canonical' href='http://c.com/$i'></head>" +
          s"<body>${Seq.fill(120)("tok").mkString(" ")}</body></html>"
    val st = Files.createTempDirectory("ing_stage")
    Warc.writeWarc(
      (0 until 40).map(i => (s"http://h$i.com/p", page(i)))
        .toDF("url", "payload").coalesce(1),
      "url", "payload", st.toString)
    java.nio.file.Files.list(st).forEach { p =>
      if (p.getFileName.toString.startsWith("part-"))
        java.nio.file.Files.copy(p,
          java.nio.file.Paths.get(watched, p.getFileName.toString))
    }
    def chain(df: org.apache.spark.sql.DataFrame) =
      StreamingPipeline.ingestStream(
        df.select(col("url"), encode(col("payload"), "UTF-8")
          .as("bin")), "url", "bin")
    val q = chain(Warc.readWarcStream(spark, watched))
      .writeStream.format("memory").queryName("ingest_stream_out")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ingest_stream_out")
      .collect().map(_.toString).sorted.toSeq
    val batch = chain(Warc.readWarc(spark, watched))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.length === 40)
    assert(streamed === batch)
    // verdicts: soft-404s (i%4==0) and noindex (i%4==1) rejected
    val admitted = spark.table("ingest_stream_out")
      .filter(col("admitted")).select("url").as[String]
      .collect().toSet
    assert(admitted === (0 until 40)
      .filter(i => i % 4 >= 2).map(i => s"http://h$i.com/p").toSet)
  }

  test("ingest stream homoglyph gate: spoofed hosts rejected at the " +
      "door, exact trusted spelling and clean hosts admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Array[Byte])]
    val body = "<html><head><title>ok page</title></head>" +
      "<body>plenty of ordinary body content here so the soft " +
      "error gate stays quiet for this page</body></html>"
    val q = StreamingPipeline.ingestStream(
        stream.toDF().toDF("url", "payload"),
        trustedHosts = Seq("paypal.com", "example.com"))
      .writeStream.format("memory").queryName("spoof_gate_out")
      .outputMode(OutputMode.Append).start()
    stream.addData(
      ("http://pаypal.com/login", body.getBytes("UTF-8")),  // Cyr а
      ("http://paypal.com/login", body.getBytes("UTF-8")),  // exact
      ("http://other.org/x", body.getBytes("UTF-8")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("spoof_gate_out")
      .select("url", "spoofed", "admitted").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2)))
      .toMap
    assert(rows("http://pаypal.com/login") === ((true, false)))
    assert(rows("http://paypal.com/login") === ((false, true)))
    assert(rows("http://other.org/x") === ((false, true)))
  }

  test("streaming HLL registers: live distinct-count monitor with " +
      "2^p rows of state == batch sketch, estimate included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    // hllRegisters is a plain grouped max-agg, so it runs UNCHANGED on
    // a stream: Spark keeps one state row per register (<= 2^p rows
    // total, forever) — the ingest-side cardinality monitor that never
    // needs a distinct() over what streamed past
    val q = graft.ops.Sketch.hllRegisters(stream.toDF().toDF("k"), "k", 8)
      .writeStream.format("memory").queryName("hll_stream_out")
      .outputMode(OutputMode.Complete).start()
    stream.addData((0 until 500).map(i => s"key:$i"): _*)
    q.processAllAvailable()
    // second batch overlaps the first — duplicates must not move state
    stream.addData((300 until 900).map(i => s"key:$i"): _*)
    q.processAllAvailable()
    q.stop()
    val live = spark.table("hll_stream_out")
    val batch = graft.ops.Sketch.hllRegisters(
      spark.range(900).select(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("key:"), col("id")).as("k")),
      "k", 8)
    assert(live.orderBy("reg").collect().toSeq ===
      batch.orderBy("reg").collect().toSeq)
    val est = graft.ops.Sketch.hllEstimate(live, 8)
      .head().getAs[Double]("est")
    assert(math.abs(est - 900.0) / 900.0 < 0.2, s"live HLL est $est")
  }

  test("streaming CMS: the count-min build runs unchanged as a live " +
      "frequency monitor; final cells == batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    // cmsTable = explode-to-cells + grouped count: streaming-legal
    // as-is, state bounded by d*w cells forever (Complete mode)
    val q = graft.ops.Sketch.cmsTable(stream.toDF().toDF("k"), "k",
        d = 4, w = 64)
      .writeStream.format("memory").queryName("cms_stream_out")
      .outputMode(OutputMode.Complete).start()
    stream.addData((0 until 300).map(i => s"t${i % 40}"): _*)
    q.processAllAvailable()
    stream.addData((0 until 200).map(i => s"t${i % 25}"): _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.ops.Sketch.cmsTable(
      ((0 until 300).map(i => s"t${i % 40}") ++
        (0 until 200).map(i => s"t${i % 25}")).toDF("k"), "k", 4, 64)
    assert(spark.table("cms_stream_out").orderBy("r", "c")
      .collect().toSeq === batch.orderBy("r", "c").collect().toSeq)
  }
}
