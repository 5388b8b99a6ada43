package graft

import graft.ops.{Curation, Retrieval}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for the SCALE-CRITICAL plan properties the
  * operator scaladocs promise — that document text stays out of every
  * shuffle in the thin-row operators, and that histogram-sized sides
  * broadcast. These are the properties that decide whether a job
  * survives 100 TB; asserting them here keeps a future refactor from
  * silently reintroducing a text shuffle.
  *
  * AQE is disabled per-assertion so the inspected plan contains the
  * planner's ShuffleExchange nodes (AQE only ever downgrades a shuffle
  * to a broadcast, i.e. strictly fewer text movements than asserted).
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def withPlainPlan[A](f: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Names of attributes carried by each shuffle exchange in the plan. */
  private def shuffledNames(df: DataFrame): Seq[Set[String]] = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    plan.collect { case e: ShuffleExchangeExec =>
      e.output.map(_.name.toLowerCase).toSet
    }
  }

  private def docs = {
    import spark.implicits._
    (0L until 64L)
      .map(i => (i, s"w$i " * ((i % 19).toInt + 1),
        if (i % 4 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
  }

  test("packSequences: no shuffle carries the text column") {
    withPlainPlan {
      val out = Curation.packSequences(docs, "doc_id", "text", seqLen = 16,
        shards = 4)
      val shuffles = shuffledNames(out)
      assert(shuffles.nonEmpty, "expected the per-shard window shuffle")
      shuffles.foreach(s => assert(!s.contains("text"), s"text shuffled: $s"))
    }
  }

  test("tokenBudgetAssign: no shuffle carries the text column") {
    withPlainPlan {
      val withToks = docs.withColumn("n_toks",
        graft.ops.TextAnalysis.tokenCount(col("text")))
      val out = Curation.tokenBudgetAssign(withToks, "doc_id", "lang",
        "n_toks", Map("en" -> 100L), defaultBudget = 50L)
      val shuffles = shuffledNames(out)
      assert(shuffles.nonEmpty)
      shuffles.foreach(s => assert(!s.contains("text"), s"text shuffled: $s"))
    }
  }

  test("contaminationStats (broadcast): corpus text never shuffles") {
    import spark.implicits._
    withPlainPlan {
      val bench = Seq("a b c d e f g h i").toDF("btext")
      val out = Curation.contaminationStats(docs, bench, "doc_id", "text",
        "btext", n = 8, broadcastBench = true)
      shuffledNames(out).foreach { s =>
        assert(!s.contains("text") && !s.contains("btext"),
          s"text shuffled: $s")
      }
    }
  }

  test("dropDuplicatedSpans: no shuffle carries text or token arrays") {
    withPlainPlan {
      val out = Curation.dropDuplicatedSpans(docs, "doc_id", "text",
        n = 4, minDocs = 2)
      val shuffles = shuffledNames(out)
      assert(shuffles.nonEmpty, "expected the gram-hash count shuffles")
      shuffles.foreach { s =>
        assert(!s.contains("text") && !s.exists(_.contains("stoks")),
          s"text shuffled: $s")
      }
    }
  }

  test("dropDuplicatedSpansConfirmed: no shuffle carries text or token " +
      "arrays (gram strings shuffle only as the thin candidate column)") {
    withPlainPlan {
      val out = Curation.dropDuplicatedSpansConfirmed(docs, "doc_id",
        "text", n = 4, minDocs = 2)
      val shuffles = shuffledNames(out)
      assert(shuffles.nonEmpty, "expected prefilter + confirm shuffles")
      shuffles.foreach { s =>
        assert(!s.contains("text") && !s.exists(_.contains("stoks")),
          s"text shuffled: $s")
      }
    }
  }

  test("bm25: query side broadcasts, shuffles carry term/count rows, " +
      "never the text column") {
    import spark.implicits._
    withPlainPlan {
      val queries = Seq(("qa", "w1"), ("qa", "w2"), ("qb", "w3"))
        .toDF("query_id", "term")
      val out = Retrieval.bm25(docs, "doc_id", "text", queries, topK = 5)
      val shuffles = shuffledNames(out)
      assert(shuffles.nonEmpty, "expected postings/score shuffles")
      shuffles.foreach { s =>
        assert(!s.contains("text"), s"text shuffled: $s")
      }
    }
  }

  test("scoreByTokenWeights: weights join broadcast, text never shuffles") {
    import spark.implicits._
    withPlainPlan {
      val w = Seq((1L, 700000L), (2L, 300000L)).toDF("bucket", "w")
      val out = Curation.scoreByTokenWeights(docs, w, "doc_id", "text",
        buckets = 1 << 12)
      shuffledNames(out).foreach(s =>
        assert(!s.contains("text"), s"text shuffled: $s"))
      val bhj = out.queryExecution.executedPlan.collect {
        case j: BroadcastHashJoinExec => j
      }
      assert(bhj.nonEmpty, "expected the weight table to broadcast")
    }
  }

  test("decontaminateExact: corpus text never shuffles") {
    import spark.implicits._
    withPlainPlan {
      val bench = Seq("a b c d e f g h i").toDF("btext")
      val out = graft.ops.Curation.decontaminateExact(docs, bench,
        "doc_id", "text", "btext", n = 8, bloomBits = 1 << 12)
      shuffledNames(out).foreach { s =>
        assert(!s.contains("text") && !s.contains("btext"),
          s"text shuffled: $s")
      }
    }
  }

  test("temperatureResample: histogram cuts join is broadcast") {
    withPlainPlan {
      val out = Curation.temperatureResample(docs.drop("text"), "doc_id",
        "lang")
      val bhj = out.queryExecution.executedPlan.collect {
        case j: BroadcastHashJoinExec => j
      }
      assert(bhj.nonEmpty, "expected a broadcast join for the cuts table")
    }
  }

  test("exactStage over id-partitioned input: no shuffle carries clean_text") {
    import spark.implicits._
    withPlainPlan {
      // materialized partitioned-by-id, as curate's deboil checkpoint is
      val deb = (0L until 64L)
        .map(i => (i, "en", s"body ${i % 8}"))
        .toDF("doc_id", "lang", "clean_text")
        .repartition(col("doc_id"))
        .localCheckpoint()
      val out = Curation.exactStage(deb, "doc_id")
      val shuffles = shuffledNames(out)
      // thin (fp,id) shuffles exist; the corpus side reuses the id
      // partitioning, so text never moves
      shuffles.foreach(s =>
        assert(!s.contains("clean_text"), s"text shuffled: $s"))
      assert(out.count() === 8L)
    }
  }

  test("extraction pipeline: the records(partitions = 0) plan has no Exchange") {
    withPlainPlan {
      val pages = graft.gen.PagesGen.pages(spark, 50, 42, 2)
      // partitions=0: no input repartition, and segmentation runs per
      // page inside the scan's tasks, so no operator may move rows —
      // in particular no shuffle can carry html or page text
      val plan = graft.pipeline.ExtractionPipeline.records(pages,
        partitions = 0).queryExecution.executedPlan
      val exchanges = plan.collect { case e: Exchange => e.nodeName }
      assert(exchanges.isEmpty, s"exchanges in the records plan: $exchanges")
    }
  }

  test("extraction: CurateApp's extraction stage and the default records " +
      "and pageTexts plans have no Exchange") {
    // pages are extracted inside the scan's tasks unless a caller asks
    // for the url-hash repartition: no default plan shuffles raw html
    import org.apache.spark.sql.execution.MapPartitionsExec
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.exists(_.isInstanceOf[DataWritingCommandExec]))
          writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val ep = graft.pipeline.ExtractionPipeline
    val pages = graft.gen.PagesGen.pages(spark, 40, 42, 2)
    val out = java.nio.file.Files.createTempDirectory("graft_ps_curate")
    withPlainPlan {
      spark.listenerManager.register(listener)
      try {
        CurateApp.extractedTexts(spark, out.toString)(pages)
        org.apache.spark.TestBus.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      val plans = writes.toArray(Array.empty[SparkPlan]).toSeq
      assert(plans.size === 1, s"one write for the extraction stage: $plans")
      assert(plans.head.exists(_.isInstanceOf[MapPartitionsExec]),
        s"no extraction in the stage's write plan:\n${plans.head}")
      Seq("extraction stage" -> plans.head,
        "records" -> ep.records(pages).queryExecution.executedPlan,
        "pageTexts" -> ep.pageTexts(pages).queryExecution.executedPlan)
        .foreach { case (name, plan) =>
          val exchanges = plan.collect { case e: Exchange => e.nodeName }
          assert(exchanges.isEmpty, s"exchanges in the $name plan: $exchanges")
        }
    }
  }

  test("extraction stream: a micro-batch's write plan has no Exchange " +
      "at the default partitions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.exists(_.isInstanceOf[DataWritingCommandExec]))
          writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val out = java.nio.file.Files.createTempDirectory("graft_ps_stream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ps_ckpt")
    withPlainPlan {
      // the query's session is cloned at start, with this listener
      spark.listenerManager.register(listener)
      try {
        val stream = MemoryStream[graft.model.Page]
        val q = graft.streaming.StreamingPipeline
          .extractStream(stream.toDF(), out.toString, ckpt.toString).start()
        try {
          stream.addData((0L until 30L).map(graft.gen.PagesGen.pageFor(_, 42)))
          q.processAllAvailable()
        } finally q.stop()
        org.apache.spark.TestBus.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
    }
    val plans = writes.toArray(Array.empty[SparkPlan]).toSeq
    assert(plans.size === 1, s"one write per micro-batch: $plans")
    val exchanges = plans.head.collect { case e: Exchange => e.nodeName }
    assert(exchanges.isEmpty, s"exchanges in the stream's write plan: $exchanges")
  }

  test("page events: classifyPages is typed maps over the scan, no " +
      "page-rule keyword") {
    // classification and page context run the page kernel's scalar calls
    // in a typed map after extraction's: no operator moves rows, and no
    // page rule is compiled into a plan expression
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec}
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val rs = graft.rules.RuleSets.plugin
    val ep = graft.pipeline.ExtractionPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft_ps_events")
      .resolve("pages").toString
    graft.gen.PagesGen.pages(spark, 20, 42, 2).write.parquet(dir)
    withPlainPlan {
      val plan = ep.classifyPages(ep.pageTexts(
        spark.read.parquet(dir).as[graft.model.Page], partitions = 0,
        needMain = false), rs).queryExecution.executedPlan
      val maps = plan.collect { case m: MapPartitionsExec => m }
      assert(maps.size === 2, s"typed maps in the page-events plan:\n$plan")
      assert(maps.head.collect { case f: FileSourceScanExec => f }.size === 1,
        s"the typed maps do not run over the scan:\n$plan")
      val exchanges = plan.collect { case e: Exchange => e.nodeName }
      assert(exchanges.isEmpty, s"exchanges in the page-events plan: $exchanges")
      val keywords = rs.pageRules.flatMap(_.containsAny)
        .flatMap(k => Seq(k, k.toLowerCase(java.util.Locale.ROOT)))
        .map(UTF8String.fromString).toSet[Any]
      val hits = plan.collect { case node =>
        node.expressions.flatMap(_.collect {
          case l: Literal if keywords.contains(l.value) => l.sql
        })
      }.flatten
      assert(hits.isEmpty, s"page-rule keywords in the plan: $hits")
    }
  }

  test("extraction pipeline: records(partitions = 0) is one typed map over the scan") {
    // the page kernel runs every stage of a page inside one mapPartitions
    // in the scan's tasks: no operator moves, windows or explodes rows,
    // and the rule set lives in the kernel, not in plan expressions
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec,
      MapPartitionsExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val rs = graft.rules.RuleSets.plugin
    val dir = java.nio.file.Files.createTempDirectory("graft_ps_pages")
      .resolve("pages").toString
    graft.gen.PagesGen.pages(spark, 20, 42, 2).write.parquet(dir)
    withPlainPlan {
      val plan = graft.pipeline.ExtractionPipeline.records(
        spark.read.parquet(dir).as[graft.model.Page], rs, partitions = 0)
        .queryExecution.executedPlan
      val maps = plan.collect { case m: MapPartitionsExec => m }
      assert(maps.size === 1, s"typed maps in the records plan:\n$plan")
      assert(maps.head.collect { case f: FileSourceScanExec => f }.size === 1,
        s"the typed map does not run over the scan:\n$plan")
      val moving = plan.collect {
        case e: Exchange => e.nodeName
        case w: WindowExec => w.nodeName
        case g: GenerateExec => g.nodeName
      }
      assert(moving.isEmpty, s"row-moving operators in the records plan: $moving")
      val keywords = (rs.recordRules.flatMap(_.matchAny) ++
        rs.txnTypeRules.flatMap(r => r.matchAny ++ r.excludeIfContains))
        .flatMap(k => Seq(k, k.toLowerCase(java.util.Locale.ROOT)))
        .map(UTF8String.fromString).toSet[Any]
      val hits = plan.collect { case node =>
        node.expressions.flatMap(_.collect {
          case l: Literal if keywords.contains(l.value) => l.sql
        })
      }.flatten
      assert(hits.isEmpty, s"record-rule keywords in the plan: $hits")
    }
  }

  test("bigramFluency: count-table shuffles carry only hashes") {
    withPlainPlan {
      val out = Curation.bigramFluency(docs, "doc_id", "text")
      val hashShuffles = shuffledNames(out)
        .filter(s => s.contains("_ph") || s.contains("_ch"))
      assert(hashShuffles.nonEmpty, "expected the count-table shuffles")
      hashShuffles.foreach(s =>
        assert(!s.contains("text"), s"text in a hash shuffle: $s"))
    }
  }

  test("stratum gates: no corpus-sized single window partition") {
    // a Window partition is one task; partitioning a corpus-sized frame
    // by the stratum alone puts a whole language in one task at scale.
    // Every window must either partition on (stratum, shard) or run
    // over an already-aggregated (histogram/offsets-sized) input.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def check(df: DataFrame, name: String): Unit = {
      val wins = df.queryExecution.executedPlan.collect {
        case w: WindowExec => w
      }
      assert(wins.nonEmpty, s"$name: expected window nodes")
      wins.foreach { w =>
        val sharded = w.partitionSpec.size >= 2
        val overAggregate = w.child.collect {
          case a: BaseAggregateExec => a
        }.nonEmpty
        assert(sharded || overAggregate,
          s"$name: corpus-sized window partitioned only on " +
            s"${w.partitionSpec.map(_.sql)}")
      }
    }
    withPlainPlan {
      val withToks = docs.withColumn("n_toks",
        graft.ops.TextAnalysis.tokenCount(col("text")))
      check(Curation.tokenBudgetAssign(withToks, "doc_id", "lang",
        "n_toks", Map("en" -> 100L), defaultBudget = 50L),
        "tokenBudgetAssign")
      check(Curation.keepTopQuantile(withToks.drop("text"), "doc_id",
        "lang", "n_toks", keepPpm = 500000L), "keepTopQuantile")
      check(Curation.corpusProfile(withToks, "lang", "n_toks"),
        "corpusProfile")
      check(Curation.corpusProfileApprox(withToks, "lang", "n_toks"),
        "corpusProfileApprox")
      check(Curation.perplexityBuckets(
        withToks.drop("text").withColumn("score", col("n_toks") * 3),
        "doc_id", "lang", "score", "n_toks"), "perplexityBuckets")
    }
  }

  test("semanticDedup maxCell cap: no window over vector-carrying rows") {
    // the cap exists for hot cells — it must be a thin partial-agg
    // count + anti-join, never a count-window that funnels the hot
    // cell's (id, vector) rows through one task
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    withPlainPlan {
      val emb = (0L until 32L)
        .map(i => (i, Seq.tabulate(8)(j => (i % 4 + j).toFloat)))
        .toDF("vec_id", "embedding")
      val out = graft.ops.Dedup.semanticDedup(emb, "vec_id", "embedding",
        nCells = 4, threshold = 0.9, maxCell = 8)
      val wins = out.queryExecution.executedPlan.collect {
        case w: WindowExec => w
      }
      assert(wins.isEmpty,
        s"cap path planned a window: ${wins.map(_.partitionSpec.map(_.sql))}")
    }
  }

  test("LSH bucket caps: no count-window over banded signature or " +
      "vector-carrying rows") {
    // same rationale as the semanticDedup cap: measuring a hot bucket
    // must never funnel it through one window task
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    withPlainPlan {
      val mh = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 8, bands = 2, maxBucket = 4)
      val w1 = mh.queryExecution.executedPlan.collect {
        case w: WindowExec => w
      }
      assert(w1.isEmpty, s"minhash cap planned a window: $w1")
      val emb = (0L until 32L)
        .map(i => (i, Seq.tabulate(8)(j => (i % 4 + j).toFloat)))
        .toDF("vec_id", "embedding")
      val ep = graft.ops.Dedup.embeddingNearDupPairs(emb, "vec_id",
        "embedding", threshold = 0.5, planes = 2, dim = 8, maxBucket = 8)
      val w2 = ep.queryExecution.executedPlan.collect {
        case w: WindowExec => w
      }
      assert(w2.isEmpty, s"embedding cap planned a window: $w2")
    }
  }

  test("dropDuplicatedParagraphsFromParas: hash branch shuffles thin rows") {
    withPlainPlan {
      val withP = docs.withColumn("_paras",
        Curation.paragraphs(col("text"))).drop("text")
      val out = Curation.dropDuplicatedParagraphsFromParas(withP, "doc_id",
        "_paras", minDocs = 2)
      // the duplicate-hash aggregation branch must move only
      // (id, pos, hash) — the paragraph arrays may appear only in the
      // final join-back of the drop sets
      val thinShuffles = shuffledNames(out)
        .filter(s => s.contains("_ph") || s.contains("_pos"))
      assert(thinShuffles.nonEmpty)
      thinShuffles.foreach(s =>
        assert(!s.contains("_paras"), s"paragraphs in hash shuffle: $s"))
    }
  }

  test("hostBoilerplateScrub (broadcast path): text never shuffles") {
    withPlainPlan {
      val withHost = docs.withColumn("host",
        concat(lit("h"), (col("doc_id") % 3).cast("string")))
      val out = Curation.hostBoilerplateScrub(withHost, "doc_id",
        "host", "text")
      val shuffles = shuffledNames(out)
      assert(shuffles.nonEmpty, "expected the thin df-stats shuffles")
      shuffles.foreach(s =>
        assert(!s.contains("text"), s"text shuffled: $s"))
      // the template table must reach the text side as a broadcast
      val bcasts = out.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec => b
      }
      assert(bcasts.nonEmpty, "template join must be broadcast")
    }
  }

  test("c4Clean: zero shuffles — pure per-row line fold") {
    withPlainPlan {
      val out = Curation.c4Clean(docs, "doc_id", "text")
      assert(shuffledNames(out).isEmpty,
        "C4 cleaning must be shuffle-free (per-row Columns only)")
    }
  }

  test("extractionScore: shuffles carry token hashes, never text") {
    withPlainPlan {
      val pred = docs.select(col("doc_id"), col("text").as("ptext"))
      val out = graft.ops.TextAnalysis.extractionScore(
        docs, pred, "doc_id", "text", "ptext")
      val shuffles = shuffledNames(out)
      assert(shuffles.nonEmpty, "expected the (id, hash) count shuffles")
      shuffles.foreach(s =>
        assert(!s.contains("text") && !s.contains("ptext") &&
          !s.contains("_t"), s"text/token shuffled: $s"))
    }
  }

  test("containmentPairs: blocking shuffles carry 32-bit hashes, " +
      "never text or raw shingle strings") {
    withPlainPlan {
      val out = graft.ops.Dedup.containmentPairs(docs, "doc_id", "text",
        n = 2, maxShingleDf = 8, minContainPpm = 0L)
      val shuffles = shuffledNames(out)
      assert(shuffles.nonEmpty, "expected the blocking-key shuffles")
      shuffles.foreach(s =>
        assert(!s.contains("text") && !s.contains("_s"),
          s"text/shingle string shuffled: $s"))
    }
  }

  test("pair-verify stages spread: an explicit-N round-robin " +
      "repartition — the one exchange AQE can't coalesce to one task") {
    // AQE coalesces shuffle reads by BYTES; a thin candidate-pair
    // table with ~1 ms of per-pair confirm CPU (levenshtein /
    // array_intersect) otherwise collapses into ONE task (measured:
    // q98's 16k-pair levenshtein stage single-task = 12 s). The
    // explicit-numPartitions round-robin repartition must sit between
    // candidate generation and the set/text-attach joins, carrying
    // only the thin (a, b[, est]) rows — hash(a, b) would be elided
    // as redundant against the candidate distinct()'s partitioning.
    withPlainPlan {
      val plans = Seq(
        graft.ops.Dedup.editVerifiedPairs(docs, "doc_id", "text",
          k = 8, bands = 4, minEstJaccard = 0.0),
        graft.ops.Dedup.containmentPairs(docs, "doc_id", "text",
          n = 2, maxShingleDf = 8, minContainPpm = 0L),
        graft.ops.Dedup.winnowPairs(docs, "doc_id", "text",
          k = 2, w = 4),
        graft.ops.Dedup.ngramJaccardLsh(docs, "doc_id", "text",
          n = 2, k = 8, bands = 4, minEstJaccard = 0.0))
      plans.zipWithIndex.foreach { case (out, i) =>
        val spreads = out.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec
              if e.shuffleOrigin == org.apache.spark.sql.execution
                .exchange.REPARTITION_BY_NUM => e
        }
        assert(spreads.nonEmpty, s"plan $i: no explicit-N spread " +
          "before the pair-confirm stage")
        spreads.foreach { e =>
          val names = e.output.map(_.name.toLowerCase).toSet
          assert(names.forall(n => !n.contains("text") &&
            !n.contains("sh") && !n.contains("fp")),
            s"plan $i: spread shuffle must be thin (a,b[,est]): $names")
        }
      }
    }
  }

  test("ivfPqTopK: raw corpus vectors reach only the exact re-rank " +
      "join, never the ADC candidate shuffle") {
    withPlainPlan {
      import spark.implicits._
      val emb = (0L until 64L)
        .map(i => (i, Seq.tabulate(16)(j => ((i * 7 + j) % 13).toFloat)))
        .toDF("vec_id", "embedding")
      val out = graft.ops.SimSearch.ivfPqTopK(emb,
        emb.filter(col("vec_id") < 4), "vec_id", "embedding", k = 2,
        nCells = 4, nProbe = 2, m = 4, ksub = 4, rerank = 6)
      // the window over ADC candidates partitions by query_id; that
      // exchange must carry codes/rn2, NOT the raw corpus vector. The
      // only shuffles allowed to carry cv are the re-rank join's (its
      // input is rerank rows per query) and the window by query_id
      // AFTER the exact cosine (cv already consumed).
      val adcShuffles = shuffledNames(out).filter(_.contains("adc"))
      assert(adcShuffles.nonEmpty, "expected the ADC rank exchange")
      assert(adcShuffles.forall(s => !s.contains("cv")),
        s"ADC candidate shuffle must not carry raw vectors: $adcShuffles")
    }
  }

  test("registrableDomain: zero shuffles — every PSL depth join " +
      "broadcasts") {
    withPlainPlan {
      val hosts = docs.withColumn("host",
        concat(lit("h"), col("doc_id"), lit(".example.com")))
      val out = Curation.registrableDomain(hosts, "host",
        Seq("com", "co.uk", "uk", "*.ck", "!www.ck"))
      assert(shuffledNames(out).isEmpty,
        "PSL lookup must be shuffle-free (per-depth broadcast joins)")
      val bcasts = out.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec => b
      }
      assert(bcasts.nonEmpty, "rule joins must be broadcast")
    }
  }

  test("heavyHitters: candidate filter broadcasts; the only key-carrying " +
      "shuffle is the post-filter exact confirm") {
    withPlainPlan {
      val out = graft.ops.Skew.heavyHitters(docs, col("text"),
        minCount = 2L, width = 16, out = "k")
      // pass 2's candidate-bucket filter must be a broadcast join —
      // the corpus is never shuffled just to be filtered
      val bcasts = out.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec => b
      }
      assert(bcasts.nonEmpty, "candidate filter must broadcast")
      // exactly one shuffle carries the key (the exact-confirm groupBy
      // over candidate-bucket survivors); the pass-1 bucket-count
      // shuffle carries only (bucket, count) thin rows
      val withKey = shuffledNames(out).filter(_.exists(_.contains("_hk")))
      assert(withKey.size === 1,
        s"expected exactly one key-carrying shuffle, got: $withKey")
    }
  }

  test("phraseMatch: no shuffle carries document text — only thin " +
      "(phrase, id, start) rows move; the phrase table broadcasts") {
    withPlainPlan {
      val out = Retrieval.phraseMatch(docs, "doc_id", "text",
        Seq(("p", "w1 w1")))
      shuffledNames(out).foreach(s =>
        assert(!s.contains("text"), s"text shuffled: $s"))
      val bcasts = out.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec => b
      }
      assert(bcasts.nonEmpty, "phrase table must broadcast")
    }
  }

  test("sketches: HLL and CMS builds are map-side-combinable aggs " +
      "whose one shuffle carries only register/cell coordinates") {
    withPlainPlan {
      import spark.implicits._
      val keys = docs.select(col("text").as("k"))
      val hll = graft.ops.Sketch.hllRegisters(keys, "k", 8)
      val hs = shuffledNames(hll)
      assert(hs.size === 1 && !hs.head.contains("k"),
        s"HLL shuffle must carry registers only: $hs")
      // partial (map-side) aggregation before the exchange: the plan
      // contains two HashAggregates around the single shuffle
      val hashAggs = hll.queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }
      assert(hashAggs.size >= 2, "expected partial+final aggregation")
      val cms = graft.ops.Sketch.cmsTable(keys, "k", 4, 64)
      val cs = shuffledNames(cms)
      assert(cs.size === 1 && !cs.head.contains("k"),
        s"CMS shuffle must carry cells only: $cs")
    }
  }

  test("bloomShardIndex: build aggregates map-side; the shuffle " +
      "carries (shard, word) fragments, never keys") {
    withPlainPlan {
      val out = Curation.bloomShardIndex(
        docs.withColumn("shard", pmod(col("doc_id"), lit(4L))),
        "shard", "text", 4096)
      shuffledNames(out).foreach(s =>
        assert(!s.contains("text"), s"key column shuffled: $s"))
    }
  }

  test("per-row scalar ops introduce NO exchange: rendezvous shard, " +
      "homoglyph skeleton, entropy signals, JL projection in one " +
      "shuffle-free projection") {
    withPlainPlan {
      val signs = graft.ops.SimSearch.jlSigns(8, 4)
      val out = docs.select(
        graft.ops.Layout.rendezvousShard(col("text"), 16).as("shard"),
        Curation.homoglyphSkeleton(col("text")).as("skel"),
        graft.ops.TextAnalysis.charEntropy(col("text")).as("ce"),
        graft.ops.TextAnalysis.tokenEntropy(col("text")).as("te"),
        graft.ops.SimSearch.signProject(
          array(lit(1.0), lit(2.0), lit(3.0), lit(4.0)), signs)
          .as("pv"))
      assert(shuffledNames(out).isEmpty,
        "scalar ops must stay inside the scan's stage")
    }
  }
}
