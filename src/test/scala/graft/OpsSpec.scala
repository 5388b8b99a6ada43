package graft

import graft.ops.{Curation, Dedup, Multimodal, Retrieval, SimSearch, Skew, TextAnalysis, WebGraph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import org.apache.spark.sql.DataFrame

  def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "completely different content about spark engines"),
      (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (4L, "der hund ist nicht ein katze und so weiter")
    ).toDF("doc_id", "text")
  }

  test("minhash: exact dup → identical signature; near dup → mostly equal") {
    val sig = Dedup.withMinhash(docs, col("text"), 16).collect()
      .map(r => r.getLong(0) -> (0 until 16).map(i => r.getLong(r.fieldIndex(s"m$i"))))
      .toMap
    assert(sig(0L) === sig(3L))
    val agree01 = sig(0L).zip(sig(1L)).count { case (a, b) => a == b }
    val agree02 = sig(0L).zip(sig(2L)).count { case (a, b) => a == b }
    assert(agree01 > agree02, s"near-dup $agree01 vs unrelated $agree02")
  }

  test("minhash LSH pairs find the exact + near dup, not the unrelated") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 8,
      minEstJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash LSH big-bucket cap: skips oversized buckets, reports them") {
    import spark.implicits._
    // 6 identical docs share every bucket (size 6) + one distinct doc
    val d = ((0L until 6L).map(i => (i, "same same same text here")) :+
      (9L, "entirely other words appear in this document"))
      .toDF("doc_id", "text")
    val unbounded = Dedup.minhashLshPairs(d, "doc_id", "text", 16, 8,
      minEstJaccard = 0.4).count()
    assert(unbounded === 15) // C(6,2) identical pairs
    val capped = Dedup.minhashLshPairs(d, "doc_id", "text", 16, 8,
      minEstJaccard = 0.4, maxBucket = 4).count()
    assert(capped === 0) // the size-6 buckets are all skipped
    val skipped = Dedup.minhashLshSkippedBuckets(d, "doc_id", "text", 16, 8,
      maxBucket = 4).collect()
    assert(skipped.nonEmpty)
    assert(skipped.forall(_.getLong(2) === 6L))
    // cap above the bucket size changes nothing
    val loose = Dedup.minhashLshPairs(d, "doc_id", "text", 16, 8,
      minEstJaccard = 0.4, maxBucket = 100).count()
    assert(loose === unbounded)
  }

  test("simhash: hamming(near dups) < hamming(unrelated)") {
    import spark.implicits._
    val sh = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(3L)) === 0)
    assert(ham(sh(0L), sh(1L)) < ham(sh(0L), sh(2L)))
  }

  test("simhash pigeonhole pairs: dup found, unrelated absent, cap + guard") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
      bits = 64, nBlocks = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((0L, 3L))) // exact dup: hamming 0, always blocked
    assert(pairs.find(p => (p._1, p._2) == (0L, 3L)).get._3 === 0)
    assert(!ids.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated absent
    // portable 16-bit / 2-block path (the q153 oracle construction)
    val p16 = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
      bits = 16, nBlocks = 2, maxHamming = 1).collect()
    assert(p16.exists(r => r.getLong(0) == 0L && r.getLong(1) == 3L))
    // big-bucket cap: every shared bucket has >= 2 members, so cap 1
    // skips them all
    assert(Dedup.simhashNearDupPairs(docs, "doc_id", "text",
      bits = 64, nBlocks = 4, maxHamming = 3, maxBucket = 1).count() === 0)
    // pigeonhole recall guard
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", nBlocks = 4,
        maxHamming = 4)
    }
  }

  test("ngram jaccard: dup=1.0, near-dup high, unrelated absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
      .toMap
    assert(pairs((0L, 3L)) === 1.0)
    assert(pairs((0L, 1L)) > 0.5)
    assert(!pairs.contains((0L, 2L)))
  }

  test("ngramJaccardLsh: identical exact jaccard, restricted to candidates") {
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
      .toMap
    val viaLsh = Dedup.ngramJaccardLsh(docs, "doc_id", "text", 3, 16, 8,
      minEstJaccard = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
      .toMap
    viaLsh.foreach { case (k, v) => assert(full(k) === v, s"pair $k") }
    assert(viaLsh.contains((0L, 3L)) && viaLsh((0L, 3L)) === 1.0)
  }

  test("brute-force cosine top-k: self-similar vectors rank first") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = SimSearch.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", 2).collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(top.head === (1L, 1)) // nearest neighbor of e_x is the 0.9 vector
  }

  test("LSH ANN with multi-probe: recall >= 0.9 vs brute force") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
    val brute = SimSearch.bruteForceTopK(emb, qs, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // defaults: 4 planes × 4 tables, Hamming<=1 multi-probe
    val lsh = SimSearch.lshTopK(emb, qs, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
    // one single-probe table is the baseline multi-table/probe must beat
    val single = SimSearch.lshTopK(emb, qs, "vec_id", "embedding", 3,
      probeHamming = 0, tables = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val singleRecall = (brute & single).size.toDouble / brute.size
    assert(recall >= singleRecall)
  }

  test("IVF-PQ: codes are m small ints, returned cosines are EXACT, " +
      "recall tracks the flat IVF index") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
    // exact cosine map from brute force: the PQ path re-ranks its ADC
    // candidates with exact cosine, so every returned (q, c, cosine)
    // must agree bitwise with brute force's for the same pair
    val brute = SimSearch.bruteForceTopK(emb, qs, "vec_id", "embedding", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val bruteTop3 = brute.toSeq.groupBy(_._1._1).flatMap { case (q, xs) =>
      xs.sortBy { case ((_, c), cos) => (-cos, c) }.take(3).map(_._1)
    }.toSet
    val pq = SimSearch.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 3,
      nCells = 16, nProbe = 4, m = 8, ksub = 16, rerank = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pq.foreach { case (q, c, cos) =>
      assert(brute((q, c)) === cos, s"PQ cosine for ($q,$c) not exact")
    }
    val recall = pq.map(t => (t._1, t._2)).toSet.intersect(bruteTop3)
      .size.toDouble / bruteTop3.size
    // flat IVF at the same cells/probes bounds what PQ+rerank can see
    val flat = SimSearch.ivfTopK(emb, qs, "vec_id", "embedding", k = 3,
      nCells = 16, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flatRecall = flat.intersect(bruteTop3).size.toDouble / bruteTop3.size
    // at rerank=50 the exact re-rank recovers the flat index's view
    assert(recall >= flatRecall - 0.1,
      s"PQ recall $recall vs flat IVF $flatRecall")
    assert(recall >= 0.5, s"recall $recall")
    // the index really is compressed: m codes in [0, ksub)
    val cb = SimSearch.pqCodebooks(emb, "vec_id", "embedding", 8, 16)
    assert(cb.length === 8 && cb.forall(_.length === 16)
      && cb.forall(_.forall(_.length === 8)))
    val codes = emb.select(
      SimSearch.pqEncode(col("embedding").cast("array<double>"), cb)
        .as("codes")).collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length === 8 && c.forall(x => x >= 0 && x < 16)))
  }

  test("lshTopK shuffle-join path (corpus-sized queries) matches broadcast") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    val bcast = canon(SimSearch.lshTopK(emb, qs, "vec_id", "embedding", 3))
    val shuffle = canon(SimSearch.lshTopK(emb, qs, "vec_id", "embedding", 3,
      broadcastQueries = false))
    assert(shuffle === bcast)
  }

  test("embedding near-dup big-bucket cap: skips oversized buckets, reports") {
    import spark.implicits._
    // 6 near-identical vectors land in one hyperplane bucket + 1 opposite
    val d = ((0L until 6L).map(i =>
      (i, Seq.tabulate(8)(j => if (j == 0) 1.0f else 0.001f * i))) :+
      (9L, Seq.tabulate(8)(j => if (j == 0) -1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val unbounded = Dedup.embeddingNearDupPairs(d, "vec_id", "embedding",
      threshold = 0.9, planes = 4, dim = 8).count()
    assert(unbounded === 15) // C(6,2) within the dense bucket
    val capped = Dedup.embeddingNearDupPairs(d, "vec_id", "embedding",
      threshold = 0.9, planes = 4, dim = 8, maxBucket = 4).count()
    assert(capped === 0)
    val skipped = Dedup.embeddingNearDupSkippedBuckets(d, "vec_id",
      "embedding", planes = 4, dim = 8, maxBucket = 4).collect()
    assert(skipped.nonEmpty && skipped.forall(_.getLong(1) === 6L))
    // cap above the bucket size changes nothing
    assert(Dedup.embeddingNearDupPairs(d, "vec_id", "embedding",
      threshold = 0.9, planes = 4, dim = 8, maxBucket = 100).count()
      === unbounded)
  }

  test("semanticDedup: in-cell keep-lowest-id verdicts + maxCell accounting") {
    import spark.implicits._
    // three near-identical +x vectors (one semantic group), two +y
    // vectors, two lone opposite/orthogonal vectors. Ids chosen so the
    // deterministic md5 centroid sample (13, 3, 12, 2 for these ids)
    // takes at most ONE member per group — the groups then provably
    // share a cell (nearest centroid of near-identical vectors is the
    // same when no two centroids are themselves near-parallel)
    val d = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.01f)),
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.02f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.03f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.01f)),
      (7L, Seq(0.0f, 1.0f, 0.0f, 0.02f)),
      (12L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (13L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Dedup.semanticDedup(d, "vec_id", "embedding", nCells = 4,
      threshold = 0.9).collect()
      .map(x => x.getLong(0) -> (x.getBoolean(2),
        if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
    assert(r.size === 7)
    // lowest id of each near-identical group survives; the rest point at it
    assert(r(0L) === (true, -1L))
    assert(r(1L) === (false, 0L) && r(2L) === (false, 0L))
    assert(r(3L) === (true, -1L) && r(7L) === (false, 3L))
    // opposite/orthogonal loners are kept
    assert(r(12L)._1 && r(13L)._1)
    // maxCell excludes the hot +x cell from pair generation (its
    // members all kept; the small +y cell still dedups) and the skip
    // is visible in the accounting companion
    val capped = Dedup.semanticDedup(d, "vec_id", "embedding", nCells = 4,
      threshold = 0.9, maxCell = 2).collect()
      .map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(Seq(0L, 1L, 2L).forall(capped(_)), "capped cell members kept")
    assert(!capped(7L), "uncapped cell still dedups")
    assert(capped.values.count(identity) === 6)
    val skipped = Dedup.semanticDedupSkippedCells(d, "vec_id", "embedding",
      nCells = 4, maxCell = 2).collect()
    assert(skipped.nonEmpty && skipped.forall(_.getLong(1) === 3L))
  }

  test("langId: non-Latin scripts route to the script's language") {
    import spark.implicits._
    val r = Seq(
      "这是一个简单的中文句子没有任何其他文字",       // Han only → zh
      "これは簡単な日本語の文です",                   // kana present → ja
      "한국어로 된 간단한 문장입니다",                // Hangul → ko
      "это простое предложение на русском языке",     // Cyrillic → ru
      "هذه جملة بسيطة باللغة العربية",                // Arabic → ar
      "αυτή είναι μια απλή ελληνική πρόταση",         // Greek → el
      "זהו משפט פשוט בעברית",                         // Hebrew → he
      "यह हिंदी में एक सरल वाक्य है",                   // Devanagari → hi
      "นี่คือประโยคง่ายๆในภาษาไทย",                     // Thai → th
      "mixed 中文 with mostly english words around it" // Latin-dominant → en
    ).toDF("t").select(TextAnalysis.langId(col("t"))).as[String].collect()
    assert(r.toSeq === Seq("zh", "ja", "ko", "ru", "ar", "el", "he", "hi",
      "th", "en"))
  }

  test("langId: NULL text → und (not the tie-break fallback)") {
    import spark.implicits._
    val r = Seq(Some("the cat and the dog"), None, Some(""))
      .toDF("t").select(TextAnalysis.langId(col("t"))).as[String].collect()
    assert(r.toSeq === Seq("en", "und", "und"))
  }

  test("canonicalize: near-dup chain collapses to one min-id survivor") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 8,
      minEstJaccard = 0.4)
    val labels = Dedup.canonicalize(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {0, 1, 3} is one near-dup component (0=3 exact, 0~1 near) → min id 0
    assert(labels(0L) === 0L)
    assert(labels(1L) === 0L)
    assert(labels(3L) === 0L)
    // unrelated docs survive as their own canonical
    assert(labels(2L) === 2L)
    assert(labels(4L) === 4L)
    // survivors = distinct canonical ids
    assert(labels.values.toSet === Set(0L, 2L, 4L))
  }

  test("canonicalize: transitive chain a~b, b~c (no a~c pair) converges") {
    import spark.implicits._
    val ids = Seq(10L, 11L, 12L, 13L).toDF("id")
    val chain = Seq((11L, 12L), (12L, 13L)).toDF("a", "b") // 11-12-13 path
    val labels = Dedup.canonicalize(ids, "id", chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(10L -> 10L, 11L -> 11L, 12L -> 11L, 13L -> 11L))
  }

  test("langId picks the language with most stopword hits") {
    import spark.implicits._
    val r = Seq("the cat and the dog is here",
      "der hund und die katze ist da",
      "le chat est dans la maison",
      "el perro es una mascota que vive en la casa",
      "il gatto non sono un cane che vive nel giardino",
      "um gato para os amigos com mais alegria do que nunca",
      "de hond en het paard zijn niet bij de boer",
      "nie ma to jak jest po pracy w domu od rana",
      "han har ett hus och att bo som den inte om",
      "der er ikke og at det den til har af en hund",
      "yang dan di itu dengan untuk tidak ini dari dalam",
      "bir ve bu ile ama ben daha gibi kadar sen biz",
      "xyzzy plugh").toDF("t")
      .select(TextAnalysis.langId(col("t"))).as[String].collect()
    assert(r.toSeq === Seq("en", "de", "fr", "es", "it", "pt", "nl",
      "pl", "sv", "da", "id", "tr", "und"))
  }

  test("token counts behave") {
    import spark.implicits._
    val df = Seq("the quick brown fox is in the house with the dog",
      "@#$% 1234 !!").toDF("t")
    val tc = df.select(TextAnalysis.tokenCount(col("t")).as[Int]).collect()
    assert(tc(0) === 11)
  }

  test("multimodal: decode stub round-trips header metadata; frames sampled") {
    val media = Multimodal.synth(spark, 50)
    val feats = Multimodal.decodeStub(media).collect()
    assert(feats.length === 50)
    feats.foreach { f =>
      assert(f.feature.length === 8)
      assert(math.abs(f.feature.sum - (if (f.n_bytes > 16) 1.0 else 0.0)) < 1e-5)
    }
    val withMeta = media.collect().map(m => m.media_id -> m).toMap
    feats.foreach { f =>
      assert(f.width === withMeta(f.media_id).width)
      assert(f.duration_ms === withMeta(f.media_id).duration_ms)
    }
    val frames = Multimodal.sampleFrames(
      Multimodal.decodeStub(media).toDF(), 10000)
    val perMedia = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    perMedia.foreach { case (id, n) =>
      val dur = withMeta(id).duration_ms
      assert(n === math.max(1, (dur - 1) / 10000 + 1), s"media $id dur $dur")
    }
  }

  test("multimodal codec seam: an injected codec drops into the decode " +
      "slot with no schema/partitioning/plan change") {
    val media = Multimodal.synth(spark, 40, partitions = 4)
    val opens = spark.sparkContext.longAccumulator("codec_opens")
    val decoded = spark.sparkContext.longAccumulator("codec_rows")
    val fake = new FakeJniCodec(opens, decoded)
    val viaStub = Multimodal.decodeStub(media)
    val viaFake = Multimodal.decodeWith(media, fake)
    // the seam contract: swapping codecs changes NOTHING but the bytes
    // → features function — same schema, same partitioning, same
    // physical plan shape
    assert(viaFake.schema === viaStub.schema)
    assert(viaFake.rdd.getNumPartitions === viaStub.rdd.getNumPartitions)
    def planShape(df: org.apache.spark.sql.Dataset[_]): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case n => n.getClass.getSimpleName
      }
    assert(planShape(viaFake) === planShape(viaStub))
    val rows = viaFake.collect()
    assert(rows.length === 40 && rows.forall(_.mean_byte === 42.0))
    assert(decoded.value === 40L)
    assert(opens.value === 4L, "open() must run once per partition")
  }

  test("event codes map to the reference error-code vocabulary") {
    import graft.pipeline.ErrorCodes.refCode
    assert(refCode("VAL_DATE_TRADE") === "SOA-VAL-DATE-002")
    assert(refCode("VAL_RANGE_MV") === "SOA-VAL-RANGE-006")
    assert(refCode("VAL_CURR") === "SOA-VAL-CURR-003")
    assert(refCode("VAL_CONFLICT") === "SOA-VAL-CONFLICT-007")
    assert(refCode("VAL_ISIN_CHECKSUM") === "SOA-VAL-ISIN-004")
    assert(refCode("REC_ROUTE_FALLBACK") === "SOA-REC-ROUTE-003")
    assert(refCode("REC_STITCH_MERGED") === "SOA-REC-STITCH-002")
    assert(refCode("PAGE_EMPTY") === "SOA-PAGE-SPLIT-003")
    assert(refCode("UNKNOWN_THING") === "")
    // Column twin agrees
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val codes = Seq("VAL_DATE_SETTLE", "REC_DUP", "PAGE_OK_HTML", "other")
    val got = codes.toDF("c")
      .select(graft.pipeline.ErrorCodes.refCodeCol(col("c"))).as[String]
      .collect().toSeq
    assert(got === codes.map(refCode))
  }

  test("salted sum equals plain sum") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 7, i.toDouble)).toDF("k", "v")
    val salted = Skew.saltedSum(df, col("k"), col("v"), 8, "s")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val plain = df.groupBy("k").agg(sum("v")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(salted === plain)
  }

  test("rowSalt is deterministic across repartitionings (unlike a " +
      "physical-position salt)") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i, i % 7)).toDF("id", "k")
    val a = df.withColumn("s", Skew.rowSalt(df, 16))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getLong(2)))
    val rep = df.repartition(13)
    val b = rep.withColumn("s", Skew.rowSalt(rep, 16))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(a.toSeq === b.toSeq)
    // stable-id overload: same guarantee through saltedSum's stage 1
    val s1 = Skew.saltedSum(df, col("k"), col("id"), 8, "s",
      stable = Some(col("id"))).orderBy("_k")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val s2 = Skew.saltedSum(rep, col("k"), col("id"), 8, "s",
      stable = Some(col("id"))).orderBy("_k")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(s1.toSeq === s2.toSeq)
  }

  test("hot key report") {
    import spark.implicits._
    val df = (Seq.fill(100)("hot") ++ Seq("a", "b")).toDF("k")
    val hot = Skew.hotKeys(df, col("k"), 50).collect()
    assert(hot.length === 1 && hot(0).getString(0) === "hot")
  }

  test("pii redaction: counts and typed tags, kinds don't collide") {
    import spark.implicits._
    val txt = "mail a.b+c@ex-1.org or x@y.io, ip 10.0.255.3, " +
      "call +41 (0)44 123-45 67 end"
    val df = Seq(txt).toDF("t")
    val counts = Curation.piiCounts(col("t"))
      .foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
      .select("n_email", "n_ip", "n_phone").head()
    assert((counts.getInt(0), counts.getInt(1), counts.getInt(2)) ===
      ((2, 1, 1)))
    val red = df.select(Curation.piiRedact(col("t"))).head().getString(0)
    assert(red === "mail <EMAIL> or <EMAIL>, ip <IP>, call <PHONE> end")
  }

  test("repetition features: dup lines, dup chars, bullets, symbols") {
    import spark.implicits._
    val txt = Seq("aaaa", "bbbb", "aaaa", "- item", "read on...", "")
      .mkString("\n")
    val df = Seq(txt).toDF("t")
    val f = Curation.repetitionFeatures(col("t"))
      .foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }.head()
    def g(n: String) = f.getLong(f.fieldIndex(n))
    assert(g("n_lines") === 5) // blank line dropped
    assert(g("dup_line_ppm") === 1000000L / 5) // one dup of five
    // dup chars: second "aaaa" = 4 of 28 non-blank line chars
    assert(g("dup_char_ppm") === 4L * 1000000L / 28L)
    assert(g("bullet_ppm") === 1000000L / 5)
    assert(g("ellipsis_ppm") === 1000000L / 5)
    assert(g("symbol_ppm") > 0) // "..." counted against 8 tokens
  }

  test("topNgramCharPpm: run-length fold finds the dominant 2-gram") {
    import spark.implicits._
    val df = Seq("a b a b a b", "one two three", "solo", "").toDF("t")
    val r = df.select(Curation.topNgramCharPpm(col("t"), 2))
      .collect().map(_.getLong(0)).toSeq
    // "a b" occurs 3x, len 3 → 9 chars of 11; "two three" 1x, len 9
    assert(r === Seq(9L * 1000000L / 11L, 9L * 1000000L / 13L, 0L, 0L))
  }

  test("paragraph dedup: corpus-wide boilerplate stripped, order kept") {
    import spark.implicits._
    val boiler = "subscribe now"
    val df = Seq(
      (1L, s"$boiler\n\nunique one\n\nmiddle"),
      (2L, s"unique two\n\n$boiler"),
      (3L, s"also unique\n\nno boilerplate here")
    ).toDF("id", "text")
    val cleaned = Curation.dropDuplicatedParagraphs(df, "id", "text", 2)
      .orderBy("id")
      .select("id", "n_paras", "n_dropped", "clean_text").collect()
    assert(cleaned(0).getInt(1) === 3 && cleaned(0).getInt(2) === 1)
    assert(cleaned(0).getString(3) === "unique one\n\nmiddle")
    assert(cleaned(1).getString(3) === "unique two")
    assert(cleaned(2).getInt(2) === 0)
    assert(cleaned(2).getString(3) === "also unique\n\nno boilerplate here")
  }

  test("span dedup: cross-doc duplicated 8-gram spans removed exactly") {
    import spark.implicits._
    val span = "one two three four five six seven eight nine ten" // 10 toks
    val df = Seq(
      (1L, s"alpha beta gamma $span delta epsilon"),
      (2L, s"zeta eta theta iota kappa $span"),
      (3L, "totally unrelated words live here for a while longer today"),
      (4L, "short doc") // shorter than n: no grams, nothing removed
    ).toDF("id", "text")
    val r = Curation.dropDuplicatedSpans(df, "id", "text", n = 8,
        minDocs = 2)
      .orderBy("id")
      .select("id", "n_tokens", "n_removed", "clean_text").collect()
    assert(r(0).getLong(1) === 15L && r(0).getLong(2) === 10L)
    assert(r(0).getString(3) === "alpha beta gamma delta epsilon")
    assert(r(1).getLong(2) === 10L)
    assert(r(1).getString(3) === "zeta eta theta iota kappa")
    assert(r(2).getLong(2) === 0L)
    assert(r(3).getLong(1) === 2L && r(3).getLong(2) === 0L)
    assert(r(3).getString(3) === "short doc")
  }

  test("span dedup confirmed: string confirm kills prefilter-hash " +
      "collision false positives, keeps true duplicates") {
    import spark.implicits._
    val span = "one two three four five six seven eight nine ten" // dup
    // docs 3 and 4 each hold a UNIQUE 8-gram; under the sabotage
    // prefilter below (gram LENGTH as the "hash") the two grams
    // collide, so the hash-only mask would scrub both
    val uniqA = "aa bb cc dd ee ff gg hh" // 23 chars
    val uniqB = "pp qq rr ss tt uu vv ww" // 23 chars
    val df = Seq(
      (1L, s"alpha beta gamma $span delta epsilon"),
      (2L, s"zeta eta theta iota kappa $span"),
      (3L, s"document about $uniqA entirely original content here"),
      (4L, s"another text with $uniqB and no shared span at all")
    ).toDF("id", "text")
    val sabotage: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      g => length(g).cast("long")
    // control: hash-only semantics under the colliding hash DOES
    // over-scrub docs 3/4 (what any saturated hash space does at scale)
    val control = Curation.dropDuplicatedSpans(
        df, "id", "text", n = 8, minDocs = 2, hashFn = sabotage)
      .orderBy("id").select("id", "n_removed").collect()
    assert(control(2).getLong(1) > 0L && control(3).getLong(1) > 0L)
    val confirmed = Curation.dropDuplicatedSpansConfirmed(
        df, "id", "text", n = 8, minDocs = 2, prefilterHash = sabotage)
      .orderBy("id")
      .select("id", "n_removed", "clean_text").collect()
    // true duplicate span still scrubbed in both docs
    assert(confirmed(0).getLong(1) === 10L)
    assert(confirmed(0).getString(2) === "alpha beta gamma delta epsilon")
    assert(confirmed(1).getLong(1) === 10L)
    // collision false positives NOT scrubbed: originals kept verbatim
    assert(confirmed(2).getLong(1) === 0L)
    assert(confirmed(2).getString(2).contains(uniqA))
    assert(confirmed(3).getLong(1) === 0L)
    assert(confirmed(3).getString(2).contains(uniqB))
    // and with the default 64-bit prefilter the confirmed variant is
    // output-identical to the hash-only form on a collision-free corpus
    val base = Curation.dropDuplicatedSpans(df, "id", "text", 8, 2)
      .select("id", "n_tokens", "n_removed", "removed_ppm", "clean_text")
    val conf = Curation.dropDuplicatedSpansConfirmed(df, "id", "text", 8, 2)
      .select("id", "n_tokens", "n_removed", "removed_ppm", "clean_text")
    assert(base.exceptAll(conf).isEmpty && conf.exceptAll(base).isEmpty)
  }

  test("span dedup ≡ suffix-array duplicated-substring semantics " +
      "(brute-force all-spans oracle)") {
    import spark.implicits._
    // The scaladoc on dropDuplicatedSpans PROVES that the union of
    // duplicated n-gram windows equals the union of duplicated
    // >=n-token spans — i.e. that the one-pass gram mask computes
    // exactly what a suffix-array pass (Lee et al. 2022) would. This
    // test checks that claim against an INDEPENDENT oracle that never
    // decomposes into n-grams: enumerate EVERY token span of length
    // >= n in every doc (the set a suffix array + LCP walk yields),
    // count distinct docs per span TEXT, and scrub all tokens covered
    // by any span held by >= minDocs docs.
    val n = 4; val minDocs = 2
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    def filler(k: Int): Seq[String] =
      Seq.fill(k)(vocab(rng.nextInt(vocab.size)))
    val longShared = // L = 7 > n: nested + overlapping windows
      Seq("one", "two", "three", "four", "five", "six", "seven")
    val exactN = Seq("red", "green", "blue", "white") // L = n exactly
    val shortSh = Seq("just", "three", "words")       // L = n-1: kept
    val intra = Seq("intra", "doc", "repeat", "only") // 1 doc, twice
    val docsTok: Seq[(Long, Seq[String])] = Seq(
      0L -> (longShared ++ filler(6) ++ exactN),
      1L -> (filler(3) ++ longShared ++ shortSh),
      2L -> (exactN ++ filler(5) ++ shortSh),
      3L -> (intra ++ filler(2) ++ intra), // within-doc only: NOT scrubbed
      4L -> filler(12), // 8-word vocab: accidental repeats possible —
      5L -> filler(12), // the oracle counts them identically if so
      6L -> longShared, // doc IS the span (start + end boundaries)
      7L -> Seq("tiny", "doc") // shorter than n: no grams
    )
    // brute-force oracle over ALL spans of length >= n
    val spanDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, ts) <- docsTok; s <- ts.indices; l <- n to (ts.length - s))
      spanDocs.updateWith(ts.slice(s, s + l).mkString(" "))(
        o => Some(o.getOrElse(Set.empty[Long]) + id))
    val dup = spanDocs.filter(_._2.size >= minDocs).keySet
    val expected: Map[Long, (Long, String)] = docsTok.map { case (id, ts) =>
      val covered = Array.fill(ts.length)(false)
      for (s <- ts.indices; l <- n to (ts.length - s)
           if dup(ts.slice(s, s + l).mkString(" ")); j <- s until s + l)
        covered(j) = true
      val kept = ts.zipWithIndex.collect { case (t, j) if !covered(j) => t }
      val nRemoved = (ts.length - kept.length).toLong
      id -> (nRemoved,
        if (nRemoved == 0) ts.mkString(" ") else kept.mkString(" "))
    }.toMap
    // sanity: the plants landed — something long got scrubbed, the
    // n-1 shared run and the within-doc repeat did not
    assert(expected(6L)._1 === 7L)
    assert(expected(3L)._1 === 0L)
    assert(expected(1L)._2.contains("just three words"))
    val df = docsTok.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    for (impl <- Seq(
        Curation.dropDuplicatedSpansConfirmed(df, "doc_id", "text", n, minDocs),
        Curation.dropDuplicatedSpans(df, "doc_id", "text", n, minDocs))) {
      val got = impl.select("doc_id", "n_removed", "clean_text").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(got === expected)
    }
    // the suffix-array form: ANY-repeat semantics — occurrence counts
    // (within-doc repeats included), not distinct-doc counts. Same
    // brute-force oracle with the count swapped.
    val spanOcc = scala.collection.mutable.Map.empty[String, Int]
    for ((_, ts) <- docsTok; s <- ts.indices; l <- n to (ts.length - s))
      spanOcc.updateWith(ts.slice(s, s + l).mkString(" "))(
        o => Some(o.getOrElse(0) + 1))
    val dupAny = spanOcc.filter(_._2 >= 2).keySet
    val expectedSa: Map[Long, (Long, String)] = docsTok.map {
      case (id, ts) =>
        val covered = Array.fill(ts.length)(false)
        for (s <- ts.indices; l <- n to (ts.length - s)
             if dupAny(ts.slice(s, s + l).mkString(" "));
             j <- s until s + l)
          covered(j) = true
        val kept =
          ts.zipWithIndex.collect { case (t, j) if !covered(j) => t }
        val nRemoved = (ts.length - kept.length).toLong
        id -> (nRemoved,
          if (nRemoved == 0) ts.mkString(" ") else kept.mkString(" "))
    }.toMap
    // the within-doc plant is exactly what separates the two forms
    assert(expectedSa(3L)._1 === 8L)
    val gotSa = Curation.dropDuplicatedSpansSa(df, "doc_id", "text", n)
      .select("doc_id", "n_removed", "clean_text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(gotSa === expectedSa)
  }

  test("line dedup within doc: first occurrence kept, blanks dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, "nav menu\ncontent a\nnav menu\n\n  \ncontent b\nnav menu"),
      (2L, "only unique\nlines here"),
      (3L, "")
    ).toDF("id", "text")
    val r = Curation.dedupLinesWithinDoc(df, "text")
      .orderBy("id")
      .select("id", "n_lines", "n_line_dupes", "clean_text").collect()
    assert(r(0).getLong(1) === 5L && r(0).getLong(2) === 2L)
    assert(r(0).getString(3) === "nav menu\ncontent a\ncontent b")
    assert(r(1).getLong(2) === 0L)
    assert(r(2).getLong(1) === 0L && r(2).getString(3) === "")
  }

  test("token classifier: separates vocabularies, scores held-out docs") {
    import spark.implicits._
    val pos = (0 until 8).map(i =>
      (i.toLong, s"spark scala engine query plan p$i", true))
    val neg = (8 until 16).map(i =>
      (i.toLong, s"cuisine recette fromage baguette vin n$i", false))
    val df = (pos ++ neg).toDF("id", "text", "label")
    val w = Curation.tokenClassWeights(df, "id", "text", "label",
      buckets = 1 << 12)
    val held = Seq((100L, "spark query engine"),
      (101L, "recette fromage baguette"),
      (102L, "")).toDF("id", "text")
    val r = Curation.scoreByTokenWeights(held, w, "id", "text",
        buckets = 1 << 12)
      .orderBy("id")
      .select("id", "pred", "score_mean_ppm", "n_tokens_scored").collect()
    assert(r(0).getBoolean(1) === true)   // pure positive vocabulary
    assert(r(1).getBoolean(1) === false)  // pure negative vocabulary
    assert(r(2).getLong(3) === 0L && r(2).getBoolean(1) === false)
  }

  test("domain blocklist: blocks domain + subdomains, both paths agree") {
    import spark.implicits._
    val df = Seq(
      (1L, "https://ads.tracker.net/x"),
      (2L, "https://sub.ads.tracker.net/y"),
      (3L, "https://tracker.net/z"), // parent of an entry: NOT blocked
      (4L, "https://good.example.org/a"),
      (5L, "not a url"),
      (6L, "https://ads.tracker.net:8443/p"), // explicit port: blocked
      (7L, "https://ads.tracker.net./q"), // trailing-dot FQDN: blocked
      (8L, "HTTPS://ADS.TRACKER.NET/r") // case: blocked
    ).toDF("id", "url")
    val bl = Seq("ads.tracker.net")
    val viaLit = df
      .withColumn("b", Curation.blockedByDomains(col("url"), bl))
      .orderBy("id").select("b").collect().map(_.getBoolean(0)).toSeq
    assert(viaLit === Seq(true, true, false, false, false,
      true, true, true))
    val viaJoin = Curation.markBlockedByDomainList(df, "id", "url",
        bl.toDF("domain"))
      .orderBy("id").select("blocked").collect()
      .map(_.getBoolean(0)).toSeq
    assert(viaJoin === viaLit)
  }

  test("new ops are partitioning-invariant: span scrub, classifier " +
      "training, host induction identical under repartition") {
    import spark.implicits._
    val df = (0L until 60L).map { i =>
      val span = if (i % 5 == 0)
        " dup span one two three four five six seven eight" else ""
      (i, s"w${i % 9} x${i % 7} y$i of the common tail words$span",
        i % 3 == 0,
        s"https://h${i % 6}.example.com/$i")
    }.toDF("id", "text", "label", "url")
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).toSeq.sorted
    val shuffled = df.repartition(7)
    assert(
      canon(Curation.dropDuplicatedSpans(df, "id", "text", n = 8)
        .select("id", "n_removed", "clean_text")) ===
      canon(Curation.dropDuplicatedSpans(shuffled, "id", "text", n = 8)
        .select("id", "n_removed", "clean_text")))
    assert(
      canon(Curation.tokenClassWeights(df, "id", "text", "label", 1 << 12)) ===
      canon(Curation.tokenClassWeights(shuffled, "id", "text", "label",
        1 << 12)))
    assert(
      canon(Curation.induceHostBlocklist(df, "url", col("label"),
        minDocs = 2L, minBadPpm = 200000L)) ===
      canon(Curation.induceHostBlocklist(shuffled, "url", col("label"),
        minDocs = 2L, minBadPpm = 200000L)))
  }

  test("incremental dedup vs index: exact / near / new verdicts") {
    import spark.implicits._
    val body = "the archived body alpha bravo charlie delta echo " +
      "foxtrot golf hotel india juliet kilo lima mike november"
    val index = Seq(
      (1L, body),
      (2L, "some other indexed document about entirely different things")
    ).toDF("id", "text")
    val fresh = Seq(
      (100L, body), // exact dup of 1
      (101L, body + " with a small extra trailing clause"), // near dup
      (102L, "a genuinely novel document nothing like the index at all")
    ).toDF("id", "text")
    val r = Dedup.dedupAgainstIndex(fresh, index, "id", "text")
      .orderBy("id")
      .collect().map(x => (x.getLong(0), x.getString(1),
        if (x.isNullAt(2)) -1L else x.getLong(2)))
    assert(r.toSeq === Seq((100L, "exact", 1L), (101L, "near", 1L),
      (102L, "new", -1L)))
  }

  test("dedupAgainstIndexSigs: verdicts identical through a PERSISTED " +
      "signature table (parquet round-trip)") {
    import spark.implicits._
    val body = "the archived body alpha bravo charlie delta echo " +
      "foxtrot golf hotel india juliet kilo lima mike november"
    val index = Seq(
      (1L, body),
      (2L, "some other indexed document about entirely different things")
    ).toDF("id", "text")
    val fresh = Seq(
      (100L, body),
      (101L, body + " with a small extra trailing clause"),
      (102L, "a genuinely novel document nothing like the index at all")
    ).toDF("id", "text")
    val expect = Dedup.dedupAgainstIndex(fresh, index, "id", "text")
      .orderBy("id").collect().map(_.toSeq).toSeq
    // the production shape: index signatures persisted once, reused
    val dir = java.nio.file.Files
      .createTempDirectory("sigs").toString + "/index_sigs"
    Dedup.signatureTable(index, "id", "text")
      .write.mode("overwrite").parquet(dir)
    val got = Dedup.dedupAgainstIndexSigs(fresh, "id", "text",
      spark.read.parquet(dir))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(got === expect)
  }

  test("splitLeakageAuditFromPairs: identical verdicts to the text form " +
      "from one shared pair generation") {
    import spark.implicits._
    val splits = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    val dup = "the same long duplicated body one two three four five " +
      "six seven eight nine ten"
    val docs = (0L until 40L).map(i => (i, if (i % 4 == 0) dup
      else s"unique text $i with filler words ${i * 7} and ${i * 13}"))
      .toDF("id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "id", "text",
      k = 16, bands = 8, minEstJaccard = 0.5, shingleN = 3)
    val fromPairs = Curation.splitLeakageAuditFromPairs(pairs, splits)
      .orderBy("split_lo", "split_hi").collect().map(_.toSeq).toSeq
    val fromText = Curation.splitLeakageAudit(docs, "id", "text",
      splits, minEstJaccard = 0.5)
      .orderBy("split_lo", "split_hi").collect().map(_.toSeq).toSeq
    assert(fromPairs === fromText && fromPairs.nonEmpty)
  }

  test("ScaleWindow.shardedRank: exact global ranks under heavy ties, " +
      "tiny shards, empty strata, repartition") {
    import spark.implicits._
    import graft.ops.ScaleWindow
    // constant score (worst case for any score-based sharding): the
    // unique id tie-break must still produce exact ranks 1..n
    val df = (0L until 500L).map(i => (i, i % 3, 7L)).toDF("id", "g", "v")
    val ranked = ScaleWindow.shardedRank(df, Seq("g"),
      Seq(col("v").desc, col("id")), "rk", "n", shards = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4))).toSeq
    ranked.groupBy(_._2).foreach { case (g, rows) =>
      assert(rows.map(_._3).sorted === (1L to rows.length).toSeq,
        s"group $g ranks must be exactly 1..n")
      assert(rows.forall(_._4 === rows.length))
      // constant v: rank order == id order
      assert(rows.sortBy(_._1).map(_._3) === rows.map(_._3).sorted
        .take(rows.length), s"group $g tie-break by id")
    }
    // no strata: one global ranking
    val global = ScaleWindow.shardedRank(df, Nil,
      Seq(col("id").desc), "rk", "n", shards = 7)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(global.map(_._2).sorted.toSeq === (1L to 500L).toSeq)
    assert(global.forall(_._3 === 500L))
    assert(global.find(_._1 === 499L).get._2 === 1L, "desc: max id is rank 1")
    // repartition invariance of the RESULT (shard boundaries may move)
    val again = ScaleWindow.shardedRank(df.repartition(13), Seq("g"),
      Seq(col("v").desc, col("id")), "rk", "n", shards = 7)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(ranked.map(r => r._1 -> r._3).toMap === again)
  }

  test("ScaleWindow.shardedRunningSum + perplexityBuckets: exact prefix " +
      "sums, token-mass terciles, ties, repartition invariance") {
    import spark.implicits._
    import graft.ops.ScaleWindow
    // 9 docs per group, 10 tokens each, strictly decreasing scores by
    // id → per-group prefix sums are (i+1)*10 and the terciles are
    // clean thirds
    val rows = for (g <- 0 until 2; i <- 0 until 9)
      yield (g * 100L + i, s"g$g", 100L - i, 10L)
    val df = rows.toDF("id", "g", "score", "n_toks")
    val cum = ScaleWindow.shardedRunningSum(df, Seq("g"),
      Seq(col("score").desc, col("id")), col("n_toks"), "cum", "tot",
      shards = 5)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("cum"), r.getAs[Long]("tot"))).toMap
    for (g <- 0 until 2; i <- 0 until 9)
      assert(cum(g * 100L + i) === ((i + 1) * 10L, 90L))
    val buck = Curation.perplexityBuckets(df, "id", "g", "score",
      "n_toks", shards = 5)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("start_tok"), r.getAs[Long]("total_tok"),
          r.getAs[String]("bucket"))).toMap
    for (g <- 0 until 2; i <- 0 until 9) {
      val expected = if (i < 3) "head" else if (i < 6) "middle" else "tail"
      assert(buck(g * 100L + i) === (i * 10L, 90L, expected),
        s"doc $i of group $g")
    }
    // constant score (all ties): order falls to id, assignment stays
    // exact and deterministic under repartition
    val tied = (0L until 30L).map(i => (i, "en", 5L, 1L))
      .toDF("id", "g", "score", "n_toks")
    def bucketsOf(d: org.apache.spark.sql.DataFrame) =
      Curation.perplexityBuckets(d, "id", "g", "score", "n_toks",
        shards = 4)
        .collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("bucket")).toMap
    val b1 = bucketsOf(tied)
    assert((0L until 10L).forall(b1(_) == "head") &&
      (10L until 20L).forall(b1(_) == "middle") &&
      (20L until 30L).forall(b1(_) == "tail"))
    assert(bucketsOf(tied.repartition(7)) === b1)
  }

  test("registrableDomain: the publicsuffix.org algorithm — exception " +
      "beats all, longest match, wildcard, implicit default") {
    import spark.implicits._
    // the canonical *.ck / !www.ck vectors from the PSL's own test
    // data, plus normal-rule and default-rule cases
    val rules = Seq("com", "uk", "co.uk", "*.ck", "!www.ck",
      "// comment line", "", "github.io", "io")
    val hosts = Seq(
      "example.com" -> ("com", "example.com"),
      "b.example.com" -> ("com", "example.com"),
      "com" -> ("com", null),
      "foo.co.uk" -> ("co.uk", "foo.co.uk"),
      "x.foo.co.uk" -> ("co.uk", "foo.co.uk"),
      "co.uk" -> ("co.uk", null),
      "test.ck" -> ("test.ck", null),
      "b.test.ck" -> ("test.ck", "b.test.ck"),
      "a.b.test.ck" -> ("test.ck", "b.test.ck"),
      "www.ck" -> ("ck", "www.ck"),
      "www.www.ck" -> ("ck", "www.ck"),
      "a.github.io" -> ("github.io", "a.github.io"),
      // no rule matches: implicit "*" default (rightmost label)
      "x.y.unknown" -> ("unknown", "y.unknown"))
    val df = hosts.map(_._1).toDF("host")
    val out = Curation.registrableDomain(df, "host", rules)
      .collect()
      .map(r => r.getAs[String]("host") ->
        (r.getAs[String]("public_suffix"), r.getAs[String]("reg_domain")))
      .toMap
    hosts.foreach { case (h, expected) =>
      assert(out(h) === expected, s"host $h")
    }
  }

  test("bigramFluency: common constructions outscore word salad; " +
      "deterministic under repartition") {
    import spark.implicits._
    // 8 fluent docs share every transition; the salad doc's
    // transitions each occur once
    val fluent = (0L until 8L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val salad = Seq((100L, "purple seven quantum beneath ocean twelve " +
      "syntax marble"))
    val df = (fluent ++ salad ++ Seq((200L, "solo"))).toDF("id", "text")
    val out = Curation.bigramFluency(df, "id", "text")
      .select("id", "n_bigrams", "rare_bigram_ppm", "fluency_ppm")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // smoothed conditional: fluent transitions (count 8) beat the
    // unique-word salad (count 1, smoothing-penalized)
    assert(out(0L)._3 > out(100L)._3,
      s"fluent ${out(0L)} must outscore salad ${out(100L)}")
    // rare-transition fraction: the robust garble signal
    assert(out(0L) === ((8L, 0L, out(0L)._3)))
    assert(out(100L)._2 === 1000000L, "salad = 100% rare transitions")
    // single-token doc: no bigrams, scored 0 (not null, not dropped)
    assert(out(200L) === ((0L, 0L, 0L)))
    val again = Curation.bigramFluency(df.repartition(7), "id", "text")
      .select("id", "n_bigrams", "rare_bigram_ppm", "fluency_ppm")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(again === out)
  }

  test("canonicalize THROWS on non-convergence instead of emitting " +
      "an inconsistent labeling") {
    import spark.implicits._
    // an 80-chain cannot finish star contraction in one round
    val edges = (0L until 79L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (0L until 80L).toDF("id")
    val e = intercept[IllegalStateException] {
      Dedup.canonicalize(nodes, "id", edges, maxIter = 1).count()
    }
    assert(e.getMessage.contains("not converged"))
  }

  /** Reference components: min id per connected component, by a
    * driver-side union-find over the same edges. */
  private def unionFindCanon(nodes: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("canonicalize == driver-side union-find (chain, star, clique, 80-chain)") {
    import spark.implicits._
    def labels(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain 0-..-9, star 20<-{21..25}, clique {30,31,32}, singletons
    val e = (0L until 9L).map(i => (i, i + 1)) ++
      (21L to 25L).map(i => (20L, i)) ++
      Seq((30L, 31L), (31L, 32L), (30L, 32L))
    val n = (0L to 9L) ++ (20L to 25L) ++ (30L to 32L) ++ Seq(77L, 88L)
    val ref = unionFindCanon(n, e)
    assert(ref(9L) === 0L && ref(25L) === 20L && ref(32L) === 30L)
    assert(ref(77L) === 77L && ref(88L) === 88L)
    val (nodes, edges) = (n.toDF("id"), e.toDF("a", "b"))
    assert(labels(Dedup.canonicalize(nodes, "id", edges)) === ref)
    // adversarial diameter: an 80-chain (crawler-trap shape): star
    // contraction lands inside 12 rounds, where min-id label
    // propagation would need 80
    val ce = (0L until 79L).map(i => (i, i + 1))
    val cn = 0L until 80L
    val cref = unionFindCanon(cn, ce)
    assert(cref.values.toSet === Set(0L))
    val (cnodes, chain) = (cn.toDF("id"), ce.toDF("a", "b"))
    assert(labels(Dedup.canonicalize(cnodes, "id", chain,
      maxIter = 12)) === cref)
  }

  test("bloom decontamination: output identical to exact path, even " +
      "with a tiny filter full of false positives") {
    import spark.implicits._
    val bench = Seq((1L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("bid", "btext")
    val corpus = Seq(
      (10L, "xx alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa yy"),
      (11L, "totally clean words that never appear in the benchmark " +
        "text here"),
      (12L, "short")
    ).toDF("id", "text")
    val exact = Curation.contaminationStats(corpus, bench, "id", "text",
        "btext", n = 8)
      .orderBy("id").select("id", "n_grams", "n_hit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    for (bits <- Seq(1 << 12, 64)) { // 64 bits ⇒ false positives galore
      val viaBloom = Curation.decontaminateExact(corpus, bench, "id",
          "text", "btext", n = 8, bloomBits = bits)
        .orderBy("id").select("id", "n_grams", "n_hit").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(viaBloom === exact, s"bits=$bits")
    }
  }

  test("benchmark span scrub: quoted item removed in place, doc kept") {
    import spark.implicits._
    val item = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((1L, item)).toDF("bid", "btext")
    val corpus = Seq(
      (10L, s"good prefix words here $item and a good suffix too"),
      (11L, "a perfectly clean document with no benchmark overlap at all")
    ).toDF("id", "text")
    val r = Curation.removeBenchmarkSpans(corpus, bench, "id", "text",
        "btext", n = 8, bloomBits = 1 << 12)
      .orderBy("id").collect()
    assert(r(0).getLong(2) === 10L) // exactly the quoted item's tokens
    assert(r(0).getString(4) ===
      "good prefix words here and a good suffix too")
    assert(r(1).getLong(2) === 0L)
  }

  test("latest snapshot as-of: newest <= cutoff kept per key, tie by id") {
    import spark.implicits._
    val df = Seq(
      (1L, "u1", 100L), (2L, "u1", 200L), (3L, "u1", 900L), // 900>cutoff
      (4L, "u2", 50L), (5L, "u2", 50L) // exact tie → min id survives
    ).toDF("id", "key", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val r = Curation.latestSnapshotAsOf(df, "key", "ts",
        timestamp_seconds(lit(500L)), "id")
      .orderBy("key").select("id").collect().map(_.getLong(0)).toSeq
    assert(r === Seq(2L, 4L))
  }

  test("IVF ANN: on clustered vectors recall vs brute force is high") {
    import spark.implicits._
    // 4 well-separated clusters × 30 vectors, deterministic jitter
    val dim = 8
    val rows = for {
      c <- 0 until 4
      i <- 0 until 30
    } yield {
      val v = Array.tabulate(dim) { j =>
        val base = if (j == c * 2) 1.0f else 0.0f
        base + ((i * 31 + j * 17) % 7 - 3) * 0.01f
      }
      ((c * 30 + i).toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val qs = df.filter(col("vec_id") % 30 === 0) // one query per cluster
    val brute = SimSearch.bruteForceTopK(df, qs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimSearch.ivfTopK(df, qs, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall $recall < 0.9 on clustered data")
  }

  test("curate: spam filtered, boilerplate stripped, dups collapsed") {
    import spark.implicits._
    val boiler = "subscribe to the newsletter"
    val spam = Seq.fill(6)("the offer is here").mkString("\n")
    def doc(body: String) = s"$boiler\n\n$body"
    val df = Seq(
      (1L, doc("the first article is about spark catalyst plans and codegen")),
      (2L, doc("a completely different text on boilerplate removal in web pages")),
      (3L, doc("the shared duplicate body that is exactly the same")),
      (4L, doc("the shared duplicate body that is exactly the same")),
      (5L, doc("the near duplicate body one two three four five six alpha")),
      (6L, doc("the near duplicate body one two three four five six beta")),
      (7L, spam) // repetition spam: dup_line_ppm >> ceiling
    ).toDF("id", "text")
    val out = Curation.curate(df, "id", "text", minTokens = 5,
      paraMinDocs = 3, minEstJaccard = 0.5).orderBy("id")
      .select("id", "clean_text").collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(!ids.contains(7L), "spam doc must be filtered")
    assert(ids.contains(3L) && !ids.contains(4L), "exact dup keeps min id")
    assert(ids.contains(5L) && !ids.contains(6L), "near dup keeps min id")
    assert(ids.contains(1L) && ids.contains(2L))
    assert(out.forall(r => !r.getString(1).contains(boiler)),
      "boilerplate paragraph (6 docs) must be stripped")
  }

  test("host blocklist induction: threshold + floor, feeds the filter") {
    import spark.implicits._
    val rows =
      (1 to 3).map(i => (i.toLong, "https://bad.example.com/" + i, true)) ++
      (4 to 7).map(i => (i.toLong, "https://mixed.example.org/" + i, i == 4)) ++
      (8 to 9).map(i => (i.toLong, "https://tiny.example.net/" + i, true))
    val df = rows.toDF("id", "url", "is_bad")
    val bl = Curation.induceHostBlocklist(df, "url", col("is_bad"),
      minDocs = 3L, minBadPpm = 500000L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(bl.keySet === Set("bad.example.com")) // mixed 25% < 50%; tiny < 3 docs
    assert(bl("bad.example.com") === 1000000L)
    val marked = Curation.markBlockedByDomainList(df, "id", "url",
        Curation.induceHostBlocklist(df, "url", col("is_bad"),
          minDocs = 3L, minBadPpm = 500000L).select("domain"))
      .filter(col("blocked")).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(marked === Set(1L, 2L, 3L))
  }

  test("curate with span scrub: duplicated sub-paragraph spans removed") {
    import spark.implicits._
    val planted = "one two three four five six seven eight nine ten"
    val df = Seq(
      (1L, s"the first article is about spark catalyst plans $planted " +
        "and more of the tail words here"),
      (2L, s"a different piece on the boilerplate removal $planted " +
        "with other trailing content today"),
      (3L, "an unrelated document that mentions nothing of the " +
        "repeated span at all beyond itself")
    ).toDF("id", "text")
    val plain = Curation.curate(df, "id", "text", minTokens = 5,
        paraMinDocs = 3)
      .select("clean_text").collect().map(_.getString(0))
    assert(plain.exists(_.contains(planted)),
      "without the scrub stage the duplicated span survives")
    val scrubbed = Curation.curate(df, "id", "text", minTokens = 5,
        paraMinDocs = 3, spanScrubN = 8)
      .orderBy("id").select("id", "clean_text").collect()
    assert(scrubbed.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert(scrubbed.forall(r => !r.getString(1).contains(planted)),
      "the scrub stage removes the cross-doc duplicated span")
  }

  test("keepTopQuantile: exact per-stratum rank gate, ties by id") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", 50L), (2L, "en", 90L), (3L, "en", 90L), (4L, "en", 10L),
      (5L, "de", 70L)
    ).toDF("id", "lang", "score")
    val r = Curation.keepTopQuantile(df, "id", "lang", "score",
        keepPpm = 500000L)
      .orderBy("id").select("id", "stratum_rank", "kept").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2)))
    // en: ranks by (score desc, id asc) = 2,3,1,4 → top 50% of 4 = {2,3};
    // de singleton: ceiling semantics keep it (rank-1 = 0 < 0.5·1e6)
    assert(r.toSeq === Seq((1L, 3L, false), (2L, 1L, true),
      (3L, 2L, true), (4L, 4L, false), (5L, 1L, true)))
  }

  test("splitLeakageAudit: planted cross-split near-dups are counted") {
    import spark.implicits._
    // find two ids in different hash splits, give them identical text
    val splits = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    val assign = (0L until 200L).toDF("id")
      .withColumn("s", Curation.hashSplit(col("id"), splits))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainId = assign.collectFirst { case (i, "train") => i }.get
    val testId = assign.collectFirst { case (i, "test") => i }.get
    val dup = "the same long duplicated body one two three four five " +
      "six seven eight nine ten"
    val docs = Seq(
      (trainId, dup), (testId, dup),
      (999L, "a totally unrelated document about something else entirely")
    ).toDF("id", "text")
    val out = Curation.splitLeakageAudit(docs, "id", "text", splits,
        minEstJaccard = 0.5)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq === Seq(("test", "train", 1L, true)))
  }

  test("hashSplit: total cover, stable, roughly weighted; sample independent") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("id")
    val splits = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    val counts = df.withColumn("s", Curation.hashSplit(col("id"), splits))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 2000L)
    assert(counts("train") > 1500 && counts("train") < 1700, counts)
    assert(counts("val") > 120 && counts("val") < 280, counts)
    // stability: same assignment on re-evaluation and under repartition
    val a = df.withColumn("s", Curation.hashSplit(col("id"), splits))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = df.repartition(7).withColumn("s", Curation.hashSplit(col("id"), splits))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    val frac = df.filter(Curation.sampledByHash(col("id"), 0.25)).count()
    assert(frac > 400 && frac < 600, s"sample count $frac")
  }

  test("contaminationStats: planted benchmark overlap detected, clean docs zero") {
    import spark.implicits._
    val benchText = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val corpus = Seq(
      (0L, s"prefix words here $benchText suffix words"), // contains bench 8-grams
      (1L, "totally unrelated content one two three four five six seven eight nine"),
      (2L, benchText) // the benchmark item verbatim
    ).toDF("doc_id", "text")
    val bench = Seq((0L, benchText)).toDF("bid", "btext")
    val out = Curation.contaminationStats(corpus, bench, "doc_id", "text",
      "btext", n = 8).orderBy("doc_id")
      .select("doc_id", "n_grams", "n_hit", "contamination_ppm").collect()
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // bench has 9 tokens → 2 distinct 8-grams
    assert(byId(2L) === ((2L, 2L, 1000000L)), byId(2L))
    assert(byId(0L)._2 === 2L, "embedded span shares both bench 8-grams")
    assert(byId(1L)._2 === 0L && byId(1L)._3 === 0L, "clean doc has zero hits")
    // broadcast off takes the shuffle-join path; results identical
    val shuffled = Curation.contaminationStats(corpus, bench, "doc_id",
      "text", "btext", n = 8, broadcastBench = false).orderBy("doc_id")
      .select("doc_id", "n_grams", "n_hit", "contamination_ppm").collect()
    assert(shuffled.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("packSequences: offsets tile each shard exactly, chunk counts consistent") {
    import spark.implicits._
    val df = (0L until 200L)
      .map(i => (i, Seq.fill((i % 37).toInt + 1)("tok").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.packSequences(df, "doc_id", "text",
      seqLen = 16, shards = 4).collect()
    assert(out.length === 200)
    val byShard = out.groupBy(_.getAs[Long]("shard"))
    assert(byShard.keySet.subsetOf((0L until 4L).toSet))
    byShard.foreach { case (_, rows) =>
      // within a shard the (start_offset, n_tokens+sep) intervals tile [0, total)
      val iv = rows.map(r => (r.getAs[Long]("start_offset"),
        r.getAs[Long]("n_tokens") + 1L)).sortBy(_._1)
      iv.foldLeft(0L) { case (expect, (start, sz)) =>
        assert(start === expect, s"gap/overlap at $start"); start + sz
      }
    }
    out.foreach { r =>
      val (s0, s1, nc) = (r.getAs[Long]("first_seq"),
        r.getAs[Long]("last_seq"), r.getAs[Long]("n_chunks"))
      assert(nc === s1 - s0 + 1)
      assert(r.getAs[Long]("start_offset") / 16 === s0)
    }
    // determinism under repartition
    val again = Curation.packSequences(df.repartition(7), "doc_id", "text",
      seqLen = 16, shards = 4).collect()
    assert(again.map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq ===
      out.map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq)
  }

  test("tokenBudgetAssign: kept is the budgeted hash-order prefix per stratum") {
    import spark.implicits._
    val df = (0L until 300L)
      .map(i => (i, if (i % 3 == 0) "en" else "xx", (i % 23) + 1))
      .toDF("doc_id", "lang", "n_toks")
    val budgets = Map("en" -> 200L)
    val out = Curation.tokenBudgetAssign(df, "doc_id", "lang", "n_toks",
      budgets, defaultBudget = 100L).collect()
    assert(out.length === 300)
    out.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      val budget = budgets.getOrElse(lang, 100L)
      val sorted = rows.sortBy(_.getAs[Long]("start_tok"))
      // offsets tile [0, total): no gaps or overlaps in the layout
      sorted.foldLeft(0L) { case (expect, r) =>
        assert(r.getAs[Long]("start_tok") === expect)
        expect + r.getAs[Long]("n_tokens")
      }
      // kept <=> start_tok < budget (a prefix of the hash order)
      sorted.foreach { r =>
        assert(r.getAs[Boolean]("kept") ===
          (r.getAs[Long]("start_tok") < budget))
      }
      // the prefix reaches the budget and overshoots by < one document
      val keptRows = sorted.takeWhile(_.getAs[Boolean]("kept"))
      val keptTok = keptRows.map(_.getAs[Long]("n_tokens")).sum
      assert(keptTok >= math.min(budget,
        rows.map(_.getAs[Long]("n_tokens")).sum))
      assert(keptTok - keptRows.last.getAs[Long]("n_tokens") < budget)
    }
    // determinism under repartition
    val again = Curation.tokenBudgetAssign(df.repartition(7), "doc_id",
      "lang", "n_toks", budgets, defaultBudget = 100L).collect()
    assert(again.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq ===
      out.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)
  }

  test("tokenBudgetAssign kept set == one Window.partitionBy(stratum) " +
      "running sum in md5(id:budget) order, on a hot stratum") {
    // 90% of the rows in one stratum: the shape a single stratum window
    // funnels through one task, which the sharded form must reproduce
    val rows = 3000L
    val df = spark.range(0, rows, 1, 6)
      .select(col("id"),
        when(pmod(col("id"), lit(10)) < 9, lit("en"))
          .otherwise(lit("de")).as("lang"),
        (pmod(col("id") * 2654435761L, lit(200)) + 10L).as("n_toks"))
    val budgets = Map("en" -> (rows * 20L), "de" -> (rows * 2L))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("_ord"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgetCol = budgets.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (els, (k, v)) =>
        when(col("lang") === k, lit(v)).otherwise(els) }
    val want = df
      .withColumn("_ord", md5(concat(col("id").cast("string"), lit(":budget"))))
      .withColumn("_cum", sum(col("n_toks")).over(w))
      .filter(col("_cum") - col("n_toks") < budgetCol)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // both strata keep a strict, non-empty prefix
    assert(want.nonEmpty && want.length < rows)
    Seq(1, 3).foreach { hex =>
      val got = Curation.tokenBudgetAssign(df, "id", "lang", "n_toks",
        budgets, shardHexLen = hex)
        .filter(col("kept")).select("id").collect().map(_.getLong(0))
        .sorted.toSeq
      assert(got === want, s"shardHexLen=$hex")
    }
  }

  test("capBuckets survivors == count-over-window cap, AQE on and off") {
    // one hot (band, bucket) per band, many small buckets, one bucket
    // at exactly the cap and one just past it
    val maxBucket = 50
    val body = spark.range(0, 4000, 1, 6)
      .select(col("id"),
        pmod(col("id"), lit(4)).cast("int").as("band"),
        when(pmod(col("id"), lit(100)) < 40, lit("HOT"))
          .otherwise(concat(lit("b"),
            pmod(col("id") * 2654435761L, lit(97)).cast("string")))
          .as("bucket"))
    val edge = spark.range(10000, 10000 + 2 * maxBucket + 1, 1, 2)
      .select(col("id"), lit(0).as("band"),
        when(col("id") < 10000 + maxBucket, lit("AT")).otherwise(lit("OVER"))
          .as("bucket"))
    val banded = body.unionByName(edge)
    def ids(df: DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = ids(banded
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("_bsz") <= maxBucket))
    assert(want.contains(10000L) && !want.contains(10000L + 2 * maxBucket))
    assert(!want.contains(0L) && want.length < 4000)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    Seq("true", "false").foreach { aqe =>
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try assert(ids(Dedup.capBuckets(banded, maxBucket)) === want, s"AQE $aqe")
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("temperatureResample: minority strata upweighted, p capped, stable") {
    import spark.implicits._
    // 900 docs of "big", 90 of "mid", 10 of "rare"
    val df = ((0L until 900L).map((_, "big")) ++
      (900L until 990L).map((_, "mid")) ++
      (990L until 1000L).map((_, "rare"))).toDF("id", "lang")
    val out = Curation.temperatureResample(df, "id", "lang",
      alpha = 0.5, keepFraction = 0.5)
    val cuts = out.select("lang", "keep_slots").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cuts.size === 3)
    // alpha < 1: keep probability increases as share shrinks; both
    // minority strata hit the p=1 cap here (0.5·t/share > 1)
    assert(cuts("big") < cuts("mid"))
    assert(cuts("mid") === 10000L && cuts("rare") === 10000L)
    assert(cuts("big") === 3907L) // floor(0.5·(⌊√900·2^20⌋/Σwq)·(1000/900)·1e4)
    // kept is exactly the hashSlot decision at the published cut
    val bad = out.withColumn("slot", Curation.hashSlot(col("id"), "resample"))
      .filter(col("kept") =!= (col("slot") < col("keep_slots"))).count()
    assert(bad === 0L)
    // determinism under repartition
    val again = Curation.temperatureResample(df.repartition(7), "id",
      "lang", alpha = 0.5, keepFraction = 0.5)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(again === out.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("corpusProfile: exact rank-based percentiles, stable under repartition") {
    import spark.implicits._
    val df = ((0L until 100L).map(v => ("a", v)) ++ Seq(("b", 7L)))
      .toDF("lang", "v")
    val out = Curation.corpusProfile(df.repartition(5), "lang", "v")
      .orderBy("lang").collect()
    // a: 0..99 -> rank formula ⌊p·99/100⌋+1, value = rank-1
    val a = out(0)
    assert(a.getAs[Long]("n_rows") === 100L && a.getAs[Long]("total") === 4950L)
    assert(a.getAs[Long]("v_min") === 0L && a.getAs[Long]("v_max") === 99L)
    assert(a.getAs[Long]("p50") === 49L)
    assert(a.getAs[Long]("p90") === 89L)
    assert(a.getAs[Long]("p99") === 98L)
    // singleton stratum: every percentile is the single value
    val b = out(1)
    assert(b.getAs[Long]("p50") === 7L && b.getAs[Long]("p99") === 7L)
  }

  test("corpusProfileApprox: exact count/sum/min/max, log2-bounded percentiles") {
    import spark.implicits._
    val df = ((0L until 100L).map(v => ("a", v)) ++
      Seq(("b", 7L), ("c", 0L))).toDF("lang", "v")
    val exact = Curation.corpusProfile(df, "lang", "v")
      .orderBy("lang").collect()
    val approx = Curation.corpusProfileApprox(df.repartition(5), "lang", "v")
      .orderBy("lang").collect()
    approx.zip(exact).foreach { case (ap, ex) =>
      // count/sum/min/max are NOT approximated
      assert(ap.getAs[Long]("n_rows") === ex.getAs[Long]("n_rows"))
      assert(ap.getAs[Long]("total") === ex.getAs[Long]("total"))
      assert(ap.getAs[Long]("v_min") === ex.getAs[Long]("v_min"))
      assert(ap.getAs[Long]("v_max") === ex.getAs[Long]("v_max"))
      // percentile upper bounds: exact p <= ub < 2*(p+1) (log2 bucket)
      Seq(("p50_ub", "p50"), ("p90_ub", "p90"), ("p99_ub", "p99"))
        .foreach { case (ubc, pc) =>
          val ub = ap.getAs[Long](ubc); val p = ex.getAs[Long](pc)
          assert(ub >= p, s"$ubc=$ub < exact $pc=$p")
          assert(ub <= 2 * p + 1, s"$ubc=$ub > 2*$pc+1")
        }
    }
    // zero-only stratum: zero bucket's upper bound is 0
    assert(approx(2).getAs[Long]("p99_ub") === 0L)
    // deterministic under repartition
    val again = Curation.corpusProfileApprox(df.repartition(11), "lang", "v")
      .orderBy("lang").collect().map(_.toSeq).toSeq
    assert(again === approx.map(_.toSeq).toSeq)
  }

  test("ivfRefineSums: exact per-cell component means; empty cells keep prev") {
    import spark.implicits._
    val df = Seq((0L, Seq(1.0f, 0.1f)), (1L, Seq(1.0f, 0.3f)),
      (2L, Seq(0.1f, 1.0f)), (3L, Seq(0.3f, 1.0f)))
      .toDF("vec_id", "embedding")
    // third centroid attracts nothing (opposite direction)
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, -1.0))
    val out = SimSearch.ivfRefineSums(df, "embedding", cents)
      .orderBy("cell", "pos").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((0, 0, 2L, 1.0), (0, 1, 2L, 0.2),
      (1, 0, 2L, 0.2), (1, 1, 2L, 1.0)))
    val refined = SimSearch.centroidsFrom(
      SimSearch.ivfRefineSums(df, "embedding", cents), cents)
    assert(refined(0) === Seq(1.0, 0.2) && refined(1) === Seq(0.2, 1.0))
    assert(refined(2) === Seq(-1.0, -1.0), "empty cell keeps its centroid")
    // stable under repartition (decimal sums are order-exact)
    val again = SimSearch.ivfRefineSums(df.repartition(3), "embedding",
      cents).orderBy("cell", "pos").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(again.toSeq === out.toSeq)
  }

  test("saltedDistinctCount: exact under a hot key, equals countDistinct") {
    import spark.implicits._
    // one viral key with 5000 rows over 900 distinct ids + long tail
    val rows = (0 until 5000).map(i => ("viral", (i % 900).toLong)) ++
      (0 until 200).map(i => (s"k$i", i.toLong))
    val df = rows.toDF("key", "id").repartition(7)
    val got = graft.ops.Skew.saltedDistinctCount(df, col("key"),
      col("id"), buckets = 16, out = "nd")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = df.groupBy("key").agg(countDistinct(col("id")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === ref)
    assert(got("viral") === 900L)
  }

  test("topNgrams: per-doc dedup, deterministic tie-break, top-k cut") {
    import spark.implicits._
    // "a b" in 3 docs (doc 3 repeats it -- counted once); "c d" in 2
    val df = Seq((1L, "a b x"), (2L, "a b y"), (3L, "a b q a b"),
      (4L, "c d z"), (5L, "c d w")).toDF("id", "text")
    val out = Curation.topNgrams(df, "text", n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out(0) === (("a b", 3L)))
    assert(out(1) === (("c d", 2L)))
    // third place is a df=1 gram; ties break by gram ascending
    assert(out(2)._2 === 1L && out.length === 3)
    // the hash-prefiltered scale path returns the identical table
    val pre = Curation.topNgrams(df, "text", n = 2, k = 3,
      hashPrefilter = true).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(pre.toSeq === out.toSeq)
  }

  test("tokenDfStats: document frequencies and rare-token ratio") {
    import spark.implicits._
    // "common" in all 3 docs; "pair" in 2; each doc one unique token
    val df = Seq((1L, "common pair only1"), (2L, "common pair only2"),
      (3L, "common only3 only3")).toDF("id", "text")
    val out = Curation.tokenDfStats(df, "id", "text", rareMaxDf = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1: tokens common(df3) pair(df2) only1(df1) -> sum 6, rare 2/3
    assert(out(0) === ((1L, 3L, 6L, 666666L)))
    assert(out(1) === ((2L, 3L, 6L, 666666L)))
    // doc3: common(3) only3(1) -> distinct 2, sum 4, rare 1/2
    assert(out(2) === ((3L, 2L, 4L, 500000L)))
  }

  test("chunkPassages: window/stride tiling, short docs, tail coverage") {
    import spark.implicits._
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, mk(10)), (2L, mk(16)), (3L, mk(33)), (4L, ""))
      .toDF("id", "text")
    val out = Curation.chunkPassages(df, "id", "text", winTokens = 16,
      stepTokens = 8).orderBy("id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    // 10 tokens < window -> one chunk of 10
    assert(out.filter(_._1 == 1L).toSeq === Seq((1L, 0L, 10L, mk(10))))
    // exactly one window -> one chunk
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0L, 16L, mk(16))))
    // 33 tokens: ceil((33-16)/8)+1 = 4 chunks; tail covers token 33
    val c3 = out.filter(_._1 == 3L)
    assert(c3.map(_._2).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(c3.map(_._3).toSeq === Seq(16L, 16L, 16L, 9L))
    assert(c3.last._4.endsWith("t33") &&
      c3.last._4.startsWith("t25"))
    // every token position appears in some chunk (coverage)
    assert(c3.flatMap(_._4.split(" ")).toSet.size === 33)
    // empty text -> one empty chunk
    assert(out.filter(_._1 == 4L).toSeq === Seq((4L, 0L, 0L, "")))
  }

  test("DocsGen: deterministic, planted structure present, salads distinct") {
    import org.apache.spark.sql.functions.md5
    val a = graft.gen.DocsGen.docs(spark, 300).orderBy("doc_id")
      .collect().map(_.toSeq)
    val b = graft.gen.DocsGen.docs(spark, 300).repartition(7)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    val texts = a.map(_(1).asInstanceOf[String])
    // exact-dup decade groups share their body line
    assert(texts(10).contains("the shared body g1 ") &&
      texts(11).contains("the shared body g1 "))
    // near-dup pairs differ by the one trailing token
    assert(texts(14).contains("alpha") && texts(15).contains("beta"))
    // word salads are NOT shifted copies of each other: no two salad
    // docs share a text (and their md5s are unique)
    val salads = a.map(_(0).asInstanceOf[Long]).zip(texts)
      .filter { case (id, _) =>
        id % 17 != 0 && id % 10 >= 2 && !Seq(4L, 5L).contains(id % 10) }
      .map(_._2)
    assert(salads.distinct.length === salads.length)
  }

  test("canonicalUrl: case/port/fragment/tracking-param normalization") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host lowercased, default port stripped, empty path -> /
      "HTTPS://WWW.Example.COM:443" -> "https://www.example.com/",
      // :80 stripped for http only
      "http://h.com:80/a" -> "http://h.com/a",
      "https://h.com:80/a" -> "https://h.com:80/a",
      // tracking params out, survivors sorted, path case preserved
      "http://h.com/A/B?z=1&utm_source=x&a=2#frag" -> "http://h.com/A/B?a=2&z=1",
      // query empties -> no '?'
      "http://h.com/p?utm_campaign=c&fbclid=z" -> "http://h.com/p",
      // bare param without '=' kept unless tracking
      "http://h.com/p?ref&keep" -> "http://h.com/p?keep",
      // no scheme -> unchanged
      "not a url" -> "not a url")
    val out = cases.map(_._1).toDF("u")
      .select(Curation.canonicalUrl(col("u"))).as[String].collect()
    assert(out.toSeq === cases.map(_._2))
  }

  test("canonicalUrl is idempotent over a combinatorial messy-URL corpus") {
    import spark.implicits._
    val urls = for {
      scheme <- Seq("http://", "HTTPS://", "ftp://", "")
      host <- Seq("Example.COM", "sub.Example.com:443", "h.io:8080")
      path <- Seq("", "/A/b", "/x%20y/")
      query <- Seq("", "?utm_source=a", "?b=2&a=1&fbclid=x", "?ref&z")
      frag <- Seq("", "#Sec")
    } yield s"$scheme$host$path$query$frag"
    val df = urls.toDF("u")
      .withColumn("c1", Curation.canonicalUrl(col("u")))
    val bad = df.withColumn("c2", Curation.canonicalUrl(col("c1")))
      .filter(col("c1") =!= col("c2"))
      .collect()
    assert(bad.isEmpty, s"non-idempotent: ${bad.take(3).mkString(";")}")
    assert(urls.size === 288)
  }

  test("hostOf extracts the authority; garbage yields empty") {
    import spark.implicits._
    val df = Seq("https://a.b.example.com/x?q=1", "ftp://h0st:8080/p",
      "not a url").toDF("u")
    val hosts = df.select(Curation.hostOf(col("u"))).collect()
      .map(_.getString(0))
    assert(hosts === Array("a.b.example.com", "h0st:8080", ""))
  }

  test("keepTopNPerStratum: absolute per-stratum cap, ties by id") {
    import spark.implicits._
    val df = Seq(
      (1L, "h1", 50L), (2L, "h1", 90L), (3L, "h1", 90L), (4L, "h1", 10L),
      (5L, "h2", 70L)
    ).toDF("id", "host", "score").repartition(7)
    val r = Curation.keepTopNPerStratum(df, "id", "host", "score", n = 2L)
      .orderBy("id")
      .select("id", "stratum_rank", "stratum_n", "kept").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getBoolean(3)))
    // h1 ranks by (score desc, id asc): 2,3,1,4 → cap 2 keeps {2,3}
    assert(r.toSeq === Seq((1L, 3L, 4L, false), (2L, 1L, 4L, true),
      (3L, 2L, 4L, true), (4L, 4L, 4L, false), (5L, 1L, 1L, true)))
  }

  test("rankAuc: exact tie-aware AUC matches the brute-force pair count") {
    import spark.implicits._
    // mixed ties, a perfectly-separated stratum, and a one-class
    // stratum (null AUC)
    val rows = Seq(
      ("a", true, 10L), ("a", true, 7L), ("a", false, 7L),
      ("a", false, 3L), ("a", true, 3L), ("a", false, 1L),
      ("b", true, 9L), ("b", true, 8L), ("b", false, 2L),
      ("c", true, 5L), ("c", true, 6L))
    val df = rows.toDF("g", "lb", "s").repartition(5)
    // brute-force reference: wins + ties/2 over all pos×neg pairs
    def ref(sub: Seq[(String, Boolean, Long)]): Option[Long] = {
      val pos = sub.collect { case (_, true, s) => s }
      val neg = sub.collect { case (_, false, s) => s }
      if (pos.isEmpty || neg.isEmpty) None
      else {
        val num2 = (for (p <- pos; n <- neg)
          yield if (p > n) 2L else if (p == n) 1L else 0L).sum
        Some(BigInt(num2) * 1000000 / (2L * pos.size * neg.size) match {
          case b => b.toLong
        })
      }
    }
    val got = Curation.rankAuc(df, "lb", "s", Seq("g"))
      .orderBy("g").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    for (g <- Seq("a", "b", "c"))
      assert(got(g) === ref(rows.filter(_._1 == g)), s"stratum $g")
    // global (no strata): one row, same reference
    val glob = Curation.rankAuc(df, "lb", "s").collect()
    assert(glob.length === 1)
    assert(Option(glob(0).getLong(2)).filter(_ => !glob(0).isNullAt(2))
      === ref(rows))
  }

  test("webgraph: degree stats and integer PageRank match a scalar twin") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
      ("d", "c"), ("a", "b") // parallel edge a→b counts twice
    ).toDF("src", "dst").repartition(4)
    val deg = WebGraph.degreeStats(edges, "src", "dst")
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(deg.toSeq === Seq(
      ("a", 3L, 2L, 1L), // out: b,b,c; distinct dst 2; in: c→a
      ("b", 1L, 1L, 2L),
      ("c", 1L, 1L, 3L),
      ("d", 1L, 1L, 0L)))
    // scalar twin with the identical integer arithmetic
    val es = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a",
      "d" -> "c", "a" -> "b")
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val outdeg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rk = nodes.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = es.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rk(s) / outdeg(s) }.sum).toMap
      rk = nodes.map(n =>
        n -> (150000000L + 850000L * contrib.getOrElse(n, 0L) / 1000000L))
        .toMap
    }
    val got = WebGraph.pageRank(edges, "src", "dst", 3)
      .orderBy("node").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.toSeq === nodes.map(n => n -> rk(n)))
    // rank mass sanity: teleport floor for the in-edge-less node
    assert(rk("d") === 150000000L)
  }

  test("trustRank: seeded teleport matches a scalar twin; farms " +
    "unreachable from seeds score zero") {
    import spark.implicits._
    // a: seed → b → c chain; f1↔f2 a link farm disconnected from seeds
    val es = Seq("a" -> "b", "b" -> "c", "c" -> "a",
      "f1" -> "f2", "f2" -> "f1", "f1" -> "f2")
    val edges = es.toDF("src", "dst").repartition(3)
    val seeds = Seq("a", "ghost").toDF("node") // absent seed: no-op
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val seedSet = Set("a")
    val outdeg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rk = nodes.map(n =>
      n -> (if (seedSet(n)) 1000000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = es.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rk(s) / outdeg(s) }.sum).toMap
      rk = nodes.map(n =>
        n -> ((if (seedSet(n)) 150000000L else 0L) +
          850000L * contrib.getOrElse(n, 0L) / 1000000L)).toMap
    }
    val got = WebGraph.trustRank(edges, "src", "dst", seeds, 3)
      .orderBy("node").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.toSeq === nodes.map(n => n -> rk(n)))
    // the farm cites itself all it wants: zero trust flows in
    assert(rk("f1") === 0L && rk("f2") === 0L)
    // trust decays down the chain from the seed
    assert(rk("a") > rk("b") && rk("b") > rk("c") && rk("c") > 0L)
  }

  test("dsir: target-like docs outscore alien docs; dense weights; " +
    "deterministic under repartition; scale widens the kept set") {
    import spark.implicits._
    // target domain speaks vocabulary A; the raw corpus is target docs
    // plus alien-vocabulary noise
    val tgt = (0L until 8L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta eta theta iota v$i"))
    val alien = (100L until 124L).map(i =>
      (i, s"zonk quux blarg wibble frobnitz grue xyzzy plugh n$i"))
    val raw = (tgt ++ alien).toDF("doc_id", "text").repartition(5)
    val target = tgt.toDF("doc_id", "text")
    val buckets = 1 << 12
    val w = Curation.dsirWeights(target, raw, "doc_id", "text", buckets)
    assert(w.count() === buckets.toLong) // dense: one row per bucket
    val score = Curation.dsirResample(raw, w, "doc_id", "text", buckets)
      .select("doc_id", "importance_ppm", "kept")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val tMin = tgt.map(t => score(t._1)._1).min
    val aMax = alien.map(a => score(a._1)._1).max
    assert(tMin > aMax,
      s"target min $tMin must beat alien max $aMax")
    // target-vocab docs are over-represented vs the raw mix (ratio > 1),
    // alien docs under-represented (ratio < 1)
    assert(tMin > 1000000L && aMax < 1000000L)
    // deterministic: same scores at a different parallelism
    val score2 = Curation.dsirResample(raw.repartition(1), w,
      "doc_id", "text", buckets)
      .select("doc_id", "importance_ppm", "kept")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(score === score2)
    // raising the scale never drops a kept doc, and importance > 1e6
    // at scale 1e6 means certain keep (threshold saturates)
    val keptAt = (s: Long) => Curation.dsirResample(raw, w, "doc_id",
      "text", buckets, scalePpm = s)
      .filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val k1 = keptAt(1000000L)
    val k4 = keptAt(4000000L)
    assert(k1.subsetOf(k4))
    assert(tgt.map(_._1).toSet.subsetOf(k1)) // importance > 1e6 ⇒ kept
  }

  test("containmentPairs: subset duplication surfaces via rare-shingle " +
    "blocking; cap accounting") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the " +
        "river bank today"),
      (2L, "the quick brown fox jumps over"), // strict subset of doc 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("id", "text").repartition(2)
    val got = Dedup.containmentPairs(docs, "id", "text", n = 3,
      maxShingleDf = 8, minContainPpm = 900000L).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) === (1L, 2L))
    assert(r.getAs[Long]("inter") === 4L) // doc 2 has 4 3-shingles
    assert(r.getAs[Long]("sza") === 12L)
    assert(r.getAs[Long]("contain_b_ppm") === 1000000L) // fully inside
    assert(r.getAs[Long]("contain_a_ppm") === 4000000L / 12)
    // the pair's symmetric Jaccard is 4/12 — below any usual LSH gate
    // cap accounting: maxShingleDf=1 drops every shared blocking key
    assert(Dedup.containmentPairs(docs, "id", "text", 3, 1, 0L).isEmpty)
    val skipped = Dedup.containmentSkippedShingles(docs, "id", "text",
      3, 1).collect()
    assert(skipped.length === 4 && skipped.forall(_.getLong(1) === 2L))
  }

  test("winnowFingerprints/winnowPairs: the local guarantee — a shared " +
    "run of w+k-1 tokens yields a shared fingerprint; short docs") {
    import spark.implicits._
    // exactly w + k - 1 = 11 shared tokens inside otherwise-disjoint docs
    val run = "regulators announced sweeping oversight changes late " +
      "thursday affecting cross border settlement"
    val docs = Seq(
      (1L, "alpha beta gamma delta " + run + " epsilon zeta eta theta"),
      (2L, "one two three four five " + run + " six seven eight nine"),
      (3L, "completely unrelated text about gardening tulips roses " +
        "daffodils ferns moss and stones in the back yard")
    ).toDF("id", "text").repartition(2)
    val fps = Dedup.winnowFingerprints(docs, "id", "text", k = 4, w = 8)
    val f1 = fps.filter(col("id") === 1L).select("fp").distinct()
    val f2 = fps.filter(col("id") === 2L).select("fp").distinct()
    assert(f1.intersect(f2).count() >= 1) // SWA03 Theorem: ≥1 shared
    val pairs = Dedup.winnowPairs(docs, "id", "text", k = 4, w = 8,
      maxFpDf = 8, minOverlapPpm = 0L).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L)))
    assert(pairs.head.getAs[Long]("shared_fps") >= 1L)
    // < k tokens ⇒ no grams ⇒ no fingerprints; k ≤ tokens but fewer
    // grams than w ⇒ the whole gram list is one window ⇒ exactly the
    // single minimum survives (short docs still fingerprint)
    val short = Seq((9L, "a b c"), (10L, "a b c d e"))
      .toDF("id", "text")
    val sf = Dedup.winnowFingerprints(short, "id", "text", 4, 8)
    assert(sf.filter(col("id") === 9L).count() === 0L)
    assert(sf.filter(col("id") === 10L).count() === 1L)
    // winnowing selects a subset of gram hashes: every fingerprint of
    // doc 1 must also be one of its 4-gram hashes
    val gs = docs.filter(col("id") === 1L)
      .select(explode(Dedup.shingles(col("text"), 4)).as("g"))
      .select(graft.functions.Md5Prefix32(col("g")).as("fp"))
    assert(f1.exceptAll(gs.distinct()).isEmpty)
  }

  test("marginMining: planted twins mine forward-best with the top " +
    "margins; hub-agnostic vs the absolute-cosine rank") {
    import spark.implicits._
    // left side: 3 axis-aligned vectors; right side: a near-twin of
    // each (slightly rotated, still closest by far) + 2 "hub" vectors
    // moderately close to EVERYTHING (high neighborhood density)
    val left = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val right = Seq(
      (1L, Seq(0.95f, 0.05f, 0.0f, 0.0f)),  // twin of 0
      (3L, Seq(0.05f, 0.95f, 0.0f, 0.0f)),  // twin of 2
      (5L, Seq(0.0f, 0.05f, 0.95f, 0.0f)),  // twin of 4
      (7L, Seq(0.5f, 0.5f, 0.5f, 0.5f)),    // hub
      (9L, Seq(0.6f, 0.5f, 0.4f, 0.5f))     // hub
    ).toDF("vec_id", "embedding")
    val mined = graft.ops.SimSearch.marginMining(left, right,
      "vec_id", "embedding", k = 3, minMarginPpm = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("margin_ppm"))).sortBy(_._1)
    // every left vector's forward-best is its twin, not a hub
    assert(mined.map(m => (m._1, m._2)).toSeq ===
      Seq((0L, 1L), (2L, 3L), (4L, 5L)))
    // the margin strictly exceeds 1.0: the twin stands out of both
    // endpoints' hub-inflated neighborhoods
    mined.foreach(m => assert(m._3 > 1000000L, s"margin not > 1: $m"))
  }

  test("hits: integer hub/authority scores match a scalar twin") {
    import spark.implicits._
    val es = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a",
      "d" -> "c", "a" -> "b")
    val edges = es.toDF("src", "dst").repartition(4)
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    var h = nodes.map(_ -> BigInt(1000000000L)).toMap
    var a = Map.empty[String, BigInt]
    for (_ <- 1 to 2) {
      val araw = nodes.map(n =>
        n -> es.filter(_._2 == n).map(x => h(x._1)).sum).toMap
      val am = araw.values.max
      a = nodes.map(n => n -> araw(n) * 1000000000L / am).toMap
      val hraw = nodes.map(n =>
        n -> es.filter(_._1 == n).map(x => a(x._2)).sum).toMap
      val hm = hraw.values.max
      h = nodes.map(n => n -> hraw(n) * 1000000000L / hm).toMap
    }
    val got = WebGraph.hits(edges, "src", "dst", 2)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === nodes.map(n => (n, a(n).toLong, h(n).toLong)))
    // max normalization: the top authority and top hub sit exactly at
    // Scale; the pure-sink node d has hub from its edge but 0 authority
    assert(a.values.max === BigInt(1000000000L))
    assert(h.values.max === BigInt(1000000000L))
    assert(a("d") === BigInt(0))
  }

  test("resolveRedirects: chains, cycles, duplicate-source collapse " +
    "and the hop budget") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), // chain → terminal d
      ("x", "y"), ("y", "x"),             // 2-cycle: unresolved
      ("p", "q"), ("p", "a")              // dup source: min → "a" wins
    ).toDF("src", "dst").repartition(3)
    val got = WebGraph.resolveRedirects(edges, "src", "dst", maxHops = 32)
      .orderBy("url").collect()
      .map(r => (r.getString(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(3)))
    assert(got.toSeq === Seq(
      ("a", Some("d"), Some(3L), true),
      ("b", Some("d"), Some(2L), true),
      ("c", Some("d"), Some(1L), true),
      ("p", Some("d"), Some(4L), true), // p → a (min) → … → d
      ("x", None, None, false),
      ("y", None, None, false)))
    // hop budget: maxHops=2 resolves only the ≤2-hop tails; note p
    // collapses to p→a before iterating, so its true depth is 4
    val tight = WebGraph.resolveRedirects(edges, "src", "dst", maxHops = 2)
      .orderBy("url").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(3)))
    assert(tight.toSeq === Seq(
      ("a", None, false),
      ("b", Some("d"), true),
      ("c", Some("d"), true),
      ("p", None, false),
      ("x", None, false),
      ("y", None, false)))
    // exact-budget boundary: a 3-hop chain with maxHops=3 (rounds=2,
    // reach 4 > chain) still reports the TRUE hop count, not 2^rounds
    val three = WebGraph.resolveRedirects(
      Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst"),
      "src", "dst", maxHops = 3)
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(three.toSeq === Seq(("a", "d", 3L), ("b", "d", 2L),
      ("c", "d", 1L)))
  }

  test("extractionScore: multiset token precision/recall/F1 in ppm") {
    import spark.implicits._
    val gold = Seq((1L, "The cat sat on the mat"),
      (2L, "alpha beta gamma"), (3L, "x x y"))
      .toDF("doc_id", "text").repartition(2)
    val pred = Seq((1L, "the cat sat on the mat nav"), (2L, ""),
      (3L, "x y y")).toDF("doc_id", "ptext").repartition(3)
    val got = TextAnalysis.extractionScore(gold, pred, "doc_id",
        "text", "ptext")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_gold"),
        r.getAs[Long]("n_pred"), r.getAs[Long]("n_overlap"),
        r.getAs[Long]("precision_ppm"), r.getAs[Long]("recall_ppm"),
        r.getAs[Long]("f1_ppm")))
    val p1 = 6000000L / 7
    val f1 = 2 * p1 * 1000000L / (p1 + 1000000L)
    assert(got.toSeq === Seq(
      (1L, 6L, 7L, 6L, p1, 1000000L, f1),  // boilerplate token added
      (2L, 3L, 0L, 0L, 0L, 0L, 0L),        // empty prediction
      // multiset: x min(2,1) + y min(1,2) = 2 of 3
      (3L, 3L, 3L, 2L, 666666L, 666666L, 666666L)))
  }

  test("snapshotDiff: new / gone / changed / unchanged verdicts") {
    import spark.implicits._
    val prev = Seq(("a", "h1"), ("b", "h2"), ("c", "h3"))
      .toDF("url", "h").repartition(2)
    val cur = Seq(("b", "h2"), ("c", "hX"), ("d", "h4"))
      .toDF("url", "h").repartition(3)
    val got = Curation.snapshotDiff(prev, cur, "url", "h")
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getAs[String]("status")))
    assert(got.toSeq === Seq(("a", "gone"), ("b", "unchanged"),
      ("c", "changed"), ("d", "new")))
  }

  test("c4Clean: line predicate (terminal punct, min words, javascript) " +
    "and page gate (sentences, lorem ipsum, brace)") {
    import spark.implicits._
    val in = Seq(
      (1L, "Good first sentence here today.\nno punct line\nshort.\n" +
        "We have javascript mentioned right here today.\n" +
        "   Second proper sentence arrives now!\n" +
        "Third one is also quite fine?\n" +
        "Fourth sentence ends with a quote words\"\n" +
        "Fifth sentence finishes. The page ends properly."),
      (2L, "Lorem ipsum dolor sit amet. This page has many proper " +
        "sentences. One. Two. Three. Four. Five."),
      (3L, "var x = { a: 1 }. This brace page still counts sentences " +
        "fine. More. Words here. Even. More."),
      (4L, "Too few sentences here.")
    ).toDF("doc_id", "text").repartition(2)
    val out = Curation.c4Clean(in, "doc_id", "text")
      .orderBy("doc_id").collect()
    val facts = out.map(r => (r.getAs[Boolean]("kept"),
      r.getAs[Long]("n_lines_kept"), r.getAs[Long]("n_lines_dropped"),
      r.getAs[Long]("n_sentences")))
    assert(facts.toSeq === Seq(
      (true, 5L, 3L, 5L),   // js/short/punctless lines dropped
      (false, 1L, 0L, 7L),  // lorem ipsum kills the page
      (false, 1L, 0L, 6L),  // curly brace kills the page
      (false, 1L, 0L, 1L))) // < 5 sentences
    // kept lines are trimmed and newline-joined, in order
    assert(out(0).getAs[String]("clean_text").split("\n")(1) ===
      "Second proper sentence arrives now!")
    assert(out(3).getAs[String]("clean_text") ===
      "Too few sentences here.")
  }

  test("hostBoilerplateScrub: df threshold, cap accounting, original " +
    "text preserved, broadcast == shuffle path") {
    import spark.implicits._
    // host A: 3 docs sharing NAV + FOOT templates (df 100%) and one
    // line shared by 2 of 3 (df 66% ≥ 60%); host B: one doc (no
    // template possible at minDocs=2)
    val in = Seq(
      (0L, "a.com", "NAV\nalpha beta\nshared\nFOOT"),
      (1L, "a.com", "NAV\ngamma delta\nshared\nFOOT"),
      (2L, "a.com", "NAV\nunique epsilon\nFOOT"),
      (3L, "b.com", "NAV\nlonely\nFOOT")
    ).toDF("doc_id", "host", "text")
    for (bcast <- Seq(true, false)) {
      val out = Curation.hostBoilerplateScrub(in, "doc_id", "host",
          "text", minDocPpm = 600000L, broadcastTemplates = bcast)
        .orderBy("doc_id").collect()
      assert(out.map(_.getAs[String]("clean_text")).toSeq === Seq(
        "alpha beta", "gamma delta", "unique epsilon",
        "NAV\nlonely\nFOOT"))
      assert(out.map(_.getAs[Long]("n_removed")).toSeq ===
        Seq(3L, 3L, 2L, 0L))
      assert(out.forall(_.getAs[Long]("n_bl_dropped") === 0L))
    }
    // cap: maxLines=1 keeps only the highest-df template (ties by
    // hash) and ACCOUNTS for the dropped ones per doc of that host
    val capped = Curation.hostBoilerplateScrub(
        in.filter(col("host") === "a.com"), "doc_id", "host", "text",
        minDocPpm = 600000L, maxLines = 1)
      .orderBy("doc_id").collect()
    assert(capped.forall(_.getAs[Long]("n_removed") === 1L))
    assert(capped.forall(_.getAs[Long]("n_bl_dropped") === 2L))
    // doc 3 untouched: text must be the ORIGINAL string reference-equal
    // content (no rebuild normalization)
  }

  test("editVerifiedPairs: order-blind LSH candidates confirmed or " +
    "killed by levenshtein") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "zeta epsilon delta gamma beta alpha"), // same SET, reversed
      (3L, "alpha beta gamma delta epsilon zeta eta"), // true revision
      (4L, "unrelated totally different words here entirely")
    ).toDF("id", "text").repartition(2)
    val all = Dedup.editVerifiedPairs(docs, "id", "text", k = 16,
      bands = 8, minEstJaccard = 0.5, maxDistPpm = 1000000L)
      .orderBy("a", "b").collect()
    val allPairs = all.map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical token sets → LSH candidates regardless of order
    assert(allPairs.contains((1L, 2L)))
    assert(allPairs.contains((1L, 3L)))
    // the verification gate: the reversal dies, the revision survives
    val verified = Dedup.editVerifiedPairs(docs, "id", "text", k = 16,
      bands = 8, minEstJaccard = 0.5, maxDistPpm = 150000L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("edit_dist"), r.getAs[Long]("dist_ppm"))).toSet
    assert(verified.map(v => (v._1, v._2)) === Set((1L, 3L)))
    val (_, _, ed, ppm) = verified.head
    assert(ed === 4L) // " eta" appended
    assert(ppm === 4L * 1000000L / 39L) // normalized by the longer side
  }

  test("anchor retrieval: inbound anchors rank the target; nofollow, " +
    "non-http and cap honored") {
    import spark.implicits._
    val links = Seq(
      ("http://a.com/1", "http://target.com/x", "download firefox", false),
      ("http://b.com/2", "http://target.com/y", "download firefox", false),
      ("http://c.com/3", "http://target.com/z", "firefox browser", false),
      ("http://d.com/4", "http://other.com/p", "download chrome", false),
      ("http://e.com/5", "http://spam.com/q", "firefox firefox", true),
      ("http://f.com/6", "ftp://files.com/r", "firefox", false)
    ).toDF("url", "href_abs", "anchor", "nofollow")
    val qs = Seq(("q1", "firefox")).toDF("query_id", "term")
    val got = Retrieval.anchorRetrieval(links, qs, topK = 5)
      .orderBy("rank").collect()
    // only target.com matches: spam.com is nofollow, files.com non-http
    assert(got.map(_.getString(1)).toSeq === Seq("target.com"))
    // cap 1 keeps only the modal anchor ("download firefox", cnt 2) —
    // the target still matches the query through it
    val capped = Retrieval.anchorRetrieval(links, qs, topK = 5,
      maxAnchorsPerTarget = 1)
    assert(capped.count() === 1)
  }

  test("cdc chunks: boundaries re-synchronize after a front insertion") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w${i % 23}x$i").mkString(" ")
    val d = Seq((1L, base), (2L, "inserted " + base)).toDF("id", "text")
    val ch = Curation.cdcChunks(d, "id", "text").collect()
      .map(r => (r.getLong(0), r.getString(4)))
    val h1 = ch.filter(_._1 == 1L).map(_._2).toSet
    val h2 = ch.filter(_._1 == 2L).map(_._2).toSet
    assert(h1.size >= 2, s"want multiple chunks, got ${h1.size}")
    // only the chunk containing the insertion can differ — a
    // fixed-width splitter would shift and share nothing
    assert((h1 intersect h2).size >= h1.size - 1)
  }

  test("chunk near-dup pairs: prepended-header doc pairs with its " +
    "source; unrelated doc absent") {
    import spark.implicits._
    val base = (1 to 80).map(i => s"t${i % 31}v$i").mkString(" ")
    val d = Seq((1L, base), (2L, "added header tokens here " + base),
      (3L, (100 to 160).map(i => s"z$i").mkString(" ")))
      .toDF("id", "text")
    val pairs = Curation.chunkNearDupPairs(d, "id", "text",
        minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 0.5),
      pairs.mkString(","))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("rake: hand-computed deg/freq phrase scores") {
    import spark.implicits._
    // candidates [deep learning], [deep learning networks]:
    // freq deep=2 learning=2 networks=1; deg 5/5/3 → wsc 2.5M/2.5M/3M
    val d = Seq((1L, "deep learning of deep learning networks"))
      .toDF("id", "text")
    val got = TextAnalysis.rakeKeywords(d, "id", "text", Seq("of"),
        topK = 5)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq === Seq(
      ("deep learning networks", 1L, 8000000L, 3L),
      ("deep learning", 1L, 5000000L, 2L)))
  }

  test("moore-lewis: target-domain docs score above background; " +
    "bigram-free doc scores null") {
    import spark.implicits._
    // background shares the head token "alpha" so the general model
    // dilutes p(beta|alpha) — with fully disjoint vocab the two
    // models coincide on target bigrams and the ratio is exactly 0
    val d = ((0L until 10L).map(i => (i, "alpha beta gamma alpha beta"))
      ++ (10L until 20L).map(i => (i, "alpha zeta epsilon alpha zeta"))
      ++ Seq((20L, "kappa"))).toDF("id", "text")
    val got = Curation.mooreLewis(d, "id", "text",
        d.filter($"id" < 10L)).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(0L).get > 0)
    assert(got(0L).get > got(15L).get)
    assert(got(20L) === None)
  }

  test("term proximity: tight co-occurrence outranks loose; docs " +
    "missing a term excluded; single-term query yields nothing") {
    import spark.implicits._
    val d = Seq((1L, "alpha x x x beta"), (2L, "alpha beta"),
      (3L, "alpha only here")).toDF("id", "text")
    val qs = Seq(("q", "alpha"), ("q", "beta"), ("s", "alpha"))
      .toDF("query_id", "term")
    val got = Retrieval.termProximity(d, "id", "text", qs, topK = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(("q", 2L, 1L), ("q", 1L, 4L)))
  }

  test("effective diameter: clique crosses at round 1, path much later") {
    import spark.implicits._
    val clique = (for { i <- 0 until 8; j <- 0 until 8 if i < j }
      yield (s"n$i", s"n$j")).toDF("x", "y")
    val dc = WebGraph.effectiveDiameter(
      WebGraph.hyperAnf(clique, "x", "y", p = 5, rounds = 3)).collect()
    assert(dc.length === 1)
    assert(dc(0).getLong(1) === 1L) // crossing_round: 1 hop reaches all
    assert(dc(0).getLong(0) <= 1000L && dc(0).getLong(0) > 0L)
    val path = (0 until 12).sliding(2).map(w => (s"p${w(0)}", s"p${w(1)}"))
      .toSeq.toDF("x", "y")
    val dp = WebGraph.effectiveDiameter(
      WebGraph.hyperAnf(path, "x", "y", p = 5, rounds = 8)).collect()(0)
    assert(dp.getLong(1) >= 3L, s"path crossed at ${dp.getLong(1)}")
  }

  test("term drift: identical corpora 0, disjoint vocab sums to 1 bit") {
    import spark.implicits._
    val a = Seq((1L, "x y z")).toDF("id", "text")
    assert(TextAnalysis.termDrift(a, a, "text")
      .agg(sum(abs(col("jsd_contrib")))).collect()(0)
      .getDouble(0) === 0.0)
    val b = Seq((1L, "p q r")).toDF("id", "text")
    val tot = TextAnalysis.termDrift(a, b, "text")
      .agg(round(sum(col("jsd_contrib")), 4)).collect()(0).getDouble(0)
    assert(tot === 1.0, s"JSD of disjoint = 1 bit, got $tot")
  }

  test("yule's k: hand-computed repetitive vs all-distinct; empty null") {
    import spark.implicits._
    val d = Seq((1L, "a a a b"), (2L, "a b c d"), (3L, ""))
      .toDF("id", "text")
    val got = d.select(col("id"),
        TextAnalysis.yuleK(col("text")).as("k"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L) === Some(3750000L)) // (10-4)*1e7/16
    assert(got(2L) === Some(0L))
    assert(got(3L) === None)
  }

  test("stopword induction: uniform term flagged, bursty term not") {
    import spark.implicits._
    val d = (0L until 40L).map(i => (i, "the quick fox" +
      (if (i % 20 == 0) " burstword burstword burstword burstword"
       else ""))).toDF("id", "text")
    val got = TextAnalysis.induceStopwords(d, "id", "text", topK = 10)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(got("the"))
    // vmr = (40*32-64)/(40*8) = 3.8e6 > threshold
    assert(!got("burstword"))
  }

  test("term dispersion: one-doc term far less dispersed than " +
    "everywhere term") {
    import spark.implicits._
    val d = (0L until 40L).map { i =>
      (i, "common filler words here" +
        (if (i == 7L) " rareterm rareterm" else ""))
    }.toDF("id", "text")
    val got = TextAnalysis.termDispersion(d, "id", "text", parts = 10,
        topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("rareterm") > got("common") + 300000L,
      s"rare=${got("rareterm")} common=${got("common")}")
    assert(got("common") < 200000L)
  }

  test("term burstiness: clumped term VMR far above evenly-spread term") {
    import spark.implicits._
    val d = ((0L until 10L).map(i => (i, "f f")) ++
      Seq((10L, "b b b b b b b b b b"), (11L, "b b b b b b b b b b")))
      .toDF("id", "text")
    val got = TextAnalysis.termBurstiness(d, "id", "text", topK = 5)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // f: (12*40-400)/(12*20) = 1/3; b: (12*200-400)/(12*20) = 25/3
    assert(got("f") === 333333L)
    assert(got("b") === 8333333L)
  }

  test("cohens kappa: perfect 1e6, opposite -1e6, constant raters null") {
    import spark.implicits._
    val perfect = Seq((true, true), (true, true), (false, false),
      (false, false)).toDF("a", "b")
    assert(Curation.cohensKappa(perfect, "a", "b").collect()(0)
      .getLong(2) === 1000000L)
    val opposite = Seq((true, false), (true, false), (false, true),
      (false, true)).toDF("a", "b")
    assert(Curation.cohensKappa(opposite, "a", "b").collect()(0)
      .getLong(2) === -1000000L)
    val const = Seq((true, true), (true, true)).toDF("a", "b")
    assert(Curation.cohensKappa(const, "a", "b").collect()(0).isNullAt(2))
  }

  test("gini concentration: equal weights 0, dominant host 720000") {
    import spark.implicits._
    val eq = Seq(("h1", 5L), ("h2", 5L), ("h3", 5L), ("h4", 5L))
      .toDF("host", "w")
    val eqr = Curation.giniConcentration(eq, "host", "w").collect()(0)
    assert(eqr.getLong(2) === 0L)
    assert(eqr.getLong(3) === 250000L) // HHI = 1/n for uniform
    // [1,1,1,97]: (2*394 - 5*100)*1e6 / (4*100) = 720000
    val dom = Seq(("h1", 1L), ("h2", 1L), ("h3", 1L), ("h4", 97L))
      .toDF("host", "w")
    val domr = Curation.giniConcentration(dom, "host", "w").collect()(0)
    assert(domr.getLong(2) === 720000L)
    assert(domr.getLong(3) === 941200L) // (1+1+1+9409)*1e6/10000
  }

  test("calibration error: perfectly calibrated bin 0, overconfident " +
    "bin full gap") {
    import spark.implicits._
    val d = ((1 to 10).map(i => (i % 2 == 0, 500000L, "a")) ++
      (1 to 10).map(_ => (false, 900000L, "b")))
      .toDF("lb", "conf", "src")
    val got = Curation.calibrationError(d, "lb", "conf",
        strataCols = Seq("src"))
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4)))
    assert(got(0) === (("a", 10L, 0L, 0L)))
    assert(got(1) === (("b", 10L, 900000L, 900000L)))
  }

  test("spearman rho: identity 1e6, reversal -1e6, in-subset re-rank") {
    import spark.implicits._
    val a = Seq(("q", 1L, 1L), ("q", 2L, 2L), ("q", 3L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val same = Retrieval.spearmanRho(a, a).collect()(0)
    assert(same.getLong(3) === 1000000L)
    val rev = Seq(("q", 1L, 3L), ("q", 2L, 2L), ("q", 3L, 1L))
      .toDF("query_id", "doc_id", "rank")
    assert(Retrieval.spearmanRho(a, rev).collect()(0).getLong(3) ===
      -1000000L)
    // original ranks 5/9/11 re-rank to 1/2/3 within the subset:
    // identity despite different raw rank values
    val sparse = Seq(("q", 1L, 5L), ("q", 2L, 9L), ("q", 3L, 11L))
      .toDF("query_id", "doc_id", "rank")
    assert(Retrieval.spearmanRho(a, sparse).collect()(0).getLong(3) ===
      1000000L)
  }

  test("kendall tau: hand-computed swap, full reversal, null under " +
    "2 common, disjoint absent") {
    import spark.implicits._
    val a = Seq(("q", 1L, 1L), ("q", 2L, 2L), ("q", 3L, 3L),
      ("r", 7L, 1L), ("s", 5L, 1L)).toDF("query_id", "doc_id", "rank")
    val b = Seq(("q", 1L, 1L), ("q", 3L, 2L), ("q", 2L, 3L),
      ("r", 7L, 1L), ("s", 6L, 1L)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.kendallTau(a, b).orderBy("query_id").collect()
    assert(got.length === 2) // "s" shares no docs → absent
    val gq = got(0)
    assert((gq.getString(0), gq.getLong(1), gq.getLong(2),
      gq.getLong(3), gq.getLong(4)) === (("q", 3L, 2L, 1L, 333333L)))
    assert(got(1).getString(0) === "r" && got(1).isNullAt(4))
    val rev = Seq(("q", 1L, 3L), ("q", 2L, 2L), ("q", 3L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val t2 = Retrieval.kendallTau(a.filter($"query_id" === "q"), rev)
      .collect()(0)
    assert(t2.getLong(4) === -1000000L)
  }

  test("readability: hand-computed Flesch / FK grade milli-points") {
    import spark.implicits._
    val d = Seq((1L, "the cat sat. it ran fast"), (2L, "beautiful"))
      .toDF("id", "text")
    val got = TextAnalysis.readability(d, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // 6 monosyllables over 2 sentences
    assert(got(0) === ((1L, 6L, 2L, 6L,
      206835L - 1015L * 6 / 2 - 84600L, 390L * 3 + 11800L - 15590L)))
    // "beautiful": vowel groups eau, i, u = 3 syllables
    assert(got(1) === ((2L, 1L, 1L, 3L,
      206835L - 1015L - 84600L * 3, 390L + 11800L * 3 - 15590L)))
  }

  test("lexrank: central sentences top the summary; edge-free doc " +
    "falls back to first sentences at rank 0") {
    import spark.implicits._
    // doc 1: s0/s1 connect to everything (degree 3), s2/s3 degree 2
    val docs = Seq(
      (1L, "a b c. a b d. a c d. a b n"),
      (2L, "p q r. x y z")
    ).toDF("id", "text")
    val got = TextAnalysis.lexRankSummary(docs, "id", "text",
        topPerDoc = 2)
      .orderBy("id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq === Seq(0L, 1L))
    assert(d1.forall(_._3 > 0L))
    val d2 = got.filter(_._1 == 2L)
    assert(d2.map(_._2).toSeq === Seq(0L, 1L))
    assert(d2.forall(_._3 === 0L))
  }

  test("suffix array: sa_rank + lcp match the brute-force sort") {
    import spark.implicits._
    val docTexts: Seq[(Long, String)] = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox leaps over the lazy cat"),
      (3L, "completely different words entirely"),
      (4L, "the quick brown fox jumps over the lazy dog")) // exact dup of 1
    val docs = docTexts.toDF("id", "text").repartition(3)
    val got = ops.SuffixArray.saWithLcp(docs, "id", "text", shards = 4)
      .orderBy("sa_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // brute force: sort actual suffixes, direct prefix compare
    val sufs = docTexts.flatMap { case (i, t) =>
      val tk = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      tk.indices.map(p => (i, p.toLong, tk.drop(p)))
    }
    implicit val ord: Ordering[Seq[String]] = Ordering.Implicits.seqOrdering
    val sorted = sufs.sortBy { case (i, p, s) => (s, i, p) }
    def lcpOf(a: Seq[String], b: Seq[String]): Long =
      a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
    val expect = sorted.zipWithIndex.map { case ((i, p, s), idx) =>
      val lcp = if (idx == 0) 0L else lcpOf(s, sorted(idx - 1)._3)
      (i, p, (idx + 1).toLong, lcp)
    }
    assert(got.length === expect.length)
    got.zip(expect).foreach { case (g, e) => assert(g === e, s"at ${g._3}") }
    // empty corpus: empty result, no NPE on the null max(dl)
    assert(ops.SuffixArray.saWithLcp(
      docs.filter(col("id") < 0), "id", "text").count() === 0L)
    // derive-from-artifact seam ≡ the self-building form (the q156
    // shared-construction path)
    val saArt = ops.SuffixArray.saWithLcp(docs, "id", "text")
      .localCheckpoint()
    val selfBuilt = ops.SuffixArray
      .duplicatedPositions(docs, "id", "text", minTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromArt = ops.SuffixArray
      .duplicatedPositionsFromSa(saArt, minTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(selfBuilt.nonEmpty && fromArt === selfBuilt)
  }

  test("query likelihood: round-6 Dirichlet twin, length norm beats " +
    "raw tf, no-hit query absent") {
    import spark.implicits._
    val docTexts: Seq[(Long, String)] = Seq(
      (1L, "sort sort sort merge"),
      (2L, "sort merge merge join extra words to stretch the length " +
        "of this document well past average"),
      (3L, "join join"),
      (4L, "sort merge"),
      (5L, "completely unrelated text here"))
    val docs = docTexts.toDF("id", "text").repartition(3)
    val qs = Seq(("qa", "sort"), ("qa", "merge"), ("qb", "join"),
      ("qz", "nohit")).toDF("query_id", "term")
    val got = Retrieval.queryLikelihood(docs, "id", "text", qs,
        topK = 5, mu = 50L)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // scalar twin with the identical round-6 staging
    val toks = docTexts.map { case (i, t) =>
      i -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val sumDl = toks.values.map(_.size).sum.toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cf(t: String) = toks.values.map(_.count(_ == t)).sum.toDouble
    def score(terms: Seq[String], id: Long): Option[Double] = {
      val tk = toks(id)
      val ws = terms.flatMap { t =>
        val tf = tk.count(_ == t)
        if (tf == 0) None
        else Some(r6(math.log(1.0 + tf * sumDl / (50.0 * cf(t)))))
      }
      if (ws.isEmpty) None
      else Some(r6(r6(ws.sum) +
        r6(terms.size * math.log(50.0 / (tk.size + 50.0)))))
    }
    got.foreach { case (q, id, s) =>
      val terms = Seq(("qa", Seq("sort", "merge")), ("qb", Seq("join")),
        ("qz", Seq("nohit"))).toMap.apply(q)
      assert(score(terms, id).contains(s), s"($q, $id)")
    }
    // length normalization: doc 4 (same terms, 2 tokens) outranks
    // doc 2 (higher merge tf, 15 tokens); unmatched docs absent
    val qa = got.filter(_._1 == "qa").map(_._2)
    assert(qa === Seq(1L, 4L, 2L))
    assert(!got.exists(_._1 == "qz"))
  }

  test("bm25: integer scores match a scalar twin; tf saturation, " +
    "length normalization, df weighting, tie-break, no-hit query") {
    import spark.implicits._
    val docTexts: Seq[(Long, String)] = Seq(
      (1L, "sort sort sort merge"),        // high tf, short
      (2L, "sort merge merge join extra words to stretch the length " +
        "of this document well past average"),
      (3L, "join join"),                   // rare-ish term only
      (4L, "sort merge"),                  // same terms as 2, shorter
      (5L, "completely unrelated text here"))
    val docs = docTexts.toDF("id", "text").repartition(3)
    val queries = Seq(("qa", "sort"), ("qa", "merge"), ("qb", "join"),
      ("qz", "nohit")).toDF("query_id", "term")
    val got = Retrieval.bm25(docs, "id", "text", queries, topK = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // scalar twin of the exact integer formula
    val toks = docTexts.map { case (i, t) =>
      i -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val n = BigInt(docTexts.size)
    val sumDl = BigInt(toks.values.map(_.size).sum)
    val avgdlMilli = sumDl * 1000 / n
    def score(terms: Seq[String], id: Long): BigInt = {
      val tk = toks(id); val dl = BigInt(tk.size)
      terms.map { t =>
        val tf = BigInt(tk.count(_ == t))
        if (tf == 0) BigInt(0)
        else {
          val df = BigInt(toks.values.count(_.contains(t)))
          val norm = BigInt(250000) + BigInt(750000) * dl * 1000 / avgdlMilli
          val denom = tf * 1000000 + BigInt(1200000) * norm / 1000000
          val tfPart = tf * 2200000 * 1000000 / denom
          val idf = (2 * n - 2 * df + 1) * 1000000 / (2 * df + 1)
          idf * tfPart / 1000000
        }
      }.sum
    }
    def expect(q: String, terms: Seq[String]) = docTexts.map(_._1)
      .map(i => (i, score(terms, i))).filter(_._2 > 0)
      .sortBy { case (i, s) => (-s, i) }.take(3).zipWithIndex
      .map { case ((i, s), r) => (q, i, s.toLong, r.toLong + 1) }
    val want = expect("qa", Seq("sort", "merge")) ++
      expect("qb", Seq("join")) ++ expect("qz", Seq("nohit"))
    assert(got.toSeq === want)
    // semantics spot-checks on the twin itself: doc 4 (short) beats
    // doc 2 (long) on the same terms; qz matched nothing
    val qa = want.filter(_._1 == "qa").map(_._2)
    assert(qa.indexOf(4L) < qa.indexOf(2L))
    assert(!want.exists(_._1 == "qz"))
    // postings invariants: unique (term, id), dl constant per doc
    val post = Retrieval.postings(docs, "id", "text").collect()
    assert(post.length ===
      toks.map { case (_, tk) => tk.distinct.size }.sum)
    assert(post.map(r => (r.getString(0), r.getLong(1))).distinct.length
      === post.length)
  }

  test("keepBestPerCluster: max-score survivor, min-id ties, " +
      "singletons survive") {
    import spark.implicits._
    // cluster 1 (canon 1): scores 10, 30, 30 -> survivor = min id of
    // the maxima (3); cluster 7: singleton; cluster 4: all-equal tie
    val labels = Seq((1L, 1L), (3L, 1L), (5L, 1L), (7L, 7L),
      (4L, 4L), (6L, 4L)).toDF("id", "canonical_id")
    val scored = Seq((1L, 10L), (3L, 30L), (5L, 30L), (7L, 2L),
      (4L, 9L), (6L, 9L)).toDF("doc_id", "q")
    val got = Dedup.keepBestPerCluster(labels, scored, "doc_id", "q")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got(3L) === ((30L, true)))
    assert(got(5L) === ((30L, false))) // same score, larger id loses
    assert(got(1L) === ((10L, false)))
    assert(got(7L) === ((2L, true)))  // singleton
    assert(got(4L) === ((9L, true)))  // all-equal tie -> min id
    assert(got(6L) === ((9L, false)))
    assert(got.size === 6)
  }

  test("keepBestPerCluster: all-null-score clusters and ids missing " +
      "from `scored` keep a min-id survivor instead of vanishing") {
    import spark.implicits._
    // cluster 1: both scores null; cluster 5: id 7 missing from
    // `scored` entirely, id 5 has a real score; cluster 9: null loses
    // to non-null
    val labels = Seq((1L, 1L), (3L, 1L), (5L, 5L), (7L, 5L),
      (9L, 9L), (11L, 9L)).toDF("id", "canonical_id")
    val scored = Seq((1L, Option.empty[Long]), (3L, None),
      (5L, Some(4L)), (9L, None), (11L, Some(2L)))
      .toDF("doc_id", "q")
    val got = Dedup.keepBestPerCluster(labels, scored, "doc_id", "q")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.size === 6, "no row may vanish")
    assert(got(1L) === ((-1L, true)))   // all-null cluster: min id wins
    assert(got(3L) === ((-1L, false)))
    assert(got(5L) === ((4L, true)))    // real score beats missing
    assert(got(7L) === ((-1L, false)))  // missing-from-scored kept
    assert(got(11L) === ((2L, true)))   // non-null beats null
    assert(got(9L) === ((-1L, false)))
  }

  test("stratifiedSampleExact: exact k per stratum, small strata " +
      "survive whole, deterministic across repartitionings") {
    import spark.implicits._
    val docs = ((0L until 100L).map(i => (i, "en")) ++
      (100L until 110L).map(i => (i, "de")) ++ Seq((200L, "fr")))
      .toDF("id", "lang")
    val got = Curation.stratifiedSampleExact(docs, "id", "lang", k = 7)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    val byLang = got.groupBy(_._1)
    assert(byLang("en").length === 7)   // capped at k
    assert(byLang("de").length === 7)
    assert(byLang("fr").length === 1)   // stratum smaller than k: all
    assert(got.forall(_._3 <= 7))
    // ranks are 1..n contiguous per stratum
    assert(byLang("en").map(_._3).sorted.toSeq === (1L to 7L))
    // deterministic: same kept ids under a different partitioning
    val again = Curation.stratifiedSampleExact(
      docs.repartition(7, col("lang")), "id", "lang", k = 7)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    assert(again.sortBy(x => (x._1, x._3)).toSeq ===
      got.sortBy(x => (x._1, x._3)).toSeq)
  }

  test("urlFeatures: path-less, deep, digit-slug, tracking and " +
      "schemeless shapes") {
    import spark.implicits._
    val urls = Seq(
      "http://a.example.com",                       // no path
      "http://a.example.com/a/b/c/page7.html",      // deep path
      "https://A.Example.COM/p?id=42&utm_source=f&x=1",
      "http://a.example.com/2024/01/55",            // digit slug
      "not a url at all",                           // schemeless
      "http://a.example.com/p#sec?utm_source=x")    // '?' in fragment
      .toDF("url")
    val f = Curation.urlFeatures(urls, "url").collect()
      .map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5))).toMap
    assert(f("http://a.example.com") === (("a.example.com", 0L, 0L, 0L,
      false)))
    val deep = f("http://a.example.com/a/b/c/page7.html")
    assert(deep._2 === 4L)       // /a/b/c/page7.html -> 4 slashes
    assert(deep._4 === 0L)
    val track = f("https://A.Example.COM/p?id=42&utm_source=f&x=1")
    assert(track._1 === "a.example.com") // lowercased
    assert(track._4 === 3L)
    assert(track._5, "utm param must flag has_tracking")
    val slug = f("http://a.example.com/2024/01/55")
    // "/2024/01/55": 8 digits over 11 chars
    assert(slug._3 === 8L * 1000000L / 11L)
    assert(f("not a url at all")._1 === "") // schemeless: empty host
    // a '?' inside the fragment is NOT a query: no params, no tracking
    val frag = f("http://a.example.com/p#sec?utm_source=x")
    assert(frag._4 === 0L, "fragment '?' must not fabricate params")
    assert(!frag._5, "fragment '?' must not flag tracking")
  }

  test("surtKey: host reversal, www/port/case/fragment normalization") {
    import spark.implicits._
    def k(u: String): String =
      Seq(u).toDF("url").select(Curation.surtKey(col("url"))).head.getString(0)
    // whole key lowercased; www + default :443 dropped; params sorted
    assert(k("https://WWW.News.Example.COM:443/Path/A?b=2&a=1")
      === "com,example,news)/path/a?a=1&b=2")
    assert(k("http://example.com:80/") === "com,example)/") // default :80
    assert(k("http://example.com") === "com,example)/") // empty path -> /
    // one host is a contiguous prefix: deeper paths share the host prefix
    assert(k("http://example.com/z").startsWith("com,example)"))
    // non-default port KEPT (distinct capture origin), www2 dropped
    assert(k("http://www2.example.net:8080/x?z=1#frag")
      === "net:8080,example)/x?z=1")
    assert(k("https://example.com./a") === "com,example)/a") // FQDN dot
    // SURT keeps tracking params (index keys what was captured) —
    // canonicalUrl strips them (dedup key); the two views must differ
    assert(k("https://a.com/p?utm_source=x&b=1") === "com,a)/p?b=1&utm_source=x")
    assert(k("not a url 7") === "not a url 7") // schemeless fallback
  }

  test("ccRedact: Luhn column == scalar reference on random digit " +
      "strings; multi-candidate fold; boundaries") {
    import spark.implicits._
    def scalarLuhn(s: String): Boolean = {
      val d = s.reverse.map(_ - '0')
      d.zipWithIndex.map { case (x, i) =>
        if (i % 2 == 1) { val y = x * 2; if (y > 9) y - 9 else y }
        else x
      }.sum % 10 == 0
    }
    val rnd = new scala.util.Random(3)
    val digs = (0 until 200).map { _ =>
      val len = 13 + rnd.nextInt(7)
      (0 until len).map(_ => ('0' + rnd.nextInt(10)).toChar).mkString
    } :+ "4539148803436467" :+ "378282246310005"
    val got = digs.toDF("d")
      .select(col("d"), Curation.luhnValid(col("d")).as("v")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    digs.foreach(d => assert(got(d) === scalarLuhn(d), d))
    // two valid cards in one doc, one invalid between them: the fold
    // must redact both valid spellings and leave the invalid one
    val doc = "a 4539 1488 0343 6467 b 4539 1488 0343 6468 " +
      "c 6011-1111-1111-1117 d"
    val red = Seq(doc).toDF("text")
      .select(Curation.ccRedact(col("text"))).head.getString(0)
    assert(red === "a <CC> b 4539 1488 0343 6468 c <CC> d")
    // embedded in a longer digit run: no partial redaction
    val run = Seq("x 45391488034364679 y").toDF("text") // 17 digits, luhn?
      .select(Curation.ccRedact(col("text"))).head.getString(0)
    // whether or not that 17-digit run validates, the ORIGINAL 16-digit
    // card inside it must never be partially matched
    assert(!run.contains("<CC> 9") && !run.contains("9<CC>"))
  }

  test("weightedSample: exact parity with the scalar formula; heavy " +
      "rows overrepresented; w<=0/null dropped; repartition-stable") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // 900 weight-1 rows + 100 weight-9 rows (equal total mass) + junk
    val rows = (0L until 900L).map(i => (i, 1L)) ++
      (900L until 1000L).map(i => (i, 9L)) ++
      Seq((1000L, 0L), (1001L, -5L))
    val df = rows.toDF("id", "w")
    val out = Curation.weightedSample(df, "id", "w", k = 100).collect()
    assert(out.length === 100)
    // scalar reference: same hash, same single IEEE division
    val expect = rows.filter(_._2 > 0).map { case (id, w) =>
      val u = graft.functions.Md5Prefix32.hash(
        UTF8String.fromString(s"$id:wps"))
      (id, (u.toDouble + 1.0) / w.toDouble)
    }.sortBy { case (id, pri) => (pri, id) }.take(100).map(_._1)
    assert(out.map(_.getLong(0)).toSeq === expect.toSeq)
    assert(!out.map(_.getLong(0)).contains(1000L))
    // equal total mass -> roughly half the sample from each block;
    // the heavy block is 10% of rows, so anything >> 10 heavy picks
    // shows the weighting works (band is loose: the draw is fixed)
    val heavy = out.count(_.getLong(0) >= 900L)
    assert(heavy > 25 && heavy < 75, s"heavy picks $heavy of 100")
    // partitioning must not change the sample
    val rep = Curation.weightedSample(df.repartition(17), "id", "w",
      k = 100).collect().map(_.getLong(0)).toSeq
    assert(rep === out.map(_.getLong(0)).toSeq)
  }

  test("f1Sweep: hand-computed sweep, argmax flag, tie to highest " +
      "threshold, null-label rows excluded") {
    import spark.implicits._
    // scores/labels (P=3): t=30 -> tp2 fp0 fn1 (f1 = 4/5); t=20 ->
    // tp3 fp0 fn0 (f1 = 6/6 = 1.0); t=10 -> tp3 fp2 fn0 (f1 = 6/8)
    val df = Seq((30L, 1), (30L, 1), (20L, 1), (10L, 0), (10L, 0))
      .toDF("s", "lab")
      .union(Seq((5L, Option.empty[Int])).toDF("s", "lab")) // ignored
    val out = Curation.f1Sweep(df, "s", "lab").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(10L, 20L, 30L))
    val at = out.map(r => r.getLong(0) -> r).toMap
    assert(at(30L).getAs[Long]("tp") === 2L)
    assert(at(30L).getAs[Long]("f1_ppm") === 800000L)
    assert(at(20L).getAs[Long]("f1_ppm") === 1000000L)
    assert(at(20L).getAs[Boolean]("is_best"))
    assert(at(10L).getAs[Long]("fp") === 2L)
    assert(at(10L).getAs[Long]("f1_ppm") === 750000L)
    assert(out.count(_.getAs[Boolean]("is_best")) === 1)
    // tie case: t=4 (tp1 fp0, f1=2/3) and t=1 (tp2 fp2, f1=4/6) tie
    // at the max -> best must be the HIGHEST threshold
    val tie = Curation.f1Sweep(
      Seq((4L, 1), (3L, 0), (2L, 0), (1L, 1)).toDF("s", "lab"),
      "s", "lab").collect()
    assert(tie.filter(_.getAs[Boolean]("is_best"))
      .map(_.getLong(0)).toSeq === Seq(4L))
  }

  test("collocations: planted rigid phrase outranks frequent-word " +
      "pair; hapax pairs cut by minCount; exact lift arithmetic") {
    import spark.implicits._
    // "kuala lumpur": always together (lift = N/c). "the cat": both
    // words frequent and promiscuous -> lift near 1e6. "rare gem"
    // appears twice -> cut by minCount=3.
    val rows = (0 until 20).map(i =>
      s"the cat saw the dog kuala lumpur and the cat ran off") ++
      Seq("rare gem", "rare gem")
    val out = TextAnalysis.collocations(rows.toDF("text"), "text",
      minCount = 3, topK = 10).collect()
    val byPair = out.map(r => (r.getString(1), r.getString(2)) -> r).toMap
    assert(byPair.contains(("kuala", "lumpur")))
    assert(!byPair.keySet.exists(_._1 == "rare"), "minCount must cut")
    val kl = byPair(("kuala", "lumpur"))
    val tc = byPair.getOrElse(("the", "cat"),
      fail("'the cat' (count 40) must survive minCount"))
    assert(kl.getAs[Long]("rank") < tc.getAs[Long]("rank"),
      "rigid phrase must outrank the frequent pair")
    // exact lift check: c_xy=20, c_x=c_y=20, n_tok = 20*12 + 4 = 244
    assert(kl.getAs[Long]("c_xy") === 20L)
    assert(kl.getAs[Long]("lift_ppm") === 20L * 244L * 1000000L / (20L * 20L))
  }

  test("kmvOverlap: exact when union <= k; estimator within 1/sqrt(k) " +
      "band at 20x k; disjoint and identical corpora; determinism") {
    import spark.implicits._
    def keys(r: Range): DataFrame = r.map(i => s"k$i").toDF("key")
    // exact path: union 30 <= k=64 -> estimates ARE the true values
    val ex = graft.ops.Sketch.kmvOverlap(
      keys(0 until 20), keys(10 until 30), "key", k = 64).head
    assert(ex.getAs[Long]("n_union_sketch") === 30L)
    assert(ex.getAs[Long]("union_est") === 30L)
    assert(ex.getAs[Long]("shared_in_k") === 10L)
    assert(ex.getAs[Long]("inter_est") === 10L)
    assert(ex.getAs[Long]("jaccard_ppm") === 10L * 1000000L / 30L)
    // estimator path: |A|=4000, |B|=4000, inter 2000, union 6000 at
    // k=256 (~6% rel-error band at 1/sqrt(k); assert a loose 4x band
    // so the test pins the math, not one hash draw)
    val est = graft.ops.Sketch.kmvOverlap(
      keys(0 until 4000), keys(2000 until 6000), "key", k = 256).head
    val ue = est.getAs[Long]("union_est")
    val ie = est.getAs[Long]("inter_est")
    assert(ue > 4500 && ue < 7500, s"union_est $ue vs true 6000")
    assert(ie > 1200 && ie < 2800, s"inter_est $ie vs true 2000")
    // disjoint: zero shared, zero intersection estimate
    val dj = graft.ops.Sketch.kmvOverlap(
      keys(0 until 1000), keys(5000 until 6000), "key", k = 64).head
    assert(dj.getAs[Long]("shared_in_k") === 0L)
    assert(dj.getAs[Long]("inter_est") === 0L)
    // identical corpora: jaccard exactly 1e6, inter_est == union_est
    val id = graft.ops.Sketch.kmvOverlap(
      keys(0 until 3000), keys(0 until 3000), "key", k = 128).head
    assert(id.getAs[Long]("jaccard_ppm") === 1000000L)
    assert(id.getAs[Long]("inter_est") === id.getAs[Long]("union_est"))
    // deterministic: same inputs repartitioned arbitrarily -> same row
    val r1 = graft.ops.Sketch.kmvOverlap(
      keys(0 until 4000).repartition(7), keys(2000 until 6000)
        .repartition(13), "key", k = 256).head
    assert(r1 === est)
  }

  test("JL sign projection: cosine preserved within the JL band, " +
      "matrix deterministic, neighbor ranking survives compression") {
    import spark.implicits._
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val signs = SimSearch.jlSigns(16, 64)
    // determinism: re-derivation yields the identical matrix, entries ±1
    assert(signs === SimSearch.jlSigns(16, 64))
    assert(signs.flatten.forall(s => s == 1.0 || s == -1.0))
    assert(signs.size === 16 && signs.head.size === 64)
    val p = emb.withColumn("pv", SimSearch.signProject(col("v"), signs))
    // cosine preservation: for 100 random pairs, |cos_proj - cos_orig|
    // stays inside a JL-plausible band for m=16 (eps ~ sqrt(8/m) ≈ 0.7
    // worst case; observed mean error should be far tighter)
    val a = p.where(col("vec_id") < 100)
      .select(col("vec_id").as("pid"), col("v").as("va"), col("pv").as("pa"))
    val b = p.select((col("vec_id") - 300).as("pid"),
        col("v").as("vb"), col("pv").as("pb"))
      .where(col("pid") >= 0 && col("pid") < 100)
    val errs = a.join(b, "pid")
      .select(abs(SimSearch.cosine(col("va"), col("vb")) -
        SimSearch.cosine(col("pa"), col("pb"))).as("err"))
      .agg(avg("err"), max("err")).head()
    assert(errs.getDouble(0) < 0.25, s"mean cos error ${errs.getDouble(0)}")
    assert(errs.getDouble(1) < 1.0, s"max cos error ${errs.getDouble(1)}")
    // the JL contract: distortion shrinks like 1/sqrt(m). Measure the
    // mean |cos error| at m = 8, 16, 32 over the same pairs and require
    // strict monotone improvement (the sf0.001 embeddings are near-
    // isotropic, so the 1/sqrt(m) law — not neighbor recall against a
    // ~0.3-cosine signal — is what this op actually promises)
    def meanErr(m: Int): Double = {
      val s = SimSearch.jlSigns(m, 64)
      val pm = emb.withColumn("pv", SimSearch.signProject(col("v"), s))
      val am = pm.where(col("vec_id") < 100)
        .select(col("vec_id").as("pid"), col("v").as("va"),
          col("pv").as("pa"))
      val bm = pm.select((col("vec_id") - 300).as("pid"),
          col("v").as("vb"), col("pv").as("pb"))
        .where(col("pid") >= 0 && col("pid") < 100)
      am.join(bm, "pid")
        .select(abs(SimSearch.cosine(col("va"), col("vb")) -
          SimSearch.cosine(col("pa"), col("pb"))).as("err"))
        .agg(avg("err")).head().getDouble(0)
    }
    val (e8, e16, e32) = (meanErr(8), meanErr(16), meanErr(32))
    assert(e8 > e16 && e16 > e32, s"JL error not monotone: $e8 $e16 $e32")
    assert(e32 < 0.17, s"m=32 mean cos error $e32")
    // identical vectors project to identical vectors: cosine stays 1
    val self = p.limit(20)
      .select(round(SimSearch.cosine(col("pv"), col("pv")), 9).as("c"))
      .agg(min("c"), max("c")).head()
    assert(self.getDouble(0) === 1.0 && self.getDouble(1) === 1.0)
  }

  test("char/token entropy: hand-computed values, degenerate cases, " +
      "and the spam-vs-prose separation both signals exist for") {
    import spark.implicits._
    val spam = ("buy cheap meds now " * 50).trim
    val prose = "the quick brown fox jumps over a lazy dog while " +
      "seventeen other animals watch from various distant hills nearby"
    val df = Seq(
      (1L, "aabb"), (2L, "a b a b"), (3L, "aaaa"), (4L, ""),
      (5L, spam), (6L, prose),
      (7L, "QmFzZTY0K2Jsb2JzR28wMTIzNDU2Nzg5YWJjZGVmZ2hpamtsbW5vcHFy" +
        "c3R1dnd4eXpBQkNERUZHSElKS0xNTk9QUVJTVFVWV1hZWis0dz09"))
      .toDF("id", "text")
      .select(col("id"), col("text"),
        TextAnalysis.charEntropy(col("text")).as("ce"),
        TextAnalysis.tokenEntropy(col("text")).as("te"))
    val m = df.collect().map(r =>
      r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // "aabb": two chars at p=1/2 -> exactly 1 bit; one token -> 0
    assert(m(1) === (1.0, 0.0))
    // "a b a b": chars a(2) b(2) sp(3) of 7; tokens a,b at p=1/2
    def h(ps: Seq[Double]) = BigDecimal(-ps.map(p =>
      p * math.log(p) / math.log(2.0)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(m(2)._1 - h(Seq(2/7.0, 2/7.0, 3/7.0))) < 2e-6)
    assert(m(2)._2 === 1.0)
    // degenerate: single symbol and empty are +0.0, never -0.0
    assert(m(3)._1 === 0.0 && m(3)._2 === 0.0)
    assert(java.lang.Double.doubleToLongBits(m(3)._1) ===
      java.lang.Double.doubleToLongBits(0.0))
    assert(m(4) === (0.0, 0.0))
    // phrase spam: char entropy looks normal, token entropy collapses
    // to log2(4) = 2 bits; prose separates on tokens, base64 on chars
    assert(m(5)._1 > 3.0 && m(5)._2 === 2.0)
    assert(m(6)._2 > 3.5, s"prose token entropy ${m(6)._2}")
    assert(m(7)._1 > m(6)._1, "base64 must out-entropy prose chars")
  }

  test("clusterEval: hand-computed pairwise + B-cubed ppm, perfect " +
      "clustering scores 1e6 everywhere, unmatched ids excluded") {
    import spark.implicits._
    val pred = Seq(1L -> "A", 2L -> "A", 3L -> "A", 4L -> "B",
      5L -> "B", 6L -> "C", 9L -> "orphan").toDF("id", "cl")
    val truth = Seq(1L -> "X", 2L -> "X", 3L -> "Y", 4L -> "Y",
      5L -> "Y", 6L -> "Z", 8L -> "orphan").toDF("id", "lb")
    val r = Curation.clusterEval(pred, truth, "id", "cl", "lb").head()
    // contingency AX=2 AY=1 BY=2 CZ=1: tp=2, pred=4, truth=4 pairs
    assert(r.getAs[Long]("n_items") === 6L)
    assert(r.getAs[Long]("n_clusters") === 3L)
    assert(r.getAs[Long]("n_classes") === 3L)
    assert(r.getAs[Long]("pair_tp") === 2L)
    assert(r.getAs[Long]("pred_pairs") === 4L)
    assert(r.getAs[Long]("truth_pairs") === 4L)
    assert(r.getAs[Long]("pair_precision_ppm") === 500000L)
    assert(r.getAs[Long]("pair_recall_ppm") === 500000L)
    assert(r.getAs[Long]("pair_f1_ppm") === 500000L)
    // B-cubed: (5e6//3 + 4e6//2 + 1e6)//6 both sides = 777777
    assert(r.getAs[Long]("bcubed_precision_ppm") === 777777L)
    assert(r.getAs[Long]("bcubed_recall_ppm") === 777777L)
    // a clustering that IS the truth scores perfect everywhere
    val p = Curation.clusterEval(truth.toDF("id", "cl"), truth,
      "id", "cl", "lb").head()
    Seq("pair_precision_ppm", "pair_recall_ppm", "pair_f1_ppm",
      "bcubed_precision_ppm", "bcubed_recall_ppm")
      .foreach(c => assert(p.getAs[Long](c) === 1000000L, c))
    // all-singleton prediction: no predicted pairs -> precision null,
    // recall 0, B-cubed precision exactly 1e6
    val s1 = Curation.clusterEval(
      truth.select(col("id"), col("id").cast("string").as("cl")),
      truth, "id", "cl", "lb").head()
    assert(s1.isNullAt(s1.fieldIndex("pair_precision_ppm")))
    assert(s1.getAs[Long]("pair_recall_ppm") === 0L)
    assert(s1.getAs[Long]("bcubed_precision_ppm") === 1000000L)
  }

  test("HLL: estimate inside the 3-sigma band, duplicates free, " +
      "merge of split sketches IS the global sketch, linear-counting " +
      "path exact-ish at tiny cardinality") {
    import spark.implicits._
    val n = 20000
    val keys = spark.range(n).select(
      concat(lit("key:"), col("id")).as("k"))
    val regs = graft.ops.Sketch.hllRegisters(keys, "k", p = 8)
    val est = graft.ops.Sketch.hllEstimate(regs, p = 8)
      .head().getAs[Double]("est")
    // stderr = 1.04/sqrt(256) = 6.5%; 3 sigma = 19.5%
    assert(math.abs(est - n) / n < 0.2, s"HLL est $est for n=$n")
    // duplicating every key must not move a single register
    val dup = graft.ops.Sketch.hllRegisters(
      keys.unionAll(keys).repartition(7), "k", p = 8)
    assert(regs.orderBy("reg").collect().toSeq ===
      dup.orderBy("reg").collect().toSeq)
    // merge property: sketch(A) ⊔ sketch(B) == sketch(A ∪ B), exactly
    val a = keys.where(col("k") < lit("key:5"))   // lexicographic split
    val b = keys.where(col("k") >= lit("key:5"))
    val merged = graft.ops.Sketch.hllMerge(
      graft.ops.Sketch.hllRegisters(a, "k", 8),
      graft.ops.Sketch.hllRegisters(b, "k", 8))
    assert(merged.orderBy("reg").collect().toSeq ===
      regs.orderBy("reg").collect().toSeq)
    // tiny cardinality rides linear counting and lands within 15%
    val tiny = graft.ops.Sketch.hllEstimate(
      graft.ops.Sketch.hllRegisters(
        spark.range(40).select(concat(lit("t"), col("id")).as("k")),
        "k", 8), 8).head().getAs[Double]("est")
    assert(math.abs(tiny - 40.0) / 40.0 < 0.15, s"LC est $tiny")
  }

  test("mixWaterFill: hand-computed saturation + redistribution, " +
      "surplus degenerate case, budget never exceeded") {
    import spark.implicits._
    // supplies: a=1000 b=4000 c=5000; weights 50/25/25; budget 8000
    // level check: a saturates (its 50% share would be 4000 > 1000);
    // remaining 7000 split 25/25 -> b,c get 3500 each
    val df = Seq.fill(10)("a" -> 100L)
      .++(Seq.fill(10)("b" -> 400L)).++(Seq.fill(10)("c" -> 500L))
      .toDF("dom", "toks")
    val w = Map("a" -> 500000L, "b" -> 250000L, "c" -> 250000L)
    val r = Curation.mixWaterFill(df, "dom", "toks", w, 8000L)
      .orderBy("stratum").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(3),
        x.getLong(4), x.getBoolean(5)))
    assert(r === Array(("a", 1000L, 1000L, 1000000L, true),
      ("b", 4000L, 3500L, 875000L, false),
      ("c", 5000L, 3500L, 700000L, false)))
    // budget >= total supply: everyone keeps everything
    val full = Curation.mixWaterFill(df, "dom", "toks", w, 100000L)
      .orderBy("stratum").collect()
    assert(full.forall(x => x.getLong(3) === x.getLong(1) &&
      x.getBoolean(5)))
    // sum(alloc) never exceeds the budget, across budget sweep
    for (b <- Seq(0L, 1L, 999L, 5000L, 9999L, 10000L)) {
      val tot = Curation.mixWaterFill(df, "dom", "toks", w, b)
        .agg(sum("alloc")).head().getLong(0)
      assert(tot <= b || b >= 10000L, s"budget $b overspent: $tot")
      if (b >= 10000L) assert(tot === 10000L)
    }
    // zero-weight stratum gets nothing when water-limited
    val z = Curation.mixWaterFill(df, "dom", "toks",
      Map("a" -> 600000L, "b" -> 400000L), 5000L)
      .orderBy("stratum").collect()
    assert(z.find(_.getString(0) == "c").get.getLong(3) === 0L)
  }

  test("bloom shard index: zero false negatives at every width, " +
      "saturated tiny filter degrades to all-candidates not misses, " +
      "fp fan-out collapses as bits grow") {
    import spark.implicits._
    val docs = spark.range(200).select(
      concat(lit("k"), col("id")).as("key"),
      pmod(col("id"), lit(4)).cast("long").as("shard"))
    for (bits <- Seq(64, 512, 4096)) {
      val idx = Curation.bloomShardIndex(docs, "shard", "key", bits)
      val cands = Curation.bloomShardLookup(idx,
        docs.select("key"), "key", bits)
      val missing = docs.select(col("key"), col("shard"))
        .exceptAll(cands).count()
      assert(missing === 0L, s"false negatives at bits=$bits")
    }
    val absent = spark.range(500).select(
      concat(lit("zz"), col("id")).as("key"))
    def fpCount(bits: Int): Long =
      Curation.bloomShardLookup(
        Curation.bloomShardIndex(docs, "shard", "key", bits),
        absent, "key", bits).count()
    val (small, big) = (fpCount(64), fpCount(8192))
    // 50 keys x 2 probes into 64 bits saturates every shard: nearly
    // every absent probe fans to all 4 shards — still correct, the
    // point reads resolve it
    assert(small > 1000L, s"64-bit filter fp $small")
    assert(big < 40L, s"8192-bit filter fp $big")
  }

  test("rrfFuse: hand-computed reciprocal-rank arithmetic, " +
      "two-list consensus outranks either single-list head, " +
      "tfTopK agrees with a brute count") {
    import spark.implicits._
    val l1 = Seq(("q", 1L, 1L), ("q", 2L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val l2 = Seq(("q", 2L, 1L), ("q", 3L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val f = Retrieval.rrfFuse(Seq(l1, l2), kRrf = 60, topK = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // d2 is in both lists: 10^9//61 + 10^9//62 beats either head
    assert(f === Array(
      (2L, 1000000000L / 61 + 1000000000L / 62, 2L),
      (1L, 1000000000L / 61, 1L),
      (3L, 1000000000L / 62, 1L)))
    // tfTopK: summed tf of query terms, rank by (tf desc, id)
    val docs = Seq((1L, "alpha alpha beta"), (2L, "alpha gamma"),
      (3L, "beta beta beta alpha")).toDF("id", "text")
    val qs = Seq(("w", "alpha"), ("w", "beta")).toDF("query_id", "term")
    val tf = Retrieval.tfTopK(docs, "id", "text", qs, topK = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(tf === Array((3L, 4L, 1L), (1L, 3L, 2L), (2L, 1L, 3L)))
    // the shared-scan seam: precomputed matched postings yield results
    // identical to each ranker's own pass
    val m = Retrieval.matchedPostings(docs, "id", "text", qs)
    assert(Retrieval.tfTopK(docs, "id", "text", qs, 3, Some(m))
      .orderBy("rank").collect().toSeq ===
      Retrieval.tfTopK(docs, "id", "text", qs, 3)
        .orderBy("rank").collect().toSeq)
    assert(Retrieval.bm25(docs, "id", "text", qs, topK = 3,
        precomputedMatched = Some(m))
      .orderBy("rank", "doc_id").collect().toSeq ===
      Retrieval.bm25(docs, "id", "text", qs, topK = 3)
        .orderBy("rank", "doc_id").collect().toSeq)
  }

  test("homoglyph skeleton: confusables fold to Latin, exact trusted " +
      "spelling is exempt, clean hosts pass, map is 1:1") {
    import spark.implicits._
    val hosts = Seq(
      "pаypal.com",   // Cyrillic а
      "PAYPAL.com",   // exact trusted modulo case -> clean
      "αpple.com",    // Greek α
      "example.com",  // unrelated
      "ɡoogle.com"    // Latin script g
    ).toDF("host")
    val r = Curation.spoofedHosts(hosts, "host",
        Seq("paypal.com", "google.com", "apple.com"))
      .select("host", "spoof_of", "spoofed").collect()
      .map(x => (x.getString(0), Option(x.getString(1)),
        x.getBoolean(2))).toSet
    assert(r === Set(
      ("pаypal.com", Some("paypal.com"), true),
      ("PAYPAL.com", None, false),
      ("αpple.com", Some("apple.com"), true),
      ("example.com", None, false),
      ("ɡoogle.com", Some("google.com"), true)))
    // every confusable codepoint folds to its Latin partner
    val folded = hosts.sparkSession.range(1).select(
      Curation.homoglyphSkeleton(lit(Curation.ConfusableFrom)))
      .head().getString(0)
    assert(folded === Curation.ConfusableTo)
  }

  test("zone maps: a shard holding a matching row is NEVER skipped; " +
      "z-order prunes on both dimensions, a linear sort only on its " +
      "own column") {
    import graft.ops.Layout
    val df = spark.range(1024).select(col("id").cast("long").as("a"),
      pmod(col("id") * 7919L, lit(1024L)).cast("long").as("b"))
    val linear = df.withColumn("shard",
      call_function("div", col("a") * 16L, lit(1024L)))
    val bounds = Layout.columnBounds(df, Seq("a", "b"))
    val zed = Layout.withZValue(df, Seq("a", "b"), bounds, bits = 8)
      .withColumn("shard", expr("(_z * 16) div 65536"))
    val predSets = Seq(Seq(("a", 100L, 300L)), Seq(("b", 100L, 300L)),
      Seq(("a", 100L, 300L), ("b", 100L, 300L)))
    for (l <- Seq(linear, zed); rs <- predSets) {
      val zones = Layout.zoneMaps(l, "shard", Seq("a", "b"))
      val touched = Layout.zonesTouched(zones, rs)
        .select("shard").collect().map(_.getLong(0)).toSet
      val needed = l.where(rs.map { case (c, lo, hi) =>
          col(c).between(lo, hi) }.reduce(_ && _))
        .select("shard").distinct().collect().map(_.getLong(0)).toSet
      assert(needed.subsetOf(touched), s"false skip for $rs")
    }
    val lz = Layout.zoneMaps(linear, "shard", Seq("a", "b"))
    val zz = Layout.zoneMaps(zed, "shard", Seq("a", "b"))
    val bOnly = Seq(("b", 100L, 300L))
    // b scatters across every a-range shard -> linear prunes nothing
    assert(Layout.zonesTouched(lz, bOnly).count() === 16L)
    assert(Layout.zonesTouched(zz, bOnly).count() < 16L)
    // and z still prunes on a (its first dimension) too
    assert(Layout.zonesTouched(zz, Seq(("a", 100L, 300L))).count()
      < 16L)
  }

  test("rendezvous sharding: growing n to n+1 moves only winners of " +
      "the new shard (all TO it, ~1/(n+1) of keys); mod-n moves " +
      "almost everything; assignment is content-stable") {
    import graft.ops.Layout
    val keys = spark.range(2000).select(
      concat(lit("k"), col("id")).as("key"))
    val a = keys
      .withColumn("s8", Layout.rendezvousShard(col("key"), 8))
      .withColumn("s9", Layout.rendezvousShard(col("key"), 9))
    val rows = a.collect().map(r => (r.getLong(1), r.getLong(2)))
    val moved = rows.filter { case (x, y) => x != y }
    // every moved key lands on the NEW shard, nowhere else
    assert(moved.forall(_._2 == 8L), "a moved key missed the new shard")
    val frac = moved.length.toDouble / rows.length
    assert(frac > 0.06 && frac < 0.17, s"moved fraction $frac vs 1/9")
    // occupancy balanced within 2x of ideal at both widths
    val occ = rows.groupBy(_._1).map(_._2.size)
    assert(occ.max < 2 * 2000 / 8 && occ.min > 2000 / 16, s"skew $occ")
    // mod-n resharding is the disaster being avoided
    val modMoved = spark.range(2000)
      .where(pmod(col("id"), lit(8)) =!= pmod(col("id"), lit(9)))
      .count()
    assert(modMoved > 2000L * 7 / 10)
    // stability: repartitioned input assigns identically
    val again = keys.repartition(13)
      .withColumn("s8", Layout.rendezvousShard(col("key"), 8))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val first = a.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(again === first)
  }

  test("phraseMatch: overlapping repeated-term occurrences count, " +
      "order matters, absent phrases yield no rows") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a table table table b"),
      (2L, "value table then value table"),
      (3L, "table value")).toDF("id", "text")
    val r = Retrieval.phraseMatch(docs, "id", "text",
        Seq(("tt", "table table"), ("vt", "value table"),
          ("zz", "missing phrase")))
      .collect().map(x => ((x.getString(0), x.getLong(1)),
        x.getLong(2))).toMap
    // "table table" overlaps: starts 1 and 2 in doc 1
    assert(r === Map(("tt", 1L) -> 2L, ("vt", 2L) -> 2L))
    // doc 3 has both words but reversed -> no vt row (order matters)
    assert(!r.contains(("vt", 3L)) && !r.keys.exists(_._1 == "zz"))
  }

  test("count-min sketch: never underestimates even fully saturated, " +
      "exact when wide, merge of halves == global") {
    import spark.implicits._
    import graft.ops.Sketch
    // 300 occurrences over 100 keys, zipf-ish (key k appears k%7+1x)
    val occ = spark.range(100).select(
        concat(lit("t"), col("id")).as("key"),
        (pmod(col("id"), lit(7)) + 1).cast("int").as("n"))
      .select(col("key"), explode(sequence(lit(1), col("n"))))
      .select("key")
    val exact = occ.groupBy("key").agg(count(lit(1)).as("exact"))
    for (w <- Seq(8, 4096)) {
      val est = Sketch.cmsLookup(Sketch.cmsTable(occ, "key", 4, w),
          exact, "key", 4, w)
        .join(exact, "key")
        .select((col("est") - col("exact")).as("over")).collect()
        .map(_.getLong(0))
      assert(est.forall(_ >= 0L), s"UNDERestimate at w=$w")
      if (w == 4096) assert(est.forall(_ === 0L), "collisions at 4096")
      else assert(est.exists(_ > 0L), "w=8 must actually collide")
    }
    // merge = cell-wise sum, exactly the one-pass sketch
    val (a, b) = (occ.limit(150), occ.exceptAll(occ.limit(150)))
    val merged = Sketch.cmsMerge(Sketch.cmsTable(a, "key", 4, 64),
      Sketch.cmsTable(b, "key", 4, 64))
    assert(merged.orderBy("r", "c").collect().toSeq ===
      Sketch.cmsTable(occ, "key", 4, 64).orderBy("r", "c")
        .collect().toSeq)
  }

  test("textRank: the co-occurrence hub outranks peripheral words; " +
      "self-adjacency and short docs are ignored") {
    import spark.implicits._
    val docs = Seq("hub alpha", "hub beta", "hub gamma", "hub delta",
      "alpha beta", "solo", "loop loop").toDF("text")
    val r = TextAnalysis.textRankKeywords(docs, "text",
        iterations = 3, topK = 10).collect()
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r.head._1 === "hub", s"expected hub first, got ${r.toSeq}")
    assert(r.head._2 > r.last._2, "ranks must discriminate")
    val words = r.map(_._1).toSet
    // single-word docs and pure self-loops contribute no nodes
    assert(!words.contains("solo") && !words.contains("loop"))
    assert(words === Set("hub", "alpha", "beta", "gamma", "delta"))
  }

  test("triangleStats: K4 is all triangles, a star has none, " +
      "triangle+pendant computes the textbook cc, dup/self edges " +
      "are cleaned") {
    import spark.implicits._
    def stats(es: Seq[(Long, Long)]) =
      WebGraph.triangleStats(es.toDF("x", "y"), "x", "y").head()
    // K4: 4 triangles, 12 wedges, cc = 1.0
    val k4 = stats(for (i <- 0L to 3L; j <- 0L to 3L if i < j)
      yield (i, j))
    assert((k4.getLong(1), k4.getLong(2), k4.getLong(3),
      k4.getLong(4)) === ((6L, 12L, 4L, 1000000L)))
    // star K1,5: plenty of wedges, zero triangles — and the hub's
    // oriented out-degree is 0, so the wedge join never fans out on it
    val star = stats((1L to 5L).map(i => (0L, i)))
    assert(star.getLong(3) === 0L && star.getLong(2) === 10L)
    // triangle + pendant: 1 triangle, 5 wedges, cc = 600000
    val tp = stats(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)))
    assert((tp.getLong(2), tp.getLong(3), tp.getLong(4)) ===
      ((5L, 1L, 600000L)))
    // duplicate and self edges don't change anything
    val dirty = stats(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (1L, 3L), (1L, 1L), (1L, 4L), (4L, 1L), (2L, 2L)))
    assert((dirty.getLong(2), dirty.getLong(3), dirty.getLong(4)) ===
      ((5L, 1L, 600000L)))
  }

  test("kCore: pendant chains peel layer by layer, the dense core " +
      "survives exactly, over-tight k empties, truncation throws") {
    import spark.implicits._
    def core(es: Seq[(Long, Long)], k: Int, maxIter: Int = 32) =
      WebGraph.kCore(es.toDF("x", "y"), "x", "y", k, maxIter)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // triangle with a 3-node chain hanging off node 1
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (1L, 4L), (4L, 5L), (5L, 6L))
    assert(core(g, 2) === Set((1L, 2L), (2L, 3L), (1L, 3L)))
    // k above the densest degree empties the graph
    assert(core(g, 3) === Set.empty)
    // the chain needs one round per layer: maxIter 1 must THROW, not
    // return a truncated non-core
    intercept[IllegalStateException] { core(g, 2, maxIter = 1) }
    // a clique is its own k-core for every k < size
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    assert(core(k4, 3) === k4.toSet)
  }

  test("hllRegistersBy: each group's register slice equals the " +
      "standalone sketch of that group's keys; group-max merge " +
      "recovers the global sketch") {
    import spark.implicits._
    import graft.ops.Sketch
    val df = spark.range(600).select(
      concat(lit("g"), pmod(col("id"), lit(3))).as("grp"),
      concat(lit("k"), col("id")).as("k"))
    val by = Sketch.hllRegistersBy(df, Seq("grp"), "k", 8)
    for (g <- Seq("g0", "g1", "g2")) {
      val slice = by.where(col("grp") === g).drop("grp")
        .orderBy("reg").collect().toSeq
      val solo = Sketch.hllRegisters(df.where(col("grp") === g), "k", 8)
        .orderBy("reg").collect().toSeq
      assert(slice === solo, s"group $g slice != standalone sketch")
    }
    // register-max across groups == the global sketch
    val coarse = by.groupBy("reg")
      .agg(max("rho_max").cast("int").as("rho_max"))
    assert(coarse.orderBy("reg").collect().toSeq ===
      Sketch.hllRegisters(df, "k", 8).orderBy("reg").collect().toSeq)
  }

  test("mrrAtK: reciprocal of the first relevant rank, zero when " +
      "nothing relevant lands in the top k, threshold respected") {
    import spark.implicits._
    val ranking = Seq(("q", 10L, 1L), ("q", 20L, 2L), ("q", 30L, 3L),
      ("z", 40L, 1L)).toDF("query_id", "doc_id", "rank")
    val labels = Seq(("q", 20L, 2L), ("q", 30L, 3L), ("z", 99L, 3L))
      .toDF("query_id", "doc_id", "rel")
    val r = Retrieval.mrrAtK(ranking, labels, k = 10, minRel = 2L)
      .collect().map(x => x.getString(0) ->
        (if (x.isNullAt(1)) None else Some(x.getLong(1)),
          x.getDouble(2))).toMap
    assert(r("q") === ((Some(2L), 0.5)))
    assert(r("z") === ((None, 0.0)))
    // raising the threshold past doc 20's grade moves first to rank 3
    val strict = Retrieval.mrrAtK(ranking, labels, 10, minRel = 3L)
      .collect().map(x => x.getString(0) ->
        (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
    assert(strict("q") === Some(3L))
  }

  test("expandQueries: mines top-doc terms minus the originals, and " +
      "the relational loop recalls a doc the original query missed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple fruit basket"),
      (2L, "fruit salad bowl"),
      (3L, "unrelated words here")).toDF("id", "text")
    val qs = Seq(("w", "apple")).toDF("query_id", "term")
    val r0 = Retrieval.bm25(docs, "id", "text", qs, topK = 5)
    assert(r0.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L), "original query must only find doc 1")
    val exp = Retrieval.expandQueries(docs, "id", "text", qs, r0,
      k = 5, m = 2)
    val terms = exp.collect().map(_.getString(1)).toSet
    assert(terms.subsetOf(Set("fruit", "basket")) && terms.nonEmpty)
    assert(!terms.contains("apple"), "originals must be excluded")
    // feed the union back: doc 2 is now reachable through 'fruit'
    val expanded = qs.unionByName(
      exp.select(col("query_id"), col("term")))
    val r1 = Retrieval.bm25(docs, "id", "text", expanded, topK = 5)
    assert(r1.select("doc_id").collect().map(_.getLong(0)).toSet
      .contains(2L), "expansion must recall doc 2")
  }

  test("bm25f: a title hit outranks the same term in the body, and " +
      "a single unit-weight field reproduces plain bm25 exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "target word", "filler filler filler filler"),
      (2L, "other words", "target filler filler filler"),
      (3L, "other words", "filler filler filler filler")
    ).toDF("id", "title", "body")
    val qs = Seq(("w", "target")).toDF("query_id", "term")
    val r = Retrieval.bm25f(docs, "id",
        Seq(("title", 3L), ("body", 1L)), qs, topK = 5)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(r.toSeq === Seq(1L, 2L), "title hit must rank first")
    // degenerate single unit-weight field == plain bm25
    val one = Retrieval.bm25f(docs, "id", Seq(("body", 1L)), qs, 5)
      .orderBy("rank", "doc_id").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
    val plain = Retrieval.bm25(docs, "id", "body", qs, 5)
      .orderBy("rank", "doc_id").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
    assert(one === plain)
  }

  test("ndcgAtK: perfect ranking scores 1.0, reversal discounts by " +
      "position, unlabeled docs gain nothing, no-relevant query is " +
      "null") {
    import spark.implicits._
    val labels = Seq(("q", 1L, 3L), ("q", 2L, 1L), ("q", 3L, 0L),
      ("z", 9L, 0L)).toDF("query_id", "doc_id", "rel")
    def rk(ds: Seq[Long], q: String = "q") =
      ds.zipWithIndex.map { case (d, i) => (q, d, (i + 1).toLong) }
        .toDF("query_id", "doc_id", "rank")
    def nd(r: org.apache.spark.sql.DataFrame) =
      Retrieval.ndcgAtK(r, labels, k = 3).collect()
        .map(x => x.getString(0) ->
          (x.getDouble(1), x.getDouble(2), if (x.isNullAt(3)) None
            else Some(x.getDouble(3)))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ideal = r6(7.0 / 1.0 + 1.0 / (math.log(3.0) / math.log(2.0)))
    val perfect = nd(rk(Seq(1L, 2L, 3L)))("q")
    assert(perfect === ((ideal, ideal, Some(1.0))))
    // reversed: rel-3 doc discounted to rank 3
    val revDcg = r6(1.0 / (math.log(3.0) / math.log(2.0)) + 7.0 / 2.0)
    val rev = nd(rk(Seq(3L, 2L, 1L)))("q")
    assert(rev._1 === revDcg)
    assert(rev._3 === Some(r6(revDcg / ideal)))
    // a ranking of only unlabeled docs scores dcg 0; a query whose
    // labels are all rel-0 yields idcg 0 -> ndcg null
    val z = nd(rk(Seq(7L, 8L), q = "z"))
    assert(z("z") === ((0.0, 0.0, None)))
  }

  test("codeSwitchStats: monolingual docs stay unmixed, majority by " +
      "sentence count, language ties break alphabetically") {
    import spark.implicits._
    val en1 = "the quick brown fox jumps over the lazy dog and the cat"
    val de1 = "der hund und die katze ist nicht ein pferd"
    val zh1 = "这是一个简单的中文句子没有任何其他文字"
    val docs = Seq(
      (1L, s"$en1. $en1! $en1"),            // pure en
      (2L, s"$en1. $en1. $zh1"),            // majority en, mixed
      (3L, s"$en1. $de1")                   // 1-1 tie -> de (alpha)
    ).toDF("id", "text")
    val r = TextAnalysis.codeSwitchStats(docs, "id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getString(3), x.getBoolean(4)))
      .toMap
    assert(r(1L) === ((3L, 1L, "en", false)))
    assert(r(2L) === ((3L, 2L, "en", true)))
    assert(r(3L) === ((2L, 2L, "de", true)))
  }

  test("pageRankWeighted: mass splits in weight proportion, unit " +
      "weights reproduce pageRank exactly, zero-weight edges carry " +
      "nothing") {
    import spark.implicits._
    val e = Seq(("a", "b", 1L), ("a", "c", 3L)).toDF("s", "t", "w")
    def asLong(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("node", "CAST(rank_ppb AS BIGINT) AS r")
    val r = asLong(WebGraph.pageRankWeighted(e, "s", "t", "w", 1))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // a spreads 1e9 as 1:3 -> b gets 250e6, c 750e6; +teleport/damping
    assert(r === Map("a" -> 150000000L, "b" -> 362500000L,
      "c" -> 787500000L))
    // unit weights == the unweighted kernel, bit for bit
    val g = Seq(("x", "y"), ("y", "z"), ("z", "x"), ("x", "z"))
      .toDF("s", "t")
    val unit = asLong(WebGraph.pageRankWeighted(
        g.withColumn("w", lit(1L)), "s", "t", "w", 3))
      .orderBy("node").collect()
      .map(x => (x.getString(0), x.getLong(1)))
    val plain = asLong(WebGraph.pageRank(g, "s", "t", 3))
      .orderBy("node").collect()
      .map(x => (x.getString(0), x.getLong(1)))
    assert(unit.toSeq === plain.toSeq)
    // a zero-weight edge contributes no mass (teleport only at dst)
    val z = asLong(WebGraph.pageRankWeighted(
        Seq(("a", "b", 0L), ("a", "c", 2L)).toDF("s", "t", "w"),
        "s", "t", "w", 1))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(z("b") === 150000000L && z("c") === 1000000000L)
  }

  test("hyperAnf: a node's converged sketch IS its component's key " +
      "sketch, estimates are monotone per node, disjoint components " +
      "never mix") {
    import spark.implicits._
    import graft.ops.Sketch
    // two disjoint cliques (diameter 1): K5 on 0-4, K3 on 10-12
    val k5 = for (i <- 0L to 4L; j <- 0L to 4L if i < j) yield (i, j)
    val k3 = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val anf = WebGraph.hyperAnf((k5 ++ k3).toDF("x", "y"), "x", "y",
      p = 5, rounds = 2)
    val byNode = anf.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // after round >= diameter the per-node estimate equals the HLL
    // estimate of the component's key set — the SAME registers
    def keyEst(ks: Seq[Long]): Double =
      Sketch.hllEstimate(Sketch.hllRegisters(
        ks.toDF("k").select(col("k").cast("string").as("k")), "k", 5), 5)
        .head().getAs[Double]("est")
    val (e5, e3) = (keyEst(0L to 4L), keyEst(Seq(10L, 11L, 12L)))
    for (n <- 0L to 4L) assert(byNode((1L, n)) === e5, s"node $n r1")
    for (n <- Seq(10L, 11L, 12L)) assert(byNode((1L, n)) === e3)
    // round 2 changes nothing (fixpoint) and components never mix
    for (n <- 0L to 4L) assert(byNode((2L, n)) === e5)
    for (n <- Seq(10L, 11L, 12L)) assert(byNode((2L, n)) === e3)
    // monotone nondecreasing per node
    for (((r, n), v) <- byNode if r > 0)
      assert(v >= byNode((r - 1, n)), s"shrunk at ($r, $n)")
    // round 0 is just the node itself
    for (((r, n), v) <- byNode if r == 0)
      assert(v > 0.5 && v < 2.0, s"round-0 est $v at $n")
  }

  test("kwicSnippets: windows clamp at document edges, occurrences " +
      "cap per doc by earliest start, snippet contains the phrase") {
    import spark.implicits._
    val docs = Seq(
      (1L, "match here tail a b c d match here end"),
      (2L, "x match here y")).toDF("id", "text")
    val r = Retrieval.kwicSnippets(docs, "id", "text",
        Seq(("m", "match here")), window = 2, maxPerDoc = 1)
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getString(3)))
      .sortBy(_._1)
    // doc 1: two occurrences, cap keeps the earliest (start 0), and
    // the left window clamps at the document start
    assert(r === Array((1L, 0L, "match here tail a"),
      (2L, 1L, "x match here y")))
    // uncapped: the second occurrence's right window clamps at the end
    val all = Retrieval.kwicSnippets(docs, "id", "text",
        Seq(("m", "match here")), window = 2, maxPerDoc = 9)
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getString(3)))
      .toSet
    assert(all.contains((1L, 7L, "c d match here end")))
  }

  test("coCitation: counts common in-linkers, dedups repeated edges, " +
      "hub cap drops mega-sources into the accounting table") {
    import spark.implicits._
    val edges = Seq(
      ("s1", "a"), ("s1", "b"), ("s1", "b"),  // dup edge counts once
      ("s2", "a"), ("s2", "b"), ("s2", "c"),
      ("s3", "a"), ("s3", "c")).toDF("src", "dst")
    val r = WebGraph.coCitation(edges, "src", "dst",
        minCount = 2, maxOutDeg = 64).collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getLong(2))).toMap
    // (a,b): s1+s2 = 2; (a,c): s2+s3 = 2; (b,c): only s2 -> pruned
    assert(r === Map(("a", "b") -> 2L, ("a", "c") -> 2L))
    // a hub source above the cap contributes no pairs but IS accounted
    val hub = (0 until 10).map(i => ("hub", s"p$i")).toDF("src", "dst")
    val capped = WebGraph.coCitation(edges.unionByName(hub),
      "src", "dst", minCount = 2, maxOutDeg = 5)
    assert(capped.collect().map(x =>
      (x.getString(0), x.getString(1))).toSet ===
      Set(("a", "b"), ("a", "c")))
    val skipped = WebGraph.coCitationSkippedSources(
      edges.unionByName(hub), "src", "dst", maxOutDeg = 5).collect()
    assert(skipped.map(x => (x.getString(0), x.getLong(1))).toSeq ===
      Seq(("hub", 10L)))
  }

  test("termGate: >64-term lexicon chunks into 64-term automata; " +
      "occurrence and distinct counts sum exactly across groups") {
    import spark.implicits._
    // terms span two automaton groups (70 > 64); wNx shapes so no term
    // is a substring of another
    val terms = (0 until 70).map(i => s"w${i}x")
    val d = Seq(
      (1L, "w0x w0x w65x hello w69x"), // w0x×2 + w65x + w69x
      (2L, "nothing here at all"),
      (3L, "w64x only")                // one term → below minDistinct
    ).toDF("id", "text")
    val got = TextAnalysis.termGate(d, "text", terms, minDistinct = 2)
      .select("id", "term_matches", "n_terms_hit", "term_flagged")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) === ((4L, 3L, true)))
    assert(got(2L) === ((0L, 0L, false)))
    assert(got(3L) === ((1L, 1L, false)))
  }

  test("ccRedact: a validated card embedded in a longer (invalid) " +
      "digit run is not partially redacted there") {
    import spark.implicits._
    // 378282246310005 is Luhn-valid; 93782822463100051 (17 digits,
    // word-bounded, contains it) is a candidate but Luhn-INVALID —
    // a literal substring replace would corrupt it to 9<CC>1
    val doc = "amex 378282246310005 ok ref 93782822463100051 end"
    val red = Seq(doc).toDF("text")
      .select(Curation.ccRedact(col("text"))).head.getString(0)
    assert(red === "amex <CC> ok ref 93782822463100051 end")
  }

  test("cdcChunks: token-less docs yield no chunks and never pair") {
    import spark.implicits._
    val base = (1 to 80).map(i => s"t${i % 31}v$i").mkString(" ")
    val d = Seq((1L, ""), (2L, "   \n  "), (3L, base), (4L, base))
      .toDF("id", "text")
    val ch = Curation.cdcChunks(d, "id", "text")
    assert(ch.filter(col("id").isin(1L, 2L)).count() === 0)
    assert(ch.filter(col("chunk_len") <= 0).count() === 0)
    val pairs = Curation.chunkNearDupPairs(d, "id", "text",
        minJaccard = 0.01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the two empty docs must NOT appear as a jaccard-1.0 pair; the
    // two identical real docs must
    assert(pairs.toSeq === Seq((3L, 4L)))
  }

  test("marginMiningCandidates: full probing (nProbe = nCells) " +
      "reproduces the brute marginMining exactly; partial probing " +
      "returns a subset with identical forward-best rows when covered") {
    import spark.implicits._
    val emb = (0L until 120L)
      .map(i => (i, Seq.tabulate(16)(j =>
        math.sin((i % 7 + 1) * (j + 1) * 0.37 + i * 0.011).toFloat)))
      .toDF("vec_id", "embedding")
    val left = emb.filter(col("vec_id") % 2 === 0)
    val right = emb.filter(col("vec_id") % 2 === 1)
    val cents = SimSearch.ivfCentroids(emb, "vec_id", "embedding", 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val brute = rows(SimSearch.marginMining(left, right, "vec_id",
      "embedding", k = 4, minMarginPpm = 0L))
    // full probing: candidate set == all pairs -> exact equality
    val full = rows(SimSearch.marginMiningCandidates(left, right,
      "vec_id", "embedding", cents, k = 4, minMarginPpm = 0L,
      nProbe = 4))
    assert(full === brute)
    // partial probing: every returned x is a real left id and its
    // margin row is self-consistent (the stats are exact over the
    // candidate graph; coverage, not correctness, varies with probes)
    val part = SimSearch.marginMiningCandidates(left, right, "vec_id",
      "embedding", cents, k = 4, minMarginPpm = 0L, nProbe = 1)
      .collect()
    assert(part.nonEmpty)
    part.foreach { r =>
      assert(r.getLong(0) % 2 === 0 && r.getLong(1) % 2 === 1)
      val (cos, ax, ay, m) = (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
      assert(m === cos * 2000000L / (ax + ay))
    }
  }

  test("kmvOverlap: empty inputs produce one all-zero row, no NULLs") {
    val e = spark.range(0).select(col("id").cast("string").as("k"))
    val r = graft.ops.Sketch.kmvOverlap(e, e, "k").head
    assert((0 until r.length).forall(i => !r.isNullAt(i)),
      s"NULL in empty-corpus row: $r")
    assert((0 until r.length).forall(i => r.getLong(i) === 0L), r.toString)
  }

}

/** A stand-in "real" decoder for the codec-seam test: different decode
  * logic, per-partition open accounting. Top-level (not an inner class)
  * so task serialization never drags the suite along.
  */
class FakeJniCodec(opens: org.apache.spark.util.LongAccumulator,
    decoded: org.apache.spark.util.LongAccumulator)
    extends Multimodal.MediaCodec {
  type Ctx = Unit
  def open(): Unit = opens.add(1)
  def decode(ctx: Unit, m: Multimodal.MediaRow): Multimodal.MediaFeatures = {
    decoded.add(1)
    Multimodal.MediaFeatures(m.media_id, m.kind, m.width, m.height,
      m.duration_ms, m.bytes.length, 42.0, Seq.fill(8)(0.5f))
  }
}
