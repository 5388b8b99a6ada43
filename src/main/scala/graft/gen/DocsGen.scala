package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic documents corpus for curation benchmarks —
  * every row is a pure function of doc_id (Column arithmetic over
  * spark.range: distributed generation, no driver-side data, identical
  * at any parallelism).
  *
  * Planted structure mirrors the q43 bench input so every curation
  * stage does real work: repeated-line promo docs (killed by the
  * repetition gate), exact-duplicate groups, near-duplicate groups
  * (one-token difference), PII contact lines (redacted), and shared
  * boilerplate paragraphs (removed by corpus paragraph dedup). The
  * base body is a word salad over a 7000-word vocabulary with
  * per-doc-varying length, so shingle sets are distinct across
  * unrelated docs (no degenerate LSH buckets).
  */
object DocsGen {

  def docs(spark: SparkSession, n: Long): DataFrame = {
    val df = spark.range(n).withColumnRenamed("id", "doc_id")
    val did = col("doc_id")
    // 30..229 words, pseudo-random via a multiplicative hash
    val nWords = pmod(did * 2654435761L, lit(200L)) + 30L
    // Per-word index: a REAL hash of (doc, i). Anything affine in
    // (did, i) — did*a + i*b, or a Lehmer step of it — makes every
    // salad doc a shifted copy of every other (affine maps compose to
    // affine; mod 7000 preserves the collisions), which produced
    // massive cross-doc shingle overlap and a near-dup component
    // spanning half the corpus (its diameter outran a 20-round label
    // propagation, which then truncated silently; Dedup.canonicalize
    // now contracts in O(log n) rounds and throws, never truncates, if
    // it runs out). xxhash64 breaks the linearity; cross-doc overlap
    // becomes negligible, as real web text is.
    def wordIdx(i: org.apache.spark.sql.Column) =
      pmod(xxhash64(did, i), lit(7000L))
    // every 6th word is an English stopword so langId keeps the doc
    // (a salad with no function words classifies "und", as it should)
    val stops = array(graft.ops.TextAnalysis.StopEn.map(lit): _*)
    val salad = array_join(
      transform(sequence(lit(1L), nWords),
        i => when(pmod(i, lit(6L)) === 0,
            element_at(stops, pmod(did + i, lit(15L)).cast("int") + 1))
          .otherwise(concat(lit("w"), wordIdx(i).cast("string")))),
      " ")
    df.select(did, plantedText(did, salad).as("text"))
  }

  /** [[docs]] with the full driver-table schema (doc_id, text, lang,
    * source, n_chars) so the SparkEntry catalog queries run against a
    * generated corpus unchanged — the 10×-scale evidence harness
    * (BenchScale) materializes this at two sizes. Deterministic pure
    * Column functions of doc_id, like everything else here.
    */
  def documentsTable(spark: SparkSession, n: Long): DataFrame = {
    val langs = Seq("en", "de", "fr", "es")
    docs(spark, n)
      .withColumn("lang",
        element_at(array(langs.map(lit): _*),
          pmod(col("doc_id"), lit(langs.size.toLong)).cast("int") + 1))
      .withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(4L)).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Deterministic synthetic embeddings with cluster structure
    * (per-label centroid + per-vector noise — IVF/LSH stages see
    * non-degenerate cells), full driver-table schema (vec_id,
    * embedding float[dim], label).
    */
  def embeddingsTable(spark: SparkSession, n: Long,
      dim: Int = 64): DataFrame = {
    val vid = col("vec_id")
    val label = pmod(vid, lit(8L)).cast("int")
    def unit(h: Column): Column =
      (pmod(h, lit(2001L)) - 1000L).cast("double") / 1000.0
    val emb = transform(sequence(lit(0), lit(dim - 1)), j =>
      (unit(xxhash64(label, j)) +
        unit(xxhash64(vid, j, lit("n"))) * 0.3).cast("float"))
    spark.range(n).withColumnRenamed("id", "vec_id")
      .select(vid, emb.as("embedding"), label.as("label"))
  }

  /** The planted-structure wrapper around a base body: promo docs
    * (did%17), exact-dup decade groups (did%10<2), near-dup pairs
    * (did%10∈{4,5}, one-token difference), a PII contact line, and
    * shared boilerplate paragraphs. Shared by [[docs]] and the
    * benchmark's `curate` workload (perfbench) so both measure the same
    * workload shape; q43's inline twin is the oracle-pinned spec.
    */
  def plantedText(did: Column, base: Column): Column = {
    // floor() keeps the decade id integral (Column `/` is double
    // division; exact for ids below 2^52)
    val gt = concat(lit("g"), floor(did / 10L).cast("long").cast("string"))
    val promoLine = "Click here to read more about this offer now"
    val promoDoc = Seq.fill(8)(promoLine).mkString("\n")
    val body = when(pmod(did, lit(17)) === 0, lit(promoDoc))
      .when(pmod(did, lit(10)) < 2,
        concat(lit("the shared body "), gt, lit(" of group "), gt,
          lit(" is exactly "), gt, lit(" the same here "), gt))
      .when(pmod(did, lit(10)).isin(4, 5),
        concat(lit("the near duplicate body "), gt, lit(" one two "),
          gt, lit(" three four "), gt, lit(" five six "), gt, lit(" "),
          when(pmod(did, lit(10)) === 4, lit("alpha"))
            .otherwise(lit("beta"))))
      .otherwise(base)
    val pii = concat(lit("Contact user"), pmod(did, lit(7)).cast("string"),
      lit("@example.com from "), pmod(did, lit(256)).cast("string"),
      lit(".0.0.1"))
    concat_ws("\n\n",
      when(pmod(did, lit(3)) === 0,
        lit("Subscribe to our newsletter for updates.")),
      body, pii,
      when(pmod(did, lit(5)) === 0,
        lit("All rights reserved. Terms of use apply.")))
  }
}
