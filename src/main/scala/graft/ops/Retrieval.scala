package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inverted-index construction and BM25-style ranked boolean retrieval
  * over the corpus — the "find the documents about X" primitive a
  * training-data pipeline uses for targeted subset selection (topic
  * mining, eval-adjacent document pulls, quality-probe panels).
  * Robertson & Spärck Jones probabilistic relevance framework; BM25 as
  * in Robertson et al., TREC-3 (1994).
  *
  * Determinism: scores are exact integer parts-per-million, computed
  * with long/decimal multiplication and truncating division only (all
  * quantities non-negative, so truncation = floor), identical in any
  * aggregation order and in the DuckDB oracle. The one concession:
  * the idf LOG is replaced by its rational argument
  * `(2N − 2df + 1) / (2df + 1)` — the classic
  * `ln((N − df + 0.5)/(df + 0.5))` with the monotone `ln` dropped so
  * the score is engine-exact integer arithmetic. Rankings for
  * single-term queries are identical to true BM25; multi-term queries
  * weight rare terms more aggressively than the log form (documented,
  * intentional — swap a float `ln` in if cross-engine bit-exactness
  * is not needed). Doc-length saturation (k1, b) is the real BM25
  * shape at ppm resolution.
  *
  * Scale shape (10^12 docs): [[postings]] is one tokenize pass and one
  * (term, id) shuffle of thin count rows — the classic index build.
  * [[bm25]] then touches the corpus exactly twice: a map-side-only
  * stats pass (count + token sum, one-row result) and the postings
  * pass, which is FILTERED MAP-SIDE by a broadcast of the query-term
  * set before anything shuffles — only postings of queried terms
  * (Σ_t df(t) rows) reach the score aggregation. Per-term df, the
  * query map and the corpus stats all broadcast (query-workload-sized).
  * Top-k per query uses [[ScaleWindow.shardedRank]], so a stopword-ish
  * query matching 10^11 docs is still many tasks' work, never one
  * window partition. Raw text never shuffles (terms are short tokens;
  * locked in PlanShapeSpec).
  */
object Retrieval {

  /** Inverted-index postings: one row per (term, doc) with the term
    * frequency and the doc's token length — `(term, id, tf, dl)`.
    * Tokenization is [[Dedup.tokens]] (lowercase, whitespace split),
    * the corpus-wide convention the oracles mirror.
    */
  def postings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // explode_outer + null-filter, NOT explode: the optimizer infers a
    // `size(arr) > 0` filter above a non-outer explode and pushes the
    // generator's whole derived expression (the tokenize) into the
    // scan, recomputing it per row — see SessionTuning. The
    // outer form plans no inferred filter in ANY session; token arrays
    // carry no null elements, so dropping the empty-array marker row
    // is exactly explode's semantics.
    df.select(col(idCol).as("id"), Dedup.tokens(col(textCol)).as("_tk"))
      .select(col("id"), size(col("_tk")).cast("long").as("dl"),
        explode_outer(col("_tk")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** One-row corpus stats (n_docs, sum_dl) — fully map-side partial
    * aggregation, no data shuffle.
    */
  def corpusStats(df: DataFrame, textCol: String): DataFrame =
    df.select(size(Dedup.tokens(col(textCol))).cast("long").as("_dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_dl")).as("sum_dl"))

  /** Positional postings: one row per token OCCURRENCE —
    * `(term, id, pos)` with pos 0-based — the index phrase and
    * proximity queries need where [[postings]]' tf-compressed form
    * cannot answer "adjacent". Σ dl rows (the corpus token count);
    * at scale this is the table you bucket by term.
    */
  def positionalPostings(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // outer + null-filter for the same inferred-filter reason as
    // [[postings]]
    df.select(col(idCol).as("id"), Dedup.tokens(col(textCol)).as("_tk"))
      .select(col("id"), posexplode_outer(col("_tk")))
      .filter(col("pos").isNotNull)
      .select(col("id"), col("pos"), col("col").as("term"))

  /** Exact phrase occurrences: for each (phrase, doc), how many start
    * positions carry the phrase's tokens CONSECUTIVELY — the classic
    * decomposition (Manning/Raghavan/Schütze IR ch. 2): join postings
    * to the phrase's (term, offset) rows, normalize every hit to its
    * implied start = pos − offset, and a start where the count of
    * DISTINCT offsets equals the phrase length is an occurrence (the
    * distinct-offset count is what makes repeated-term phrases like
    * "table table" come out right: one position can satisfy two
    * offsets of the same term, but never the same offset twice).
    * Returns (phrase_id, id, n_occurrences), matches only.
    *
    * Scale shape: the phrase table broadcasts (queries are small); the
    * postings join is term-selective, so only positions of phrase
    * terms shuffle — (phrase, id, start) thin rows; everything else is
    * per-group counting.
    */
  /** Every phrase occurrence as `(phrase_id, id, start, phrase_len)`
    * (start 0-based) — the table [[phraseMatch]] counts over and
    * [[kwicSnippets]] cuts context windows from.
    */
  def phraseOccurrences(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[(String, String)]): DataFrame = {
    require(phrases.nonEmpty, "at least one phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val pt = phrases.flatMap { case (pid, p) =>
      val toks = p.toLowerCase(java.util.Locale.ROOT).trim
        .split("\\s+").filter(_.nonEmpty)
      toks.zipWithIndex.map { case (t, off) =>
        (pid, t, off.toLong, toks.length.toLong) }
    }.toDF("phrase_id", "term", "off", "phrase_len")
    positionalPostings(docs, idCol, textCol)
      .join(broadcast(pt), "term")
      .select(col("phrase_id"), col("id"),
        (col("pos") - col("off")).as("start"), col("off"),
        col("phrase_len"))
      .where(col("start") >= 0)
      .groupBy(col("phrase_id"), col("id"), col("start"),
        col("phrase_len"))
      .agg(countDistinct(col("off")).as("_nhit"))
      .where(col("_nhit") === col("phrase_len"))
      .drop("_nhit")
  }

  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[(String, String)]): DataFrame =
    phraseOccurrences(docs, idCol, textCol, phrases)
      .groupBy(col("phrase_id"), col("id"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))

  /** Keyword-in-context snippets: for each phrase occurrence, the
    * `window`-token context on each side, capped at `maxPerDoc`
    * occurrences per (phrase, doc) — the search-result highlight /
    * concordance view. Text rejoins ONLY for matched documents (a
    * semi-join-sized id join), and the per-(phrase, doc) cap window
    * runs over occurrence rows, never the corpus. Returns
    * (phrase_id, id, start, snippet).
    */
  def kwicSnippets(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[(String, String)], window: Int = 3,
      maxPerDoc: Int = 2): DataFrame = {
    require(window >= 0 && maxPerDoc >= 1)
    val occ = phraseOccurrences(docs, idCol, textCol, phrases)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("phrase_id"), col("id"))
          .orderBy(col("start"))))
      .where(col("_rn") <= maxPerDoc)
    val toks = docs.select(col(idCol).as("id"),
      Dedup.tokens(col(textCol)).as("_tk"))
    val s1 = greatest(col("start") + 1L - window, lit(1L))
    val e1 = least(col("start") + col("phrase_len") + window,
      size(col("_tk")).cast("long"))
    occ.join(toks, "id")
      .select(col("phrase_id"), col("id"), col("start"),
        array_join(slice(col("_tk"), s1.cast("int"),
          (e1 - s1 + 1L).cast("int")), " ").as("snippet"))
  }

  /** Plain term-frequency top-k ranking over the same
    * (query_id, term) workload [[bm25]] takes — the cheap lexical
    * ranker (no idf, no length normalization) that serves as the
    * second arm of hybrid-fusion ([[rrfFuse]]) and as the sanity
    * baseline BM25 must beat. Returns (query_id, doc_id, tf_sum,
    * rank), rank <= topK, ties by doc id. Same postings table, same
    * broadcast workload join — one corpus scan.
    */
  /** Query-term-restricted postings, materialized once — the shared
    * candidate table when several rankers serve the same workload
    * (one corpus tokenize pass, N consumers: the splitLeakageAudit
    * discipline). Pass to [[bm25]] / [[tfTopK]] via
    * `precomputedMatched` — each would otherwise scan the corpus
    * independently.
    */
  def matchedPostings(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame): DataFrame = {
    val qterms = queries.select(lower(col("term")).as("term")).distinct()
    // The broadcast query-term join sits BELOW the (term, id, dl)
    // aggregation: Catalyst cannot push an inner join under an
    // aggregate, so `postings(docs).join(qterms)` would shuffle the
    // FULL corpus vocabulary — every (term, id) row — and only then
    // drop the non-queried terms. Written this way the broadcast hash
    // join filters exploded occurrences map-side and only queried-term
    // occurrences reach the exchange (Σ_t cf(t) rows instead of the
    // corpus token vocabulary). Identical output: the per-(term, id)
    // counts of the surviving terms are untouched by the filter.
    docs.select(col(idCol).as("id"), Dedup.tokens(col(textCol)).as("_tk"))
      .select(col("id"), size(col("_tk")).cast("long").as("dl"),
        explode_outer(col("_tk")).as("term")) // outer: see postings
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
  }

  def tfTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, topK: Int = 10,
      precomputedMatched: Option[DataFrame] = None,
      shards: Int = 0): DataFrame = {
    require(topK > 0)
    val qt = queries
      .select(col("query_id"), lower(col("term")).as("term"))
      .distinct()
    val m = precomputedMatched
      .getOrElse(matchedPostings(docs, idCol, textCol, queries))
      .join(broadcast(qt), "term")
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("tf")).cast("long").as("tf_sum"))
    // sharded per-query rank, same as bm25: a stopword-ish query
    // matching 10^11 docs must never become ONE window task
    ScaleWindow.shardedRank(m, Seq("query_id"),
        Seq(col("tf_sum").desc, col("id")), "rank", "_sw_n", shards,
        boundedStrata = true) // strata = the query workload
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("id").as("doc_id"), col("tf_sum"),
        col("rank").cast("long").as("rank"))
  }

  /** Simple BM25F (Robertson & Zaragoza, FnTIR 2009 §: the
    * field-weighted extension): term frequencies and document lengths
    * are WEIGHTED sums over fields — tf = Σ_f w_f·tf_{f}, dl =
    * Σ_f w_f·dl_f — and standard BM25 runs over the weighted
    * quantities, so a title hit with weight 3 counts like three body
    * hits while length saturation still applies globally. Integer
    * weights keep every quantity exact; the scoring kernel, df
    * counting, top-k sharding, and the oracle arithmetic are
    * [[bm25]]'s own (the virtual weighted postings feed it through
    * `precomputedMatched`/`precomputedStats`). Fields missing a term
    * contribute 0; docs empty in every field never match.
    */
  def bm25f(docs: DataFrame, idCol: String,
      fields: Seq[(String, Long)], queries: DataFrame, topK: Int = 10,
      k1Ppm: Long = 1200000L, bPpm: Long = 750000L,
      shards: Int = 0): DataFrame = {
    require(fields.nonEmpty && fields.forall(_._2 > 0L),
      "at least one field, positive integer weights")
    val qterms = queries.select(lower(col("term")).as("term")).distinct()
    // per-field exploded terms are broadcast-filtered to the query
    // workload BEFORE the (term, id) aggregation shuffles — the
    // matchedPostings discipline (an inner join does not push below an
    // aggregate, so filtering after `postings` would shuffle every
    // field's full vocabulary); weighted tf of surviving terms is
    // unchanged by the filter
    val tfTab = fields.map { case (c, w) =>
      docs.select(col(idCol).as("id"), Dedup.tokens(col(c)).as("_tk"))
        .select(col("id"), explode_outer(col("_tk")).as("term"))
        .join(broadcast(qterms), Seq("term")) // outer: see postings
        .groupBy(col("term"), col("id"))
        .agg((count(lit(1)) * w).as("tf"))
    }.reduce(_ unionByName _)
      .groupBy(col("term"), col("id"))
      .agg(sum(col("tf")).cast("long").as("tf"))
    // fenced: consumed by the matched join AND the corpus-stats
    // aggregate — unfenced, each consumer re-tokenizes every field of
    // the whole corpus (the dl pass is the one corpus-wide scan left
    // in bm25f; its output is one thin row per doc)
    val dlTab = fields.map { case (c, w) =>
      docs.select(col(idCol).as("id"),
        (size(Dedup.tokens(col(c))).cast("long") * w).as("_dl"))
    }.reduce(_ unionByName _)
      .groupBy(col("id")).agg(sum(col("_dl")).cast("long").as("dl"))
      .localCheckpoint()
    val matched = tfTab.join(dlTab, Seq("id"))
      .select(col("term"), col("id"), col("dl"), col("tf"))
      .localCheckpoint()
    val stats = dlTab.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    bm25(docs, idCol, fields.head._1, queries, topK, k1Ppm, bPpm,
      shards, precomputedMatched = Some(matched),
      precomputedStats = Some(stats))
  }

  /** Anchor-text retrieval: BM25 over per-target-host "anchor
    * documents" that are never materialized — the off-page relevance
    * signal (Brin & Page 1998 §2.2; Craswell, Hawking & Robertson,
    * SIGIR 2001: anchor-text ranking beats content ranking for site
    * finding). The anchor document of a target is the multiset of its
    * inbound anchor texts; instead of concatenating strings (a
    * 10^9-inlink hub would build a multi-GB value), the (target,
    * anchor, count) table feeds [[bm25]] as VIRTUAL WEIGHTED postings
    * — bm25f's trick: tf(t, target) = Σ_anchors cnt·tf(t, anchor),
    * dl(target) = Σ cnt·len(anchor) — so only thin rows ever shuffle
    * and the scoring kernel/oracle arithmetic stay [[bm25]]'s own.
    *
    * `maxAnchorsPerTarget` caps the DISTINCT anchor strings a hub
    * contributes (top by count desc, anchor asc, via sharded rank) —
    * anchor-spam mass dilution, same cap + determinism contract as
    * the dedup bucket caps. nofollow links and non-http(s) targets
    * are excluded up front (the rel=nofollow contract: the link
    * conveys no endorsement).
    */
  def anchorRetrieval(links: DataFrame, queries: DataFrame,
      topK: Int = 10, maxAnchorsPerTarget: Int = 0,
      k1Ppm: Long = 1200000L, bPpm: Long = 750000L,
      shards: Int = 0): DataFrame = {
    val thin = links
      .filter(!col("nofollow") && col("href_abs").rlike("^https?://"))
      .select(Curation.matchHost(col("href_abs")).as("id"),
        col("anchor"))
    val ba = thin.groupBy(col("id"), col("anchor"))
      .agg(count(lit(1)).cast("long").as("_cnt"))
    val capped =
      if (maxAnchorsPerTarget <= 0) ba
      else ScaleWindow.shardedRank(ba, Seq("id"),
          Seq(col("_cnt").desc, col("anchor")), "_ar", "_an", shards)
        .filter(col("_ar") <= maxAnchorsPerTarget).drop("_ar", "_an")
    // fenced: dl and tf (and through them the matched join and the
    // corpus stats) all derive from this one thin table — unfenced,
    // every consumer pass re-runs the upstream link extraction
    // (an HTML parse of the whole crawl) just to rebuild
    // (id, anchor, count, tokens) rows
    val withToks = capped
      .withColumn("_tk", Dedup.tokens(col("anchor")))
      .filter(size(col("_tk")) > 0)
      .localCheckpoint()
    val dl = withToks.groupBy(col("id"))
      .agg(sum(col("_cnt") * size(col("_tk"))).cast("long").as("dl"))
    val qterms = queries.select(lower(col("term")).as("term")).distinct()
    // broadcast-filter exploded anchor terms to the query workload
    // BEFORE the (term, id) aggregation — the matchedPostings
    // discipline (the join does not push below the aggregate)
    val tf = withToks
      .select(col("id"), col("_cnt"), explode_outer(col("_tk")).as("term"))
      .join(broadcast(qterms), Seq("term")) // outer: see postings
      .groupBy(col("term"), col("id"))
      .agg(sum(col("_cnt")).cast("long").as("tf"))
    val matched = tf.join(dl, Seq("id"))
      .select(col("term"), col("id"), col("dl"), col("tf"))
      .localCheckpoint()
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    bm25(links, "id", "anchor", queries, topK, k1Ppm, bPpm, shards,
      precomputedMatched = Some(matched),
      precomputedStats = Some(stats))
  }

  /** Query-likelihood retrieval with Dirichlet-prior smoothing (Zhai
    * & Lafferty, SIGIR 2001): score(q,d) = Σ_{t∈q} ln((tf(t,d) +
    * μ·p(t|C)) / (dl + μ)), p(t|C) = cf(t)/|C| the corpus unigram
    * model — the language-modeling ranker next to [[bm25]]'s
    * probabilistic-relevance one. Implemented in the rank-equivalent
    * matched-terms form score = Σ_{t∈q∩d} ln(1 + tf·|C|/(μ·cf(t))) +
    * |q|·ln(μ/(dl+μ)): absent terms contribute exactly the length
    * normalizer, so only MATCHED postings are touched — the same
    * scale shape as [[bm25]] (broadcast query-term semi-join before
    * any shuffle; cf/nq/stats broadcast; sharded top-k so a stopword
    * query is never one window task). cf(t) is collection frequency
    * over the full postings of the queried terms.
    *
    * Scores use the round-6 float protocol ([[ndcgAtK]]'s): per-term
    * contributions rounded to 6, summed, re-rounded — the ln makes
    * BM25's exact integer staging impossible, and ranking on the
    * ROUNDED score keeps cross-engine tie-breaks identical.
    */
  def queryLikelihood(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, topK: Int = 10, mu: Long = 2000L,
      precomputedMatched: Option[DataFrame] = None,
      precomputedStats: Option[DataFrame] = None,
      shards: Int = 0): DataFrame = {
    require(topK > 0 && mu > 0, "positive topK and mu")
    // the two precomputed seams travel TOGETHER (bm25f discipline):
    // virtual postings with stats from the raw corpus would silently
    // use the wrong |C| in ln(1 + tf·|C|/(mu·cf))
    require(precomputedMatched.isEmpty == precomputedStats.isEmpty,
      "pass precomputedMatched and precomputedStats together")
    val qt = queries
      .select(col("query_id"), lower(col("term")).as("term"))
      .distinct()
    val matched = precomputedMatched
      .getOrElse(matchedPostings(docs, idCol, textCol, queries))
    val stats = precomputedStats.getOrElse(corpusStats(docs, textCol))
    val cf = matched.groupBy("term")
      .agg(sum(col("tf")).cast("long").as("cf"))
    val nq = qt.groupBy("query_id").agg(count(lit(1)).as("n_terms"))
    val perTerm = matched.join(broadcast(qt), "term")
      .join(broadcast(cf), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("id"), col("dl"),
        round(log(lit(1.0) + col("tf").cast("double") * col("sum_dl") /
          (lit(mu).cast("double") * col("cf"))), 6).as("w"))
    val scored = perTerm.groupBy(col("query_id"), col("id"), col("dl"))
      .agg(round(sum(col("w")), 6).as("s_match"))
      .join(broadcast(nq), Seq("query_id"))
      .select(col("query_id"), col("id"),
        round(col("s_match") + round(col("n_terms") *
          log(lit(mu).cast("double") / (col("dl") + lit(mu))), 6), 6)
          .as("score"))
    ScaleWindow.shardedRank(scored, Seq("query_id"),
        Seq(col("score").desc, col("id")), "rank", "_sw_n", shards,
        boundedStrata = true) // strata = the query workload
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("id").as("doc_id"), col("score"),
        col("rank").cast("long").as("rank"))
  }

  /** Term-proximity ranking (Büttcher/Clarke/Cormack IR ch. 2 / the
    * classic span-scoring family): documents containing ALL query
    * terms, ranked by how tightly the terms co-occur — `bottleneck` =
    * the largest of the per-term-pair minimum position distances (the
    * worst-separated pair; small ⟺ one tight span covers every term),
    * `best` = the smallest (the tightest pair). The phrase-adjacent
    * relevance signal [[bm25]]'s bag-of-words scoring cannot see.
    *
    * Scale shape: positional postings are broadcast-filtered to query
    * terms before anything shuffles; per-(term, doc) position lists
    * are capped at `maxPosPerTerm` occurrences (first N by position,
    * sharded rank — a stopword in a 10^5-token page would otherwise
    * fan quadratic pairs); the within-doc pair join is then bounded by
    * (terms·cap)² per doc. Single-term queries have no pair and yield
    * no rows (proximity is undefined); docs missing any query term
    * are excluded by the all-pairs-present check (integer form:
    * 2·n_pairs == n_terms·(n_terms−1)).
    */
  def termProximity(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, topK: Int = 10, maxPosPerTerm: Int = 64,
      shards: Int = 0): DataFrame = {
    require(topK > 0 && maxPosPerTerm > 0)
    val qt = queries
      .select(col("query_id"), lower(col("term")).as("term"))
      .distinct()
    val pp = positionalPostings(docs, idCol, textCol)
      .join(broadcast(qt.select("term").distinct()), Seq("term"))
    val capped = ScaleWindow.shardedRank(pp, Seq("term", "id"),
        Seq(col("pos")), "_pr", "_pn", shards)
      .filter(col("_pr") <= maxPosPerTerm).drop("_pr", "_pn")
      .join(broadcast(qt), Seq("term"))
      .localCheckpoint() // both sides of the pair join
    val l = capped.select(col("query_id"), col("id"),
      col("term").as("_ta"), col("pos").as("_pa"))
    val r = capped.select(col("query_id"), col("id"),
      col("term").as("_tb"), col("pos").as("_pb"))
    val pairMin = l.join(r, Seq("query_id", "id"))
      .filter(col("_ta") < col("_tb"))
      .groupBy(col("query_id"), col("id"), col("_ta"), col("_tb"))
      .agg(min(abs(col("_pa") - col("_pb"))).cast("long").as("_md"))
    val nq = qt.groupBy("query_id").agg(count(lit(1)).as("_nt"))
    val perDoc = pairMin.groupBy(col("query_id"), col("id"))
      .agg(count(lit(1)).as("_np"), max(col("_md")).as("bottleneck"),
        min(col("_md")).as("best"))
      .join(broadcast(nq), Seq("query_id"))
      .filter(col("_np") * 2L === col("_nt") * (col("_nt") - 1L))
    ScaleWindow.shardedRank(perDoc, Seq("query_id"),
        Seq(col("bottleneck"), col("best"), col("id")), "rank", "_sw_n",
        shards, boundedStrata = true) // strata = the query workload
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("id").as("doc_id"),
        col("bottleneck"), col("best"),
        col("rank").cast("long").as("rank"))
  }

  /** Spearman rank correlation between two per-query rankings
    * (Spearman 1904): ranks are REBUILT within the common-doc subset
    * (row_number over each arm's original order — the statistically
    * clean form; windows are per-query over ≤ topK rows, bounded by
    * the rankings' own cut, never corpus-sized), then the classic
    * rho = 1 − 6Σd²/(n(n²−1)) in exact integer ppm — the numerator
    * 6·10^6·Σd² is non-negative, so both engines floor identically
    * and the subtraction carries the sign. Pairs with [[kendallTau]]
    * (pairwise concordance) as the two standard ranking-vs-ranking
    * diagnostics; < 2 common docs → null.
    */
  def spearmanRho(a: DataFrame, b: DataFrame): DataFrame = {
    val c = a.select(col("query_id"), col("doc_id"),
        col("rank").as("_ra"))
      .join(b.select(col("query_id"), col("doc_id"),
        col("rank").as("_rb")), Seq("query_id", "doc_id"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("_ra"), col("doc_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("_rb"), col("doc_id"))
    c.withColumn("_r1", row_number().over(w1).cast("long"))
      .withColumn("_r2", row_number().over(w2).cast("long"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_common"),
        sum((col("_r1") - col("_r2")) * (col("_r1") - col("_r2")))
          .cast("long").as("sum_d2"))
      .withColumn("rho_ppm",
        when(col("n_common") < 2L, lit(null).cast("long")).otherwise(
          lit(1000000L) - call_function("div",
            lit(6000000L) * col("sum_d2"),
            col("n_common") *
              (col("n_common") * col("n_common") - 1L))))
  }

  /** Kendall rank correlation between two per-query rankings (Kendall
    * 1938) over their COMMON documents — the ranker-agreement
    * diagnostic (how differently do the content-BM25, anchor and LM
    * arms order the same candidates) completing the eval family's
    * ranking-vs-labels metrics with a ranking-vs-ranking one. Both
    * inputs carry distinct ranks, so there are no ties and tau-a =
    * tau-b. Exact integer: concordant/discordant counts from a
    * within-query self-join over the joined common set (bounded by
    * topK² pairs per query — workload-sized, never corpus-sized);
    * tau_ppm = (C−D)·10^6 DIV (n(n−1)/2), staged sign-first so both
    * engines floor a NON-NEGATIVE magnitude (negative integer
    * division truncates differently across engines). Queries with
    * < 2 common docs report null tau.
    */
  def kendallTau(a: DataFrame, b: DataFrame): DataFrame = {
    val ja = a.select(col("query_id"), col("doc_id"),
      col("rank").as("_ra"))
    val jb = b.select(col("query_id"), col("doc_id"),
      col("rank").as("_rb"))
    // consumed by both sides of the pair join plus the n aggregation
    // — without a fence each evaluation re-runs both upstream ranker
    // pipelines (the lexRankSummary/simhashNearDupPairs discipline)
    val c = ja.join(jb, Seq("query_id", "doc_id")).localCheckpoint()
    val pairs = c.as("x").join(c.as("y"),
        col("x.query_id") === col("y.query_id") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.query_id").as("query_id"),
        ((col("x._ra") - col("y._ra")) *
          (col("x._rb") - col("y._rb")) > 0).as("_conc"))
    val n = c.groupBy("query_id").agg(count(lit(1)).as("n_common"))
    val cd = pairs.groupBy("query_id").agg(
      sum(when(col("_conc"), 1L).otherwise(0L)).as("concordant"),
      sum(when(!col("_conc"), 1L).otherwise(0L)).as("discordant"))
    val withCd = n.join(cd, Seq("query_id"), "left")
      .select(col("query_id"), col("n_common"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"))
    val mag = call_function("div",
      abs(col("concordant") - col("discordant")) * lit(2000000L),
      col("n_common") * (col("n_common") - 1L))
    withCd.withColumn("tau_ppm",
      when(col("n_common") < 2L, lit(null).cast("long")).otherwise(
        when(col("concordant") >= col("discordant"), mag)
          .otherwise(-mag)))
  }

  /** Reciprocal rank @k per query: 1/rank of the FIRST relevant doc
    * (rel >= minRel) in the top k, 0 when none — the known-item /
    * navigational metric completing [[ndcgAtK]] (graded, full-list)
    * and rankAuc (binary, threshold-free); average `rr` downstream
    * for MRR. One thin join + a per-query min. Returns
    * (query_id, first_rel_rank nullable, rr).
    */
  def mrrAtK(ranking: DataFrame, labels: DataFrame, k: Int = 10,
      minRel: Long = 1L): DataFrame = {
    require(k >= 1)
    val rel = labels.where(col("rel").cast("long") >= minRel)
      .select(col("query_id"), col("doc_id"))
    val first = ranking.where(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(min(col("rank")).cast("long").as("first_rel_rank"))
    ranking.select(col("query_id")).distinct()
      .join(first, Seq("query_id"), "left")
      .select(col("query_id"), col("first_rel_rank"),
        coalesce(round(lit(1.0) / col("first_rel_rank"), 6), lit(0.0))
          .as("rr"))
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio 1971 /
    * RM1-lite): assume the top-`k` ranked docs are relevant, mine
    * their `m` heaviest terms (summed tf, original query terms and
    * sub-`minTermLen` tokens excluded), and emit them as additional
    * (query_id, term) workload rows — feed the union straight back to
    * [[bm25]]/[[bm25f]] (queries are a DataFrame, so the expansion
    * loop is fully relational: no collect, no driver round-trip).
    * Returns (query_id, term, exp_tf, exp_rank), exp_rank 1..m.
    *
    * Scale shape: the postings join is restricted to the k·|queries|
    * top docs (broadcast), and the per-query rank runs over candidate
    * terms of ≤k docs — bounded by construction, the same argument as
    * [[ndcgAtK]]'s label sets.
    */
  def expandQueries(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, ranking: DataFrame, k: Int = 5, m: Int = 3,
      minTermLen: Int = 3): DataFrame = {
    require(k >= 1 && m >= 1)
    val top = ranking.where(col("rank") <= k)
      .select(col("query_id"), col("doc_id").as("id"))
    val qt = queries
      .select(col("query_id"), lower(col("term")).as("term"))
      .distinct()
    // semi-join the CORPUS down to the k·|queries| top docs BEFORE
    // building postings — the full postings build is a corpus-wide
    // (term, id) shuffle, absurd for a probe this small
    val topDocs = docs.join(
      broadcast(top.select(col("id").as(idCol)).distinct()),
      Seq(idCol), "leftsemi")
    val cand = postings(topDocs, idCol, textCol)
      .join(broadcast(top), Seq("id"))
      .where(length(col("term")) >= minTermLen)
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("tf")).cast("long").as("exp_tf"))
      .join(qt, Seq("query_id", "term"), "left_anti")
    cand.withColumn("exp_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("exp_tf").desc, col("term"))).cast("long"))
      .where(col("exp_rank") <= m)
  }

  /** nDCG@k (Järvelin & Kekäläinen, TOIS 2002): graded ranking
    * quality per query — DCG = Σ_{rank<=k} (2^rel − 1)/log2(rank+1)
    * over the system ranking, normalized by the ideal DCG from the
    * label table's own top-k. The judged-retrieval complement of
    * rankAuc (binary, threshold-free) and f1Sweep (binary, cut-point):
    * graded labels + position discounting.
    *
    * `ranking` = (query_id, doc_id, rank); `labels` = (query_id,
    * doc_id, rel) with integer grades 0..10; unlabeled ranked docs
    * count rel 0. The ideal ranking is a per-query top-k over the
    * LABEL table — eval label sets are human-graded and tiny by
    * construction, so the per-query window is bounded (this is the
    * q124/f1Sweep bounded-domain argument; a corpus-sized "label"
    * table is a misuse). Gains are exact integers; the log2 discount
    * makes DCG a double — rounded to 6, the cosine-oracle protocol.
    * Returns (query_id, dcg, idcg, ndcg), ndcg null when idcg = 0
    * (no relevant docs for the query).
    */
  def ndcgAtK(ranking: DataFrame, labels: DataFrame, k: Int = 10)
      : DataFrame = {
    require(k >= 1)
    val lbl = labels.select(col("query_id"), col("doc_id"),
      col("rel").cast("long").as("rel"))
    def gain(rel: Column) = (call_function("shiftleft", lit(1L),
      rel.cast("int")) - 1L).cast("double")
    def disc(rank: Column) =
      log2(rank.cast("double") + 1.0)
    val dcg = ranking.where(col("rank") <= k)
      .join(lbl, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"),
        (gain(coalesce(col("rel"), lit(0L))) / disc(col("rank")))
          .as("_t"))
      .groupBy("query_id").agg(round(sum(col("_t")), 6).as("dcg"))
    val ideal = lbl.where(col("rel") > 0L)
      .withColumn("_irank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("doc_id"))))
      .where(col("_irank") <= k)
      .select(col("query_id"),
        (gain(col("rel")) / disc(col("_irank"))).as("_t"))
      .groupBy("query_id").agg(round(sum(col("_t")), 6).as("idcg"))
    dcg.join(ideal, Seq("query_id"), "left")
      .select(col("query_id"), col("dcg"),
        coalesce(col("idcg"), lit(0.0)).as("idcg"),
        when(coalesce(col("idcg"), lit(0.0)) > 0.0,
          round(col("dcg") / col("idcg"), 6)).as("ndcg"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * fuse N per-query rankings — each input (query_id, doc_id, rank) —
    * into one list by score = Σ_lists 10^9 DIV (kRrf + rank), the
    * score-free fusion that needs NO calibration between rankers
    * (BM25 ppm and cosine ppb never meet; only ranks do). Docs absent
    * from a list contribute nothing for it; `n_lists` reports how many
    * lists surfaced each doc. Exact integer (one floor per list
    * membership — identical in any agg order), ties by doc id.
    *
    * Scale shape: the union is N·topK thin rows per query; the fusion
    * window partitions by query over that bounded set — never the
    * corpus. The expensive part is the upstream rankers; fusion is
    * free.
    */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty && kRrf >= 0 && topK > 0)
    val dec = "decimal(38,0)"
    val u = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
    u.withColumn("_c", call_function("div",
        lit(1000000000L).cast(dec),
        (lit(kRrf.toLong) + col("rank")).cast(dec)).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_c")).cast("long").as("rrf_score_ppb"),
        count(lit(1)).cast("long").as("n_lists"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_score_ppb").desc, col("doc_id")))
        .cast("long"))
      .where(col("rank") <= topK)
  }

  /** BM25-style top-k retrieval. `queries` is a thin
    * (query_id, term) workload table (broadcast; terms lowercased
    * here). Returns (query_id, doc_id, score_ppm, rank) for
    * rank <= topK, ties broken by doc id.
    *
    * Integer formula (div = truncating division, both engines):
    * {{{
    * avgdl_milli = div(sum_dl * 1000, n_docs)
    * norm_ppm    = (1e6 - bPpm) + div(bPpm * dl * 1000, avgdl_milli)
    * denom_ppm   = tf * 1e6 + div(k1Ppm * norm_ppm, 1e6)
    * tfpart_ppm  = div(tf * (k1Ppm + 1e6) * 1e6, denom_ppm)
    * idf_ppm     = div((2N - 2df + 1) * 1e6, 2df + 1)
    * score_ppm   = Σ_terms div(idf_ppm * tfpart_ppm, 1e6)
    * }}}
    * Products that can cross 2^63 at corpus scale (the tfpart
    * numerator, the idf×tfpart contribution and the score sum) ride
    * decimal(38,0); the returned score is cast to long, which a
    * 10^12-doc corpus with df=1 terms can overflow — at that scale
    * keep the decimal column instead.
    *
    * The matched-postings set (Σ_t df(t) rows) is localCheckpoint-
    * fenced because it feeds both the per-term df aggregate and the
    * scoring join — one corpus scan serves both. On a real cluster the
    * fence is a reusable intermediate table (io.TableIO).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, topK: Int = 10, k1Ppm: Long = 1200000L,
      bPpm: Long = 750000L, shards: Int = 0,
      precomputedMatched: Option[DataFrame] = None,
      precomputedStats: Option[DataFrame] = None): DataFrame = {
    require(topK > 0 && k1Ppm >= 0 && bPpm >= 0 && bPpm <= 1000000L)
    val dec = "decimal(38,0)"
    def div(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("div", a, b)
    val qt = queries
      .select(col("query_id"), lower(col("term")).as("term"))
      .distinct()
    val matched = precomputedMatched
      .getOrElse(matchedPostings(docs, idCol, textCol, queries))
    // postings are unique per (term, id), so df = row count per term
    val dfT = matched.groupBy(col("term"))
      .agg(count(lit(1)).as("_df"))
    val stats = precomputedStats.getOrElse(corpusStats(docs, textCol))
    val contrib = {
      val avgdlMilli = div(col("sum_dl") * lit(1000L), col("n_docs"))
      val normPpm = lit(1000000L - bPpm) +
        div(lit(bPpm) * col("dl") * lit(1000L), avgdlMilli)
      val denomPpm = col("tf") * lit(1000000L) +
        div(lit(k1Ppm) * normPpm, lit(1000000L))
      val tfPartPpm = div(
        (col("tf") * lit(k1Ppm + 1000000L)).cast(dec) * lit(1000000L),
        denomPpm)
      val idfPpm = div(
        (lit(2L) * col("n_docs") - lit(2L) * col("_df") + lit(1L)) *
          lit(1000000L), lit(2L) * col("_df") + lit(1L))
      div(idfPpm.cast(dec) * tfPartPpm, lit(1000000L))
    }
    val scored = matched
      .join(broadcast(dfT), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("id"), contrib.cast(dec).as("_c"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("_c")).as("_s"))
      .select(col("query_id"), col("id").as("doc_id"),
        col("_s").cast("long").as("score_ppm"))
    ScaleWindow.shardedRank(scored, Seq("query_id"),
        Seq(col("score_ppm").desc, col("doc_id")), "rank", "_sw_n", shards,
        boundedStrata = true) // strata = the query workload
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("score_ppm"), col("rank"))
  }
}
