package graft
package catalog

import graft.extract.LinkExtractor
import graft.ops.{Dedup, Retrieval}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Lexical retrieval and evaluation ([[graft.ops.Retrieval]]). */
object RetrievalQueries {
  /** Shared retrieval workload for q97 — queries over the synthetic
    * vocabulary, incl. a stopword-ish high-df term ("the"), a
    * multi-term mid-frequency mix, and a no-hit term (empty result).
    */
  private val bm25QueryRows: Seq[(String, String)] = Seq(
    ("qa", "sort"), ("qa", "merge"), ("qa", "join"),
    ("qb", "window"), ("qb", "filter"),
    ("qc", "customer"), ("qc", "batch"), ("qc", "stream"),
    ("qd", "the"), ("qd", "scan"), ("qe", "zzznope"))

  private def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    bm25QueryRows.toDF("query_id", "term")
  }

  private def bm25QueriesSql: String =
    bm25QueryRows.map { case (q, t) => s"('$q', '$t')" }.mkString(", ")

  /** Shared BM25 oracle CTE chain (q97 + the q134 fusion oracle):
    * ends in `bm25r` = (query_id, doc_id, score_ppm, rank), unbounded
    * rank — consumers apply their own rank cut. `mt`/`q` stay visible
    * for the TF arm.
    */
  private def bm25CtesSql: String =
    s"""q(query_id, term) AS (VALUES $bm25QueriesSql),
        d AS (SELECT CAST(doc_id AS BIGINT) AS id, $toksSql AS tk
          FROM documents),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(tk)) AS BIGINT) AS sum_dl FROM d),
        post AS (SELECT id, CAST(dl AS BIGINT) AS dl, term,
            CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT id, len(tk) AS dl, unnest(tk) AS term FROM d)
          GROUP BY id, dl, term),
        mt AS (SELECT * FROM post
          WHERE term IN (SELECT DISTINCT term FROM q)),
        dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfc
          FROM mt GROUP BY term),
        sc AS (SELECT q.query_id, m.id,
            CAST(SUM((CAST(((2*n_docs - 2*dfc + 1) * 1000000)
                // (2*dfc + 1) AS HUGEINT) *
              ((CAST(m.tf AS HUGEINT) * 2200000 * 1000000) //
                (m.tf * 1000000 + (1200000 * ((1000000 - 750000) +
                  (750000 * m.dl * 1000) //
                    ((sum_dl * 1000) // n_docs))) // 1000000)))
              // 1000000) AS BIGINT) AS score_ppm
          FROM mt m JOIN dft USING (term) JOIN q USING (term)
          CROSS JOIN stats
          GROUP BY q.query_id, m.id),
        bm25r AS (SELECT query_id, id AS doc_id, score_ppm,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score_ppm DESC, id) AS BIGINT) AS rank
          FROM sc)"""

  /** Dirichlet-QL oracle chain (q154/q160 twin of
    * Retrieval.queryLikelihood): builds on bm25CtesSql's q/mt/stats;
    * yields `qlr(query_id, doc_id, score, rank)`. One definition so
    * the two oracles cannot drift (mu = 2000, round-6 staging).
    */
  private lazy val qlCtesSql: String =
    """cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf
          FROM mt GROUP BY term),
        nq AS (SELECT query_id,
            CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
          FROM q GROUP BY 1),
        pt AS (SELECT q.query_id, m.id, m.dl,
            round(ln(1.0 + (CAST(m.tf AS DOUBLE) * sum_dl) /
              (2000.0 * cf.cf)), 6) AS w
          FROM mt m JOIN cf USING (term) JOIN q USING (term)
          CROSS JOIN stats),
        sc2 AS (SELECT query_id, id, dl, round(SUM(w), 6) AS s_match
          FROM pt GROUP BY 1, 2, 3),
        scored AS (SELECT query_id, id,
            round(s_match + round(n_terms *
              ln(2000.0 / (dl + 2000.0)), 6), 6) AS score
          FROM sc2 JOIN nq USING (query_id)),
        qlr AS (SELECT query_id, id AS doc_id, score,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, id) AS BIGINT) AS rank
          FROM scored)"""

  def specs: Seq[QuerySpec] = Seq(
    // hybrid retrieval: reciprocal-rank fusion of the BM25 ranking
    // with the plain-TF ranking over the same query workload — the
    // calibration-free list merge (ranks meet, scores never do)
    QuerySpec("q134_rrf_fusion", (s, d) => {
      val docs = t(s, d, "documents")
      // ONE corpus tokenize pass serves both rankers (matchedPostings
      // materializes the query-term-restricted postings once)
      val m = Retrieval.matchedPostings(docs, "doc_id", "text",
        bm25Queries(s))
      val bm = Retrieval.bm25(docs, "doc_id", "text", bm25Queries(s),
          topK = 10, precomputedMatched = Some(m))
        .select(col("query_id"), col("doc_id"), col("rank"))
      val tf = Retrieval.tfTopK(docs, "doc_id", "text", bm25Queries(s),
          topK = 10, precomputedMatched = Some(m))
        .select(col("query_id"), col("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(bm, tf), kRrf = 60, topK = 5)
        .orderBy("query_id", "rank")
    },
    // q134: BM25 CTEs reused verbatim; the TF arm ranks summed tf over
    // the same matched postings; fusion = SUM(10^9 // (60 + rank))
    // over both top-10 lists, top-5 by (fused desc, doc)
    Some(s"""WITH $bm25CtesSql,
        tfs AS (SELECT q.query_id, m.id,
            CAST(SUM(m.tf) AS BIGINT) AS tf_sum
          FROM mt m JOIN q USING (term) GROUP BY q.query_id, m.id),
        tfr AS (SELECT query_id, id AS doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY tf_sum DESC, id) AS BIGINT) AS rank
          FROM tfs),
        u AS (SELECT query_id, doc_id, rank FROM bm25r
            WHERE rank <= 10
          UNION ALL SELECT query_id, doc_id, rank FROM tfr
            WHERE rank <= 10),
        f AS (SELECT query_id, doc_id,
            CAST(SUM(1000000000 // (60 + rank)) AS BIGINT)
              AS rrf_score_ppb,
            CAST(COUNT(*) AS BIGINT) AS n_lists
          FROM u GROUP BY query_id, doc_id)
        SELECT query_id, doc_id, rrf_score_ppb, n_lists, rank
        FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rrf_score_ppb DESC, doc_id) AS BIGINT) AS rank
          FROM f)
        WHERE rank <= 5 ORDER BY query_id, rank""")),
    // phrase search: exact consecutive-token occurrences over the
    // positional index — incl. the repeated-term phrase ("table
    // table") the distinct-offset count exists for, and a
    // guaranteed-absent phrase as the negative
    QuerySpec("q138_phrase", (s, d) =>
      Retrieval.phraseMatch(t(s, d, "documents"), "doc_id", "text",
          Seq(("p1_value_table", "value table"),
            ("p2_fast_table", "fast table"),
            ("p3_absent", "slow query nevermatches"),
            ("p4_repeat", "table table")))
        .select(col("phrase_id"), col("id").cast("long").as("doc_id"),
          col("n_occurrences"))
        .orderBy("phrase_id", "doc_id"),
    // q138: positional index via indexed list expansion, the same
    // start = pos − offset normalization and distinct-offset count
    Some(s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
          $toksSql AS tk FROM documents),
        post AS (SELECT id, u.p.pos AS pos, u.p.term AS term
          FROM d, unnest(list_transform(generate_series(1, len(tk)),
            i -> struct_pack(pos := i - 1, term := tk[i]))) u(p)),
        pt(phrase_id, term, off, phrase_len) AS (VALUES
          ('p1_value_table', 'value', 0, 2),
          ('p1_value_table', 'table', 1, 2),
          ('p2_fast_table', 'fast', 0, 2),
          ('p2_fast_table', 'table', 1, 2),
          ('p3_absent', 'slow', 0, 3),
          ('p3_absent', 'query', 1, 3),
          ('p3_absent', 'nevermatches', 2, 3),
          ('p4_repeat', 'table', 0, 2),
          ('p4_repeat', 'table', 1, 2)),
        hits AS (SELECT phrase_id, id, pos - off AS start, off,
            phrase_len
          FROM post JOIN pt USING (term) WHERE pos - off >= 0),
        occ AS (SELECT phrase_id, id, start
          FROM hits GROUP BY phrase_id, id, start, phrase_len
          HAVING COUNT(DISTINCT off) = phrase_len)
        SELECT phrase_id, id AS doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM occ GROUP BY phrase_id, id
        ORDER BY phrase_id, doc_id""")),
    // search-result highlighting: KWIC context windows around phrase
    // occurrences, capped at 2 per (phrase, doc); text rejoins only
    // for matched docs
    QuerySpec("q142_kwic", (s, d) =>
      Retrieval.kwicSnippets(t(s, d, "documents"), "doc_id", "text",
          Seq(("p1", "value table"), ("p4", "table table")),
          window = 2, maxPerDoc = 2)
        .select(col("phrase_id"), col("id").cast("long").as("doc_id"),
          col("start").cast("long").as("start"), col("snippet"))
        .orderBy("phrase_id", "doc_id", "start"),
    // q142: q138's occurrence derivation + per-(phrase,doc) cap +
    // the same clamped slice arithmetic
    Some(s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
          $toksSql AS tk FROM documents),
        post AS (SELECT id, u.p.pos AS pos, u.p.term AS term
          FROM d, unnest(list_transform(generate_series(1, len(tk)),
            i -> struct_pack(pos := i - 1, term := tk[i]))) u(p)),
        pt(phrase_id, term, off, phrase_len) AS (VALUES
          ('p1', 'value', 0, 2), ('p1', 'table', 1, 2),
          ('p4', 'table', 0, 2), ('p4', 'table', 1, 2)),
        occ AS (SELECT phrase_id, id, pos - off AS start, phrase_len
          FROM post JOIN pt USING (term) WHERE pos - off >= 0
          GROUP BY phrase_id, id, pos - off, phrase_len
          HAVING COUNT(DISTINCT off) = phrase_len),
        capped AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
            (PARTITION BY phrase_id, id ORDER BY start) AS rn
          FROM occ) WHERE rn <= 2)
        SELECT phrase_id, id AS doc_id, CAST(start AS BIGINT) AS start,
          array_to_string(tk[greatest(start + 1 - 2, 1) :
            least(start + phrase_len + 2, len(tk))], ' ') AS snippet
        FROM capped JOIN d USING (id)
        ORDER BY phrase_id, doc_id, start""")),
    // graded ranking evaluation: nDCG@10 of the BM25 ranking against
    // planted integer relevance grades — the judged-retrieval metric
    // completing rankAuc (binary AUC) and f1Sweep (binary cut)
    QuerySpec("q149_ndcg", (s, d) => {
      val docs = t(s, d, "documents")
      val ranking = Retrieval.bm25(docs, "doc_id", "text",
          bm25Queries(s), topK = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val labels = docs.select(col("doc_id").cast("long").as("doc_id"))
        .crossJoin(bm25Queries(s).select("query_id").distinct())
        .select(col("query_id"), col("doc_id"),
          pmod(col("doc_id") * 3L + length(col("query_id")), lit(4L))
            .as("rel"))
      Retrieval.ndcgAtK(ranking, labels, k = 10)
        .orderBy("query_id")
    },
    // q149: BM25 CTEs reused; same planted grades, same integer gains
    // over a log2 discount with the round-6 cosine protocol, the same
    // ideal top-k tie rule
    Some(s"""WITH $bm25CtesSql,
        qs AS (SELECT DISTINCT query_id FROM q),
        lbl AS (SELECT qs.query_id, d.id AS doc_id,
          (d.id * 3 + length(qs.query_id)) % 4 AS rel FROM qs, d),
        rk AS (SELECT query_id, doc_id, rank FROM bm25r
          WHERE rank <= 10),
        dcg AS (SELECT rk.query_id, round(SUM(
            ((1 << COALESCE(l.rel, 0)) - 1) / log2(rank + 1.0)), 6)
            AS dcg
          FROM rk LEFT JOIN lbl l ON rk.query_id = l.query_id
            AND rk.doc_id = l.doc_id
          GROUP BY rk.query_id),
        ideal AS (SELECT query_id, round(SUM(
            ((1 << rel) - 1) / log2(irank + 1.0)), 6) AS idcg
          FROM (SELECT query_id, rel, ROW_NUMBER() OVER
              (PARTITION BY query_id ORDER BY rel DESC, doc_id)
              AS irank
            FROM lbl WHERE rel > 0)
          WHERE irank <= 10 GROUP BY query_id)
        SELECT g.query_id, g.dcg, COALESCE(i.idcg, 0.0) AS idcg,
          CASE WHEN COALESCE(i.idcg, 0) > 0
            THEN round(g.dcg / i.idcg, 6) END AS ndcg
        FROM dcg g LEFT JOIN ideal i ON g.query_id = i.query_id
        ORDER BY g.query_id""")),
    // field-weighted retrieval: simple BM25F with title (first five
    // tokens, weight 3) and body (weight 1) — a title hit counts like
    // three body hits under one global length saturation
    QuerySpec("q150_bm25f", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        col("text"),
        array_join(slice(Dedup.tokens(col("text")), 1, 5), " ")
          .as("title"))
      Retrieval.bm25f(docs, "doc_id",
          Seq(("title", 3L), ("text", 1L)), bm25Queries(s), topK = 10)
        .orderBy("query_id", "rank")
    },
    // q150: weighted tf/dl staged in SQL (3x title + body), then
    // q97's exact scoring nesting over the virtual postings
    Some(s"""WITH q(query_id, term) AS (VALUES $bm25QueriesSql),
        d0 AS (SELECT CAST(doc_id AS BIGINT) AS id, $toksSql AS tk
          FROM documents),
        d AS (SELECT id, tk, tk[1:5] AS ttk FROM d0),
        tp AS (SELECT id, term, CAST(3 * COUNT(*) AS BIGINT) AS tf
          FROM (SELECT id, unnest(ttk) AS term FROM d)
          GROUP BY id, term),
        bp AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT id, unnest(tk) AS term FROM d)
          GROUP BY id, term),
        post AS (SELECT id, term, CAST(SUM(tf) AS BIGINT) AS tf
          FROM (SELECT * FROM tp UNION ALL SELECT * FROM bp)
          GROUP BY id, term),
        dlt AS (SELECT id, CAST(3 * len(ttk) + len(tk) AS BIGINT)
          AS dl FROM d),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dlt),
        mt AS (SELECT post.id, post.term, post.tf, dlt.dl
          FROM post JOIN dlt USING (id)
          WHERE term IN (SELECT DISTINCT term FROM q)),
        dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfc
          FROM mt GROUP BY term),
        sc AS (SELECT q.query_id, m.id,
            CAST(SUM((CAST(((2*n_docs - 2*dfc + 1) * 1000000)
                // (2*dfc + 1) AS HUGEINT) *
              ((CAST(m.tf AS HUGEINT) * 2200000 * 1000000) //
                (m.tf * 1000000 + (1200000 * ((1000000 - 750000) +
                  (750000 * m.dl * 1000) //
                    ((sum_dl * 1000) // n_docs))) // 1000000)))
              // 1000000) AS BIGINT) AS score_ppm
          FROM mt m JOIN dft USING (term) JOIN q USING (term)
          CROSS JOIN stats
          GROUP BY q.query_id, m.id)
        SELECT query_id, doc_id, score_ppm, rank FROM (
          SELECT query_id, id AS doc_id, score_ppm,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score_ppm DESC, id) AS BIGINT) AS rank
          FROM sc)
        WHERE rank <= 10 ORDER BY query_id, rank""")),
    // pseudo-relevance feedback: the 3 heaviest non-query terms of
    // each query's BM25 top-5 become expansion terms — the relational
    // Rocchio loop (the expanded workload feeds bm25 again with no
    // driver round-trip)
    QuerySpec("q151_prf_expand", (s, d) => {
      val docs = t(s, d, "documents")
      val ranking = Retrieval.bm25(docs, "doc_id", "text",
        bm25Queries(s), topK = 10)
      Retrieval.expandQueries(docs, "doc_id", "text", bm25Queries(s),
          ranking, k = 5, m = 3)
        .orderBy("query_id", "exp_rank")
    },
    // q151: BM25 CTEs reused for the top-5; expansion = full postings
    // of those docs, len>=3, anti-joined against the original terms,
    // top-3 by (tf desc, term)
    Some(s"""WITH $bm25CtesSql,
        top AS (SELECT query_id, doc_id AS id FROM bm25r
          WHERE rank <= 5),
        cand AS (SELECT t.query_id, p.term,
            CAST(SUM(p.tf) AS BIGINT) AS exp_tf
          FROM post p JOIN top t ON p.id = t.id
          WHERE length(p.term) >= 3
          GROUP BY t.query_id, p.term),
        filt AS (SELECT c.query_id, c.term, c.exp_tf FROM cand c
          WHERE NOT EXISTS (SELECT 1 FROM q
            WHERE q.query_id = c.query_id AND q.term = c.term))
        SELECT query_id, term, exp_tf,
          CAST(exp_rank AS BIGINT) AS exp_rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY exp_tf DESC, term) AS exp_rank FROM filt)
        WHERE exp_rank <= 3 ORDER BY query_id, exp_rank""")),
    // known-item retrieval metric: reciprocal rank of the first
    // relevant doc per query (same planted grades as q149, rel >= 2)
    QuerySpec("q152_mrr", (s, d) => {
      val docs = t(s, d, "documents")
      val ranking = Retrieval.bm25(docs, "doc_id", "text",
          bm25Queries(s), topK = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val labels = docs.select(col("doc_id").cast("long").as("doc_id"))
        .crossJoin(bm25Queries(s).select("query_id").distinct())
        .select(col("query_id"), col("doc_id"),
          pmod(col("doc_id") * 3L + length(col("query_id")), lit(4L))
            .as("rel"))
      Retrieval.mrrAtK(ranking, labels, k = 10, minRel = 2L)
        .orderBy("query_id")
    },
    // q152: BM25 CTEs + q149's planted grades; first relevant rank
    // per query, rr = round(1/rank, 6), 0 when none in the top k
    Some(s"""WITH $bm25CtesSql,
        qs AS (SELECT DISTINCT query_id FROM q),
        lbl AS (SELECT qs.query_id, d.id AS doc_id,
          (d.id * 3 + length(qs.query_id)) % 4 AS rel FROM qs, d),
        rk AS (SELECT query_id, doc_id, rank FROM bm25r
          WHERE rank <= 10),
        first AS (SELECT rk.query_id,
            CAST(MIN(rank) AS BIGINT) AS first_rel_rank
          FROM rk JOIN lbl ON rk.query_id = lbl.query_id
            AND rk.doc_id = lbl.doc_id
          WHERE lbl.rel >= 2 GROUP BY rk.query_id),
        allq AS (SELECT DISTINCT query_id FROM bm25r)
        SELECT a.query_id, f.first_rel_rank,
          COALESCE(round(1.0 / f.first_rel_rank, 6), 0.0) AS rr
        FROM allq a LEFT JOIN first f ON a.query_id = f.query_id
        ORDER BY a.query_id""")),
    // the language-modeling ranker next to BM25: Dirichlet-smoothed
    // query likelihood (Zhai & Lafferty 2001), matched-terms form,
    // round-6 scores, rank on the rounded score
    QuerySpec("q154_query_likelihood", (s, d) =>
      Retrieval.queryLikelihood(t(s, d, "documents"), "doc_id", "text",
          bm25Queries(s), topK = 10, mu = 2000L)
        .orderBy("query_id", "rank"),
    // q154: Dirichlet QL in the matched-terms form; cf = collection
    // frequency over queried-term postings; round-6 at the same three
    // points as the Spark side (per-term, match-sum, final)
    Some(s"""WITH $bm25CtesSql,
        $qlCtesSql
        SELECT query_id, doc_id, score, rank FROM qlr
        WHERE rank <= 10 ORDER BY query_id, rank""")),
    // off-page relevance: BM25 over virtual per-target-host anchor
    // documents (weighted postings — no concatenated hub strings)
    QuerySpec("q157_anchor_bm25", (s, d) => {
      import s.implicits._
      val qs = Seq(("qa", "news"), ("qa", "item"), ("qb", "section"),
        ("qb", "index"), ("qc", "relative"), ("qc", "link"))
        .toDF("query_id", "term")
      Retrieval.anchorRetrieval(
          LinkExtractor.extractLinks(linkPages(s, d), "url", "html"),
          qs, topK = 10)
        .orderBy("query_id", "rank")
    },
    // q157: q78's anchor derivation + weighted postings (tf = Σ
    // cnt·occurrences, dl = Σ cnt·len) + q97's exact scoring nesting
    Some {
      val id = "CAST(doc_id AS BIGINT)"
      s"""WITH q(query_id, term) AS (VALUES ('qa','news'),('qa','item'),
          ('qb','section'),('qb','index'),('qc','relative'),
          ('qc','link')),
        p AS (SELECT $id AS id, $linkHostSql AS h FROM documents),
        l AS (
          SELECT 'src' || CAST((id*7+3) % 20 AS VARCHAR) || '-'
              || CAST((id*3+1) % 7 AS VARCHAR) || '.example.com'
              AS dst_host,
            'news item ' || CAST(id % 10 AS VARCHAR) AS anchor FROM p
          UNION ALL SELECT h,
            'relative link ' || CAST(id % 10 AS VARCHAR) FROM p
          UNION ALL SELECT h, 'section index' FROM p),
        ba AS (SELECT dst_host AS tid, anchor,
            CAST(COUNT(*) AS BIGINT) AS cnt
          FROM l GROUP BY 1, 2),
        tkt AS (SELECT tid, cnt, list_filter(regexp_split_to_array(
            lower(trim(anchor)), '\\s+'), t -> t != '') AS tk
          FROM ba),
        tkt2 AS (SELECT * FROM tkt WHERE len(tk) > 0),
        dlt AS (SELECT tid, CAST(SUM(cnt * len(tk)) AS BIGINT) AS dl
          FROM tkt2 GROUP BY tid),
        post AS (SELECT term, tid, CAST(SUM(cnt) AS BIGINT) AS tf
          FROM (SELECT tid, cnt, unnest(tk) AS term FROM tkt2)
          GROUP BY 1, 2),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dlt),
        mt AS (SELECT post.tid, post.term, post.tf, dlt.dl
          FROM post JOIN dlt USING (tid)
          WHERE term IN (SELECT DISTINCT term FROM q)),
        dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfc
          FROM mt GROUP BY term),
        sc AS (SELECT q.query_id, m.tid,
            CAST(SUM((CAST(((2*n_docs - 2*dfc + 1) * 1000000)
                // (2*dfc + 1) AS HUGEINT) *
              ((CAST(m.tf AS HUGEINT) * 2200000 * 1000000) //
                (m.tf * 1000000 + (1200000 * ((1000000 - 750000) +
                  (750000 * m.dl * 1000) //
                    ((sum_dl * 1000) // n_docs))) // 1000000)))
              // 1000000) AS BIGINT) AS score_ppm
          FROM mt m JOIN dft USING (term) JOIN q USING (term)
          CROSS JOIN stats
          GROUP BY q.query_id, m.tid)
        SELECT query_id, doc_id, score_ppm, rank FROM (
          SELECT query_id, tid AS doc_id, score_ppm,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score_ppm DESC, tid) AS BIGINT) AS rank
          FROM sc)
        WHERE rank <= 10 ORDER BY query_id, rank"""
    }),
    // retrieval: term-proximity ranking — bottleneck/best pair
    // distances over capped positional postings, all terms required
    QuerySpec("q162_proximity", (s, d) =>
      Retrieval.termProximity(t(s, d, "documents"), "doc_id", "text",
          bm25Queries(s), topK = 10)
        .orderBy("query_id", "rank"),
    // q162: q142's positional-postings pattern + the 64-occurrence
    // cap + pair minima + the all-pairs integer check
    Some(s"""WITH q(query_id, term) AS (VALUES $bm25QueriesSql),
        d AS (SELECT CAST(doc_id AS BIGINT) AS id, $toksSql AS tk
          FROM documents),
        post AS (SELECT id, u.p.pos AS pos, u.p.term AS term
          FROM d, unnest(list_transform(generate_series(1, len(tk)),
            i -> struct_pack(pos := i - 1, term := tk[i]))) u(p)),
        qtd AS (SELECT DISTINCT term FROM q),
        m0 AS (SELECT post.* FROM post JOIN qtd USING (term)),
        cap AS (SELECT * FROM (SELECT m0.*, ROW_NUMBER() OVER
            (PARTITION BY term, id ORDER BY pos) AS pr FROM m0)
          WHERE pr <= 64),
        mq AS (SELECT q.query_id, cap.id, cap.term, cap.pos
          FROM cap JOIN q USING (term)),
        pm AS (SELECT a.query_id, a.id, a.term AS ta, b.term AS tb,
            CAST(MIN(abs(a.pos - b.pos)) AS BIGINT) AS md
          FROM mq a JOIN mq b ON a.query_id = b.query_id
            AND a.id = b.id AND a.term < b.term
          GROUP BY 1, 2, 3, 4),
        nt AS (SELECT query_id,
            CAST(COUNT(DISTINCT term) AS BIGINT) AS ntm
          FROM q GROUP BY 1),
        pd AS (SELECT pm.query_id, id, COUNT(*) AS np,
            CAST(MAX(md) AS BIGINT) AS bottleneck,
            CAST(MIN(md) AS BIGINT) AS best
          FROM pm GROUP BY 1, 2),
        fd AS (SELECT pd.query_id, id, bottleneck, best
          FROM pd JOIN nt USING (query_id)
          WHERE np * 2 = ntm * (ntm - 1)),
        rk AS (SELECT query_id, id AS doc_id, bottleneck, best,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY bottleneck, best, id) AS BIGINT) AS rank FROM fd)
        SELECT query_id, doc_id, bottleneck, best, rank FROM rk
        WHERE rank <= 10 ORDER BY query_id, rank""")),
    // eval: Spearman rho over the same two rankers — in-subset
    // re-ranks, integer 1 - 6Σd²/(n(n²-1)) ppm
    QuerySpec("q169_spearman", (s, d) => {
      val docs = t(s, d, "documents")
      // ONE corpus tokenize pass serves both ranker arms (the q134
      // matchedPostings discipline): matched postings and corpus
      // stats are computed once and fed to bm25 AND queryLikelihood —
      // identical tables to what each arm would derive on its own
      val m = Retrieval.matchedPostings(docs, "doc_id", "text",
        bm25Queries(s))
      val st = Retrieval.corpusStats(docs, "text").localCheckpoint()
      Retrieval.spearmanRho(
          Retrieval.bm25(docs, "doc_id", "text", bm25Queries(s),
            topK = 10, precomputedMatched = Some(m),
            precomputedStats = Some(st)),
          Retrieval.queryLikelihood(docs, "doc_id", "text",
            bm25Queries(s), topK = 10, precomputedMatched = Some(m),
            precomputedStats = Some(st)))
        .orderBy("query_id")
    },
    // q169: same ra/rb arms; in-subset row_number re-ranks, the
    // non-negative-numerator rho staging
    Some(s"""WITH $bm25CtesSql,
        $qlCtesSql,
        ra AS (SELECT query_id, doc_id, rank FROM bm25r
          WHERE rank <= 10),
        rb AS (SELECT query_id, doc_id, rank FROM qlr
          WHERE rank <= 10),
        cm2 AS (SELECT ra.query_id, ra.doc_id, ra.rank AS r1o,
            rb.rank AS r2o
          FROM ra JOIN rb USING (query_id, doc_id)),
        rr AS (SELECT query_id, doc_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY r1o, doc_id) AS r1,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY r2o, doc_id) AS r2
          FROM cm2),
        ag AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common,
            CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2
          FROM rr GROUP BY 1)
        SELECT query_id, n_common, sum_d2,
          CAST(CASE WHEN n_common < 2 THEN NULL
            ELSE 1000000 - (6000000 * sum_d2)
              // (n_common * (n_common * n_common - 1)) END AS BIGINT)
            AS rho_ppm
        FROM ag ORDER BY query_id""")),
    // eval: ranker agreement — Kendall tau between the BM25 and
    // Dirichlet-QL orderings of the same workload's common docs
    QuerySpec("q160_kendall_tau", (s, d) => {
      val docs = t(s, d, "documents")
      // shared matched postings + stats across both arms (see q169)
      val m = Retrieval.matchedPostings(docs, "doc_id", "text",
        bm25Queries(s))
      val st = Retrieval.corpusStats(docs, "text").localCheckpoint()
      Retrieval.kendallTau(
          Retrieval.bm25(docs, "doc_id", "text", bm25Queries(s),
            topK = 10, precomputedMatched = Some(m),
            precomputedStats = Some(st)),
          Retrieval.queryLikelihood(docs, "doc_id", "text",
            bm25Queries(s), topK = 10, precomputedMatched = Some(m),
            precomputedStats = Some(st)))
        .orderBy("query_id")
    },
    // q160: bm25 CTEs + the q154 QL chain + integer tau with the
    // sign-first magnitude staging (both engines floor non-negatives)
    Some(s"""WITH $bm25CtesSql,
        $qlCtesSql,
        ra AS (SELECT query_id, doc_id, rank FROM bm25r
          WHERE rank <= 10),
        rb AS (SELECT query_id, doc_id, rank FROM qlr
          WHERE rank <= 10),
        cm AS (SELECT ra.query_id, ra.doc_id, ra.rank AS r1,
            rb.rank AS r2
          FROM ra JOIN rb USING (query_id, doc_id)),
        nn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common
          FROM cm GROUP BY 1),
        pp AS (SELECT x.query_id,
            CASE WHEN (x.r1 - y.r1) * (x.r2 - y.r2) > 0
              THEN 1 ELSE 0 END AS conc
          FROM cm x JOIN cm y ON x.query_id = y.query_id
            AND x.doc_id < y.doc_id),
        cd AS (SELECT query_id, CAST(SUM(conc) AS BIGINT) AS c,
            CAST(COUNT(*) - SUM(conc) AS BIGINT) AS dd
          FROM pp GROUP BY 1)
        SELECT nn.query_id, n_common,
          COALESCE(c, 0) AS concordant, COALESCE(dd, 0) AS discordant,
          CAST(CASE WHEN n_common < 2 THEN NULL
            WHEN COALESCE(c, 0) >= COALESCE(dd, 0)
              THEN ((COALESCE(c, 0) - COALESCE(dd, 0)) * 2000000)
                // (n_common * (n_common - 1))
            ELSE -(((COALESCE(dd, 0) - COALESCE(c, 0)) * 2000000)
                // (n_common * (n_common - 1))) END AS BIGINT)
            AS tau_ppm
        FROM nn LEFT JOIN cd USING (query_id) ORDER BY nn.query_id""")),
    // retrieval: inverted-index build + BM25-style top-k search —
    // postings filtered map-side by a broadcast query-term set,
    // integer-ppm scoring (rational idf surrogate, real k1/b length
    // saturation), sharded per-query rank; the oracle recomputes the
    // whole formula in SQL, so tokenize, tf/df/dl stats, every
    // truncating division and the tie-break must all match exactly
    QuerySpec("q97_bm25", (s, d) => {
      Retrieval.bm25(t(s, d, "documents"), "doc_id", "text",
        bm25Queries(s), topK = 10)
        .orderBy("query_id", "rank")
    },
    // q97: the full BM25 formula re-derived in SQL — same tokenize,
    // same tf/df/dl/avgdl stats, the same truncating-division nesting
    // at every step, the same (score desc, id) tie-break (CTE chain
    // shared with the q134 fusion oracle)
    Some(s"""WITH $bm25CtesSql
        SELECT query_id, doc_id, score_ppm, rank FROM bm25r
        WHERE rank <= 10 ORDER BY query_id, rank"""))
  )
}
