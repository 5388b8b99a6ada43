package graft
package catalog

import graft.ops.{Bpe, Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Text analysis ([[graft.ops.TextAnalysis]]) and BPE tokenization
  * ([[graft.ops.Bpe]]).
  */
object TextQueries {
  private def stopHitsCol(words: Seq[String], text: Column): Column =
    TextAnalysis.stopwordHits(text, words)

  /** q37 synthesized multi-script texts (one per script family the
    * langId classifier recognizes, plus Latin controls and a
    * latin-dominant mixed case). Everything BMP, so char counts agree
    * across UTF-16 (Spark) and codepoints (DuckDB).
    */
  private val ScriptSnippets = Seq(
    "the quick brown fox jumps over the lazy dog and the cat",
    "der hund und die katze ist nicht ein pferd",
    "这是一个简单的中文句子没有任何其他文字",
    "これは簡単な日本語の文です",
    "한국어로 된 간단한 문장입니다",
    "это простое предложение на русском языке",
    "هذه جملة بسيطة باللغة العربية",
    "αυτή είναι μια απλή ελληνική πρόταση",
    "זהו משפט פשוט בעברית",
    "यह हिंदी में एक सरल वाक्य है",
    "นี่คือประโยคง่ายๆในภาษาไทย",
    "mixed 中文 with mostly english words around it")

  /** Sentence-bearing docs synthesized from each document's own
    * tokens by modular picks (5 sentences × 6 tokens, stride 3 from
    * offset 7j mod doc length) — the corpus text has no punctuation,
    * so q148/q158/q159 plant their own sentence structure this way;
    * [[sentenceDocsSql]] is the byte-identical DuckDB twin.
    */
  private def sentenceDocs(s: SparkSession, d: String): DataFrame = {
    val based = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        Dedup.tokens(col("text")).as("tk"))
    val sent = (0 until 5).map(j =>
      array_join(transform(sequence(lit(0), lit(5)),
        i => element_at(col("tk"),
          pmod(lit(j * 7) + i * lit(3), size(col("tk"))) + 1)), " "))
    based.select(col("doc_id"), concat_ws(". ", sent: _*).as("text"))
  }

  /** CTE fragment twin of [[sentenceDocs]]: yields `src0(id, t)`. */
  private lazy val sentenceDocsSql: String =
    s"""d AS (SELECT CAST(doc_id AS BIGINT) AS id, $toksSql AS tk
          FROM documents),
        sy AS (SELECT id, list_transform(generate_series(0, 4), j ->
            array_to_string(list_transform(generate_series(0, 5),
              i -> tk[(j*7 + i*3) % len(tk) + 1]), ' ')) AS sl FROM d),
        src0 AS (SELECT id, array_to_string(sl, '. ') AS t FROM sy)"""

  /** q121 lexicon: nested terms ("scan"/"can"/"an", "window"/"win"/
    * "ndo") exercise the automaton's fail-chain output folding;
    * "zzzqq" is planted absent.
    */
  private val Q121Terms = Seq("scan", "can", "an", "window", "win",
    "ndo", "join", "order", "rde", "zzzqq", "fast", "ast")

  /** q174/q176 oracle fragment: posting counts ending in
    * `st(term, cf, stf2, doc_freq)` + the corpus count `n(nd)`. */
  private lazy val burstinessCtesSql: String =
    s"""t AS (SELECT doc_id, $toksSql AS tk FROM documents),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        post AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(tk) AS term FROM t)
          GROUP BY 1, 2),
        st AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf,
            SUM(CAST(tf AS HUGEINT) * tf) AS stf2,
            CAST(COUNT(*) AS BIGINT) AS doc_freq
          FROM post GROUP BY 1)"""

  /** q175/q176 oracle fragment: hash-decile part stats ending in
    * `agg(term, cf, num, sdl)` (dispersion numerator). */
  private lazy val dispersionCtesSql: String =
    s"""td AS (SELECT CAST(('0x' || substr(md5(
            CAST(doc_id AS VARCHAR) || ':disp'), 1, 8)) AS BIGINT)
            % 10000 % 10 AS part, $toksSql AS tk FROM documents),
        pd AS (SELECT part, CAST(SUM(len(tk)) AS BIGINT) AS dlp
          FROM td GROUP BY 1),
        totd AS (SELECT CAST(SUM(dlp) AS BIGINT) AS sdl FROM pd),
        tfp AS (SELECT term, part, CAST(COUNT(*) AS BIGINT) AS tfp
          FROM (SELECT part, unnest(tk) AS term FROM td) GROUP BY 1, 2),
        cfq AS (SELECT term, CAST(SUM(tfp) AS BIGINT) AS cf
          FROM tfp GROUP BY 1),
        cells AS (SELECT cfq.term, cfq.cf, pd.part, pd.dlp,
            COALESCE(tfp.tfp, 0) AS tfp
          FROM cfq CROSS JOIN pd LEFT JOIN tfp
            ON tfp.term = cfq.term AND tfp.part = pd.part),
        agg AS (SELECT term, cf,
            SUM(abs(CAST(tfp AS HUGEINT) * sdl -
              CAST(dlp AS HUGEINT) * cf)) AS num, sdl
          FROM cells, totd GROUP BY term, cf, sdl)"""

  def specs: Seq[QuerySpec] = Seq(
    // text analysis: quality features as exact integer ppm
    QuerySpec("q19_quality", (s, d) => {
      val txt = col("text")
      val len = length(txt).cast("long")
      val toks = TextAnalysis.tokenCount(txt).cast("long")
      val letters = length(regexp_replace(lower(txt), "[^a-z]", ""))
        .cast("long")
      val digits = length(regexp_replace(txt, "[^0-9]", "")).cast("long")
      val stops = stopHitsCol(TextAnalysis.StopEn, lower(txt)).cast("long")
      t(s, d, "documents").select(
        col("doc_id"),
        toks.as("n_tokens"),
        expr("CAST(length(text) AS LONG)").as("n_chars_m"),
        when(toks > 0, (len * 100L) / toks).otherwise(lit(0L))
          .cast("long").as("chars_per_100tok"),
        when(len > 0, (letters * 1000000L) / len).otherwise(lit(0L))
          .cast("long").as("alpha_ppm"),
        when(len > 0, (digits * 1000000L) / len).otherwise(lit(0L))
          .cast("long").as("digit_ppm"),
        when(toks > 0, (stops * 1000000L) / toks).otherwise(lit(0L))
          .cast("long").as("stopword_ppm"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
        len($toksSql) AS n_tokens,
        CAST(length(text) AS BIGINT) AS n_chars_m,
        CASE WHEN len($toksSql) > 0
          THEN (length(text) * 100) // len($toksSql) ELSE 0 END
          AS chars_per_100tok,
        CASE WHEN length(text) > 0
          THEN (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
            * 1000000) // length(text) ELSE 0 END AS alpha_ppm,
        CASE WHEN length(text) > 0
          THEN (length(regexp_replace(text, '[^0-9]', '', 'g'))
            * 1000000) // length(text) ELSE 0 END AS digit_ppm,
        CASE WHEN len($toksSql) > 0
          THEN ((${stopHitsSql(TextAnalysis.StopEn, "lower(text)")})
            * 1000000) // len($toksSql) ELSE 0 END AS stopword_ppm
        FROM documents ORDER BY doc_id""")),
    // text analysis: heuristic language ID
    QuerySpec("q20_langid", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
    Some {
      val (scCols, caseExpr) = langIdSqlParts
      s"""SELECT doc_id, lang, $caseExpr AS lang_pred
        FROM (SELECT doc_id, lang, text, $scCols FROM documents)
        ORDER BY doc_id"""
    }),
    // language ID over non-Latin scripts (CJK/Hangul/Cyrillic/Arabic/
    // Greek/Hebrew/Devanagari/Thai) — same classifier, synthesized
    // multi-script corpus
    QuerySpec("q37_langid_scripts", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          pickCol(col("doc_id").cast("long"), ScriptSnippets, 0).as("text"))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .select("doc_id", "text", "lang_pred")
        .orderBy("doc_id"),
    Some {
      val (scCols, caseExpr) = langIdSqlParts
      s"""SELECT doc_id, text, $caseExpr AS lang_pred
        FROM (SELECT doc_id, text, $scCols FROM
          (SELECT doc_id, ${pickSql(ScriptSnippets, 0)} AS text
           FROM documents))
        ORDER BY doc_id"""
    }),
    // text analysis: document fingerprint + dup grouping
    QuerySpec("q21_fingerprint", (s, d) =>
      t(s, d, "documents")
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
        .orderBy("min_doc"),
    Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        COUNT(*) AS n, MIN(doc_id) AS min_doc
        FROM documents GROUP BY 1 ORDER BY min_doc""")),
    // curation: BPE tokenizer training, round-0 pair counts — the
    // quantity the first merge argmaxes over (the full loop is
    // golden-tested against a scalar reference in BpeSpec; this pins
    // the corpus-sized pass + the per-iteration aggregate in SQL)
    QuerySpec("q70_bpe_pairs", (s, d) =>
      Bpe.pairCounts(Bpe.initialSymbolTable(t(s, d, "documents"), "text"))
        .orderBy(col("cnt").desc, col("pa"), col("pb"))
        .limit(100),
    // q70: same whitespace tokenization, same char-level initial
    // symbols + '</w>' marker, same exact long counts and total
    // tie-break — the BPE trainer's round-0 argmax input
    Some(s"""WITH wc AS (SELECT tk AS word, CAST(COUNT(*) AS BIGINT) AS n
          FROM (SELECT unnest($toksSql) AS tk FROM documents)
          GROUP BY tk),
        syms AS (SELECT n, list_append(
            list_transform(generate_series(1, length(word)),
              i -> substr(word, i, 1)), '</w>') AS s
          FROM wc),
        pairs AS (SELECT n, s[i] AS pa, s[i + 1] AS pb
          FROM (SELECT n, s,
              unnest(generate_series(1, len(s) - 1)) AS i
            FROM syms WHERE len(s) >= 2))
        SELECT pa, pb, CAST(SUM(n) AS BIGINT) AS cnt
        FROM pairs GROUP BY pa, pb
        ORDER BY cnt DESC, pa, pb LIMIT 100""")),
    // term-lexicon gate: banned-word / policy-phrase stats in ONE text
    // pass (native Aho-Corasick kernel) — overlap-inclusive occurrence
    // count + distinct-terms-hit + the C4-style >= k distinct gate.
    // The term set nests on purpose ("scan"/"can"/"an",
    // "window"/"win"/"ndo") to exercise fail-chain output folding, and
    // includes one absent term that must count zero everywhere
    QuerySpec("q121_term_gate", (s, d) =>
      TextAnalysis.termGate(
          t(s, d, "documents").select(col("doc_id").cast("long")
            .as("doc_id"), col("text")),
          "text", Q121Terms, minDistinct = 4)
        .select(col("doc_id"), col("term_matches"), col("n_terms_hit"),
          col("term_flagged"))
        .orderBy("doc_id"),
    // q121: the oracle re-derives overlap-inclusive multi-pattern
    // occurrence counts by brute force — a lateral position sweep per
    // (doc, term) with substr equality (exactly the position-set
    // semantics the one-pass automaton computes); fine at oracle scale
    // (500 docs x ~300 chars x 12 terms), which is the POINT: this is
    // the O(len x terms) plan the kernel replaces
    Some {
      val termVals = Q121Terms.map(tm => s"('${sqlLit(tm)}')").mkString(", ")
      s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
          lower(text) AS tx FROM documents),
        terms AS (SELECT term FROM (VALUES $termVals) v(term)),
        pos AS (SELECT unnest(range(1,
            (SELECT max(length(tx)) + 1 FROM t))) AS i),
        m AS (SELECT t.doc_id, te.term FROM t, terms te, pos
          WHERE pos.i <= length(t.tx) - length(te.term) + 1
            AND substr(t.tx, CAST(pos.i AS INTEGER), length(te.term))
              = te.term),
        g AS (SELECT doc_id, count(*) AS tm,
            count(DISTINCT term) AS nt FROM m GROUP BY doc_id)
        SELECT t.doc_id,
          CAST(coalesce(g.tm, 0) AS BIGINT) AS term_matches,
          CAST(coalesce(g.nt, 0) AS BIGINT) AS n_terms_hit,
          coalesce(g.nt, 0) >= 4 AS term_flagged
        FROM t LEFT JOIN g ON g.doc_id = t.doc_id
        ORDER BY t.doc_id"""
    }),
    // phrase induction: top-50 adjacent-token bigrams by PMI over the
    // corpus — ranked by the exact lift ratio c_xy·N/(c_x·c_y) in
    // decimal ppm (log-free: log is monotone, so lift order IS PMI
    // order), min-count 5 against hapax-pair degeneracy
    QuerySpec("q123_collocations", (s, d) =>
      TextAnalysis.collocations(
        t(s, d, "documents").select(col("text")),
        "text", minCount = 5, topK = 50),
    // q123: bigrams via zipped unnest + position self-join (fine at
    // oracle scale; the Spark side builds them with per-row array
    // arithmetic); lift in HUGEINT floor division = Spark's
    // decimal(38) div, exactly
    Some(s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
          $toksSql AS tk FROM documents),
        p AS (SELECT doc_id, unnest(tk) AS w,
          unnest(range(1, len(tk) + 1)) AS pos FROM t),
        uni AS (SELECT w, count(*) AS c_w FROM p GROUP BY w),
        nt AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tok FROM uni),
        b0 AS (SELECT a.w AS w1, b.w AS w2 FROM p a JOIN p b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        bi AS (SELECT w1, w2, count(*) AS c_xy FROM b0
          GROUP BY w1, w2 HAVING count(*) >= 5),
        sc AS (SELECT bi.w1, bi.w2, bi.c_xy, ux.c_w AS c_x,
            uy.c_w AS c_y,
            CAST((CAST(bi.c_xy AS HUGEINT) * nt.n_tok * 1000000)
              // (CAST(ux.c_w AS HUGEINT) * uy.c_w) AS BIGINT)
              AS lift_ppm
          FROM bi JOIN uni ux ON ux.w = bi.w1
          JOIN uni uy ON uy.w = bi.w2, nt),
        r AS (SELECT *, row_number()
          OVER (ORDER BY lift_ppm DESC, w1, w2) AS rank FROM sc)
        SELECT CAST(rank AS BIGINT) AS rank, w1, w2,
          CAST(c_xy AS BIGINT) AS c_xy, CAST(c_x AS BIGINT) AS c_x,
          CAST(c_y AS BIGINT) AS c_y, lift_ppm
        FROM r WHERE rank <= 50 ORDER BY rank""")),
    // quality signals: character- and token-level Shannon entropy per
    // document — the compressibility/garble proxy (base64 blobs score
    // high char entropy, repeated-phrase spam scores low token
    // entropy); pure per-row Columns
    QuerySpec("q129_entropy", (s, d) =>
      t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        TextAnalysis.charEntropy(col("text")).as("char_entropy"),
        TextAnalysis.tokenEntropy(col("text")).as("token_entropy"))
        .orderBy("doc_id"),
    // q129: char entropy replays the identical binary-sorted-alphabet
    // summation order (replace-count per distinct char); token entropy
    // counts by the same md5-prefix token hash, terms summed in hash
    // order = the Spark side's sorted run-length fold; `+ 0.0`
    // canonicalizes -0.0 on degenerate single-symbol docs
    Some(s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
          FROM documents),
        ch AS (SELECT doc_id, text, length(text) AS n,
          list_sort(list_distinct(list_transform(
            generate_series(1, greatest(length(text), 1)),
            i -> substr(text, i, 1)))) AS ds FROM t),
        ce AS (SELECT doc_id, CASE WHEN n IS NULL OR n <= 0 THEN 0.0
          ELSE round(-list_sum(list_transform(ds, c ->
            ((n - length(replace(text, c, ''))) / CAST(n AS DOUBLE)) *
            log2((n - length(replace(text, c, ''))) /
              CAST(n AS DOUBLE)))), 6) + 0.0 END AS char_entropy
          FROM ch),
        tok AS (SELECT doc_id,
            CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) AS th
          FROM (SELECT doc_id, unnest($toksSql) AS tk FROM t)),
        cnts AS (SELECT doc_id, th, COUNT(*) AS c
          FROM tok GROUP BY doc_id, th),
        tots AS (SELECT doc_id, SUM(c) AS n FROM cnts GROUP BY doc_id),
        te AS (SELECT c.doc_id,
            round(-list_sum(list_transform(
              list(CAST(c.c AS DOUBLE) / tots.n ORDER BY c.th),
              p -> p * log2(p))), 6) + 0.0 AS token_entropy
          FROM cnts c JOIN tots USING (doc_id) GROUP BY c.doc_id)
        SELECT t.doc_id, ce.char_entropy,
          COALESCE(te.token_entropy, 0.0) AS token_entropy
        FROM t JOIN ce USING (doc_id) LEFT JOIN te USING (doc_id)
        ORDER BY t.doc_id""")),
    // keyword extraction: TextRank — PageRank over the adjacent-token
    // co-occurrence graph (vocabulary-sized, undirected); top-20
    // central words of the corpus topology
    QuerySpec("q140_textrank", (s, d) =>
      TextAnalysis.textRankKeywords(t(s, d, "documents"), "text",
        iterations = 3, topK = 20),
    // q140: co-occurrence edges in SQL + the SHARED PageRank round
    // template (prRoundsSql) — same integral DIV per round
    Some {
      val rounds = prRoundsSql(3)
      s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
        pr0 AS (SELECT tk[i] AS a, tk[i + 1] AS b
          FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
            FROM t WHERE len(tk) >= 2)),
        pu AS (SELECT a, b FROM pr0 WHERE a != b),
        e AS (SELECT DISTINCT src, dst FROM (SELECT a AS src, b AS dst
          FROM pu UNION ALL SELECT b, a FROM pu)),
        nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
          FROM e GROUP BY src),
        r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_ppb
          FROM nd)$rounds
        SELECT node AS word, rank_ppb FROM r3
        ORDER BY rank_ppb DESC, word LIMIT 20"""
    }),
    // code-switch detection: three planted script-snippet sentences
    // per doc, language-ID'd individually — mixed-language pages
    // (partial translations, foreign boilerplate) that a whole-doc
    // language ID averages away
    QuerySpec("q148_code_switch", (s, d) => {
      val did = col("doc_id").cast("long")
      val txt = concat(
        pickCol(did, ScriptSnippets, 0), lit(". "),
        pickCol(did, ScriptSnippets, 1), lit(". "),
        pickCol(did, ScriptSnippets, 2))
      TextAnalysis.codeSwitchStats(
          t(s, d, "documents").select(did.as("doc_id"), txt.as("text")),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_sents"), col("n_langs"),
          col("major_lang"), col("mixed"))
        .orderBy("doc_id")
    },
    // q148: same snippet picks, same RE2 sentence split, the SHARED
    // langIdSqlParts case expression per sentence, and ROW_NUMBER
    // (c DESC, lang) = the Spark min-of-(-c, lang) majority tie rule
    Some {
      val (scCols, caseExpr) = langIdSqlParts
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
          ${pickSql(ScriptSnippets, 0)} || '. ' ||
          ${pickSql(ScriptSnippets, 1)} || '. ' ||
          ${pickSql(ScriptSnippets, 2)} AS t FROM documents),
        sents AS (SELECT id, unnest(list_filter(list_transform(
            regexp_split_to_array(t, '[.!?]\\s+'), x -> trim(x)),
            x -> x != '')) AS text FROM d),
        sl AS (SELECT id, $caseExpr AS slang
          FROM (SELECT id, text, $scCols FROM sents)),
        pl AS (SELECT id, slang, COUNT(*) AS c
          FROM sl GROUP BY id, slang),
        agg AS (SELECT id, CAST(SUM(c) AS BIGINT) AS n_sents,
          CAST(COUNT(*) AS BIGINT) AS n_langs FROM pl GROUP BY id),
        mj AS (SELECT id, slang AS major_lang FROM
          (SELECT id, slang, ROW_NUMBER() OVER (PARTITION BY id
            ORDER BY c DESC, slang) AS rn FROM pl) WHERE rn = 1)
        SELECT a.id AS doc_id, n_sents, n_langs, major_lang,
          n_langs > 1 AS mixed
        FROM agg a JOIN mj ON a.id = mj.id ORDER BY doc_id"""
    }),
    // extractive summarization: LexRank — PageRank centrality over
    // within-doc sentence-similarity graphs; sentence-bearing docs
    // synthesized from each doc's own tokens by modular picks (the
    // corpus text has no punctuation, the q148 discipline)
    QuerySpec("q158_lexrank", (s, d) =>
      TextAnalysis.lexRankSummary(sentenceDocs(s, d), "doc_id", "text",
          iterations = 3, topPerDoc = 2)
        .orderBy("id", "rnk"),
    // q158: sentence synthesis + split round-trip, distinct-token
    // overlap ppm edges, the SHARED prRoundsSql PageRank template
    // over 'id:sidx' nodes, row_number top-2 per doc
    Some {
      val rounds = prRoundsSql(3)
      s"""WITH $sentenceDocsSql,
        sp AS (SELECT id, list_filter(list_transform(
            regexp_split_to_array(t, '[.!?]\\s+'), x -> trim(x)),
            x -> x != '') AS ss FROM src0),
        sents AS (SELECT id, u.p.i - 1 AS sidx, u.p.v AS sent
          FROM sp, unnest(list_transform(generate_series(1, len(ss)),
            i -> struct_pack(i := i, v := ss[i]))) u(p)
          WHERE u.p.i - 1 < 50),
        st AS (SELECT id, sidx, sent, list_distinct(list_filter(
            regexp_split_to_array(lower(trim(sent)), '\\s+'),
            x -> x != '')) AS tk2 FROM sents),
        st2 AS (SELECT * FROM st WHERE len(tk2) > 0),
        pr AS (SELECT a.id, a.sidx AS ai, b.sidx AS bi,
            (CAST(len(list_intersect(a.tk2, b.tk2)) AS BIGINT)
              * 1000000) // (len(a.tk2) + len(b.tk2)) AS sim
          FROM st2 a JOIN st2 b ON a.id = b.id AND a.sidx < b.sidx),
        pe AS (SELECT CAST(id AS VARCHAR) || ':' || CAST(ai AS VARCHAR)
            AS src,
            CAST(id AS VARCHAR) || ':' || CAST(bi AS VARCHAR) AS dst
          FROM pr WHERE sim >= 200000),
        e AS (SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe),
        nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
          FROM e GROUP BY src),
        r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_ppb
          FROM nd)$rounds,
        rk AS (SELECT st2.id, st2.sidx, st2.sent,
            COALESCE(r3.rank_ppb, 0) AS rank_ppb
          FROM st2 LEFT JOIN r3 ON r3.node =
            CAST(st2.id AS VARCHAR) || ':' || CAST(st2.sidx AS VARCHAR)),
        fin AS (SELECT id, sidx, sent, rank_ppb,
            ROW_NUMBER() OVER (PARTITION BY id
              ORDER BY rank_ppb DESC, sidx) AS rnk FROM rk)
        SELECT id, CAST(sidx AS BIGINT) AS sidx, sent,
          CAST(rank_ppb AS BIGINT) AS rank_ppb, CAST(rnk AS BIGINT)
            AS rnk
        FROM fin WHERE rnk <= 2 ORDER BY id, rnk"""
    }),
    // readability gates: Flesch reading ease + FK grade level in
    // exact integer milli-points over the same sentence-bearing docs
    QuerySpec("q159_readability", (s, d) =>
      TextAnalysis.readability(sentenceDocs(s, d), "doc_id", "text")
        .orderBy("doc_id"),
    // q159: same synthesized sentences; vowel-group syllables, the
    // identical integer DIV milli staging
    Some(s"""WITH $sentenceDocsSql,
        tk3 AS (SELECT id,
            list_filter(regexp_split_to_array(lower(trim(t)), '\\s+'),
              x -> x != '') AS tkx,
            list_filter(list_transform(
              regexp_split_to_array(t, '[.!?]\\s+'), x -> trim(x)),
              x -> x != '') AS ss
          FROM src0),
        m AS (SELECT id, CAST(len(tkx) AS BIGINT) AS n_words,
            CAST(greatest(len(ss), 1) AS BIGINT) AS n_sents,
            CAST(list_sum(list_transform(tkx, w ->
              greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
              AS BIGINT) AS n_syllables
          FROM tk3)
        SELECT id AS doc_id, n_words, n_sents, n_syllables,
          CAST(CASE WHEN n_words = 0 THEN 206835
            ELSE 206835 - (1015 * n_words) // n_sents
              - (84600 * n_syllables) // n_words END AS BIGINT)
            AS fre_milli,
          CAST(CASE WHEN n_words = 0 THEN -15590
            ELSE (390 * n_words) // n_sents
              + (11800 * n_syllables) // n_words - 15590 END AS BIGINT)
            AS fkgl_milli
        FROM m ORDER BY doc_id""")),
    // keyword extraction: RAKE — stopword-delimited candidate runs,
    // deg/freq word scores, integer-ppm phrase scoring
    QuerySpec("q164_rake", (s, d) =>
      TextAnalysis.rakeKeywords(t(s, d, "documents"), "doc_id", "text",
        stopwords = Seq("the", "a", "of", "and"), maxPhraseLen = 4,
        topK = 30),
    // q164: run split via the same per-doc running stopword count,
    // identical deg/freq ppm staging
    Some(s"""WITH t AS (SELECT doc_id AS id, $toksSql AS tk FROM documents),
        p AS (SELECT id, i - 1 AS pos, tk[i] AS tok
          FROM (SELECT id, tk, unnest(generate_series(1, len(tk))) AS i
            FROM t)),
        st AS (SELECT id, pos, tok,
            tok IN ('the', 'a', 'of', 'and') AS stp,
            SUM(CASE WHEN tok IN ('the', 'a', 'of', 'and')
              THEN 1 ELSE 0 END) OVER (PARTITION BY id ORDER BY pos
              ROWS UNBOUNDED PRECEDING) AS seg
          FROM p),
        cand AS (SELECT id, seg, list(tok ORDER BY pos) AS ptoks
          FROM st WHERE NOT stp GROUP BY id, seg),
        cand2 AS (SELECT ptoks, len(ptoks) AS plen FROM cand
          WHERE len(ptoks) <= 4),
        ws AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
            CAST(SUM(plen) AS BIGINT) AS deg
          FROM (SELECT unnest(ptoks) AS w, plen FROM cand2)
          GROUP BY w),
        ws2 AS (SELECT w, (deg * 1000000) // freq AS wsc FROM ws),
        ph AS (SELECT ptoks, CAST(COUNT(*) AS BIGINT) AS n_occurrences
          FROM cand2 GROUP BY ptoks),
        px AS (SELECT array_to_string(ptoks, ' ') AS phrase,
            n_occurrences, unnest(ptoks) AS w FROM ph),
        sc AS (SELECT phrase, n_occurrences,
            CAST(SUM(wsc) AS BIGINT) AS score_ppm,
            CAST(COUNT(*) AS BIGINT) AS n_words
          FROM px JOIN ws2 USING (w) GROUP BY 1, 2)
        SELECT phrase, n_occurrences, score_ppm, n_words FROM sc
        ORDER BY score_ppm DESC, phrase LIMIT 30""")),
    // BPE encode with a FIXED 3-merge table — the native kernel
    // (functions.BpeEncodeWords) checked against an INDEPENDENT
    // DuckDB implementation of the sequential merge semantics. The
    // planted merges chain (t+h -> th, th+e -> the, e+</w>) so apply
    // order is observable; each has left != right, which makes
    // matches non-overlapping and greedy == simultaneous replacement
    // (the form SQL can express)
    QuerySpec("q180_bpe_encode", (s, d) => {
      val merges = Seq(
        ops.Bpe.Merge(0, "t", "h", "th", 0L),
        ops.Bpe.Merge(1, "th", "e", "the", 0L),
        ops.Bpe.Merge(2, "e", ops.Bpe.EndOfWord,
          "e" + ops.Bpe.EndOfWord, 0L))
      ops.Bpe.encode(
          t(s, d, "documents").select(col("doc_id"), col("text")),
          "text", merges)
        .select(col("doc_id"),
          col("n_bpe_tokens"),
          md5(array_join(col("bpe_tokens"), " ")).as("bpe_md5"))
        .orderBy("doc_id")
    },
    // q180: per-word char+</w> symbols, three greedy merge layers
    // (left != right makes matches non-overlapping, so one
    // mark-and-drop list pass per merge IS the greedy semantics),
    // flatten in word order
    Some {
      def applyMergeSql(s: String, a: String, b: String,
          m: String): String =
        s"""list_filter(list_transform(generate_series(1, len($s)),
           i -> CASE WHEN i < len($s) AND $s[i] = '$a'
               AND $s[i + 1] = '$b' THEN '$m'
             WHEN i > 1 AND $s[i - 1] = '$a' AND $s[i] = '$b' THEN NULL
             ELSE $s[i] END), x -> x IS NOT NULL)"""
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
        w AS (SELECT doc_id, i AS wpos, tk[i] AS word
          FROM (SELECT doc_id, tk,
              unnest(generate_series(1, len(tk))) AS i FROM t)),
        s0 AS (SELECT doc_id, wpos,
          list_append(string_split(word, ''), '</w>') AS s FROM w),
        s1 AS (SELECT doc_id, wpos,
          ${applyMergeSql("s", "t", "h", "th")} AS s FROM s0),
        s2 AS (SELECT doc_id, wpos,
          ${applyMergeSql("s", "th", "e", "the")} AS s FROM s1),
        s3 AS (SELECT doc_id, wpos,
          ${applyMergeSql("s", "e", "</w>", "e</w>")} AS s FROM s2),
        fl AS (SELECT doc_id, flatten(list(s ORDER BY wpos)) AS bt
          FROM s3 GROUP BY doc_id)
        SELECT d.doc_id,
          CAST(coalesce(len(bt), 0) AS BIGINT) AS n_bpe_tokens,
          md5(coalesce(array_to_string(bt, ' '), '')) AS bpe_md5
        FROM documents d LEFT JOIN fl ON fl.doc_id = d.doc_id
        ORDER BY d.doc_id"""
    }),
    QuerySpec("q178_term_drift", (s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.termDrift(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") === "src1"), "text")
        .orderBy(col("jsd_contrib").desc, col("term"))
        .limit(20)
    },
    Some(s"""WITH ta AS (SELECT unnest($toksSql) AS term FROM documents
          WHERE source = 'src0'),
        tb AS (SELECT unnest($toksSql) AS term FROM documents
          WHERE source = 'src1'),
        ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_a
          FROM ta GROUP BY 1),
        cb AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_b
          FROM tb GROUP BY 1),
        jj AS (SELECT COALESCE(ca.term, cb.term) AS term,
            COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
          FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
        tt AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
            CAST(SUM(cnt_b) AS BIGINT) AS nb FROM jj),
        sc AS (SELECT term, cnt_a, cnt_b,
            CAST(cnt_a AS DOUBLE) / na AS p,
            CAST(cnt_b AS DOUBLE) / nb AS q
          FROM jj, tt),
        fc AS (SELECT term, cnt_a, cnt_b, round(
            ((CASE WHEN p > 0 THEN p * log2(p / ((p + q) / 2.0))
              ELSE 0 END) +
             (CASE WHEN q > 0 THEN q * log2(q / ((p + q) / 2.0))
              ELSE 0 END)) / 2.0, 6) AS jsd_contrib
          FROM sc)
        SELECT term, cnt_a, cnt_b, jsd_contrib FROM fc
        ORDER BY jsd_contrib DESC, term LIMIT 20""")),
    // lexical repetitiveness: per-doc Yule's K — the length-robust
    // diversity gate (template spam recycles a tiny vocabulary)
    QuerySpec("q177_yule_k", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.yuleK(col("text")).as("yule_k_milli"))
        .orderBy("doc_id"),
    // q177: tf² per token HASH (mirrors the Spark fold's unit, the
    // q53 collision discipline) + the single milli-K floor
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
        tf AS (SELECT doc_id, h, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT doc_id, CAST(('0x' || substr(md5(t2), 1, 8))
              AS BIGINT) AS h
            FROM (SELECT doc_id, unnest(tk) AS t2 FROM t))
          GROUP BY 1, 2),
        agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
            CAST(SUM(c * c) AS BIGINT) AS ssq FROM tf GROUP BY 1)
        SELECT d0.doc_id, CASE WHEN n IS NULL OR n = 0 THEN NULL
          ELSE CAST(((ssq - n) * 10000000)
            // (CAST(n AS HUGEINT) * n) AS BIGINT) END AS yule_k_milli
        FROM documents d0 LEFT JOIN agg ON agg.doc_id = d0.doc_id
        ORDER BY d0.doc_id""")),
    // list-free stopword induction: frequent + non-bursty + evenly
    // dispersed — the automatic replacement for hand-curated lists
    QuerySpec("q176_stopword_induction", (s, d) =>
      TextAnalysis.induceStopwords(t(s, d, "documents"), "doc_id",
          "text", topK = 30)
        .orderBy(col("cf").desc, col("term")),
    // q176: both shared chains, top-30 each, join + threshold flag
    Some(s"""WITH $burstinessCtesSql,
        $dispersionCtesSql,
        bz AS (SELECT term, cf, doc_freq,
            CAST(((nd * stf2 - CAST(cf AS HUGEINT) * cf) * 1000000)
              // (nd * CAST(cf AS HUGEINT)) AS BIGINT) AS vmr_ppm
          FROM st, n ORDER BY cf DESC, term LIMIT 30),
        dz AS (SELECT term, cf, CAST((num * 1000000)
              // (2 * CAST(cf AS HUGEINT) * sdl) AS BIGINT) AS dp_ppm
          FROM agg ORDER BY cf DESC, term LIMIT 30)
        SELECT bz.term, bz.cf, doc_freq, vmr_ppm, dp_ppm,
          (vmr_ppm <= 3000000 AND dp_ppm <= 300000) AS stopword
        FROM bz JOIN dz ON bz.term = dz.term AND bz.cf = dz.cf
        ORDER BY bz.cf DESC, bz.term""")),
    // corpus linguistics: Gries DP dispersion over 10 hash-deciles —
    // across-corpus evenness, the complement of q174's burstiness
    QuerySpec("q175_dispersion", (s, d) =>
      TextAnalysis.termDispersion(t(s, d, "documents"), "doc_id",
        "text", parts = 10, topK = 20),
    // q175: same hash-decile parts + common-denominator DP floor
    Some(s"""WITH $dispersionCtesSql
        SELECT term, cf, CAST((num * 1000000)
            // (2 * CAST(cf AS HUGEINT) * sdl) AS BIGINT) AS dp_ppm
        FROM agg ORDER BY cf DESC, term LIMIT 20""")),
    // corpus linguistics: term burstiness (VMR) — content terms clump,
    // function words spread; exact one-floor staging, top-20 by cf
    QuerySpec("q174_burstiness", (s, d) =>
      TextAnalysis.termBurstiness(t(s, d, "documents"), "doc_id",
        "text", topK = 20),
    // q174: posting counts + the telescoped VMR floor
    Some(s"""WITH $burstinessCtesSql
        SELECT term, cf, doc_freq,
          CAST(((nd * stf2 - CAST(cf AS HUGEINT) * cf) * 1000000)
            // (nd * CAST(cf AS HUGEINT)) AS BIGINT) AS vmr_ppm
        FROM st, n ORDER BY cf DESC, term LIMIT 20""")),
    // extraction grading: token-level precision/recall/F1 of a
    // predicted extraction vs gold (CleanEval-style) — pred plants
    // recall loss (first 3 tokens cut, id%4==0) and precision loss
    // (boilerplate tokens appended, id%3==0); thin (id, tokHash, cnt)
    // shuffle only
    QuerySpec("q93_extract_score", (s, d) => {
      val did = col("doc_id").cast("long")
      val docs = t(s, d, "documents")
      val toks = graft.ops.Dedup.tokens(col("text"))
      val base = when(pmod(did, lit(4)) === 0,
        slice(toks, 4, 1000000)).otherwise(toks)
      val app = when(pmod(did, lit(3)) === 0,
        concat(base, array(lit("nav"), lit("menu"), lit("footer"),
          lit("nav")))).otherwise(base)
      TextAnalysis.extractionScore(
        docs.select(col("doc_id"), col("text")),
        docs.select(col("doc_id"), array_join(app, " ").as("pred_text")),
        "doc_id", "text", "pred_text")
        .orderBy("doc_id")
    },
    // q93: gold/pred token bags re-derived from the same plant; the
    // multiset overlap is SUM(LEAST(gc, pc)) over the full-outer
    // (doc, tokHash) join, ppm with integer division — identical
    // truncation both engines
    Some(s"""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS id, doc_id,
          $toksSql AS g FROM documents),
        pr0 AS (SELECT id, doc_id, g,
          CASE WHEN id % 4 = 0 THEN g[4:] ELSE g END AS p1 FROM b),
        pr AS (SELECT id, doc_id, g,
          CASE WHEN id % 3 = 0
            THEN list_concat(p1, ['nav','menu','footer','nav'])
            ELSE p1 END AS pt FROM pr0),
        gc AS (SELECT doc_id, th, COUNT(*) AS gcnt FROM
          (SELECT doc_id,
             CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) AS th
           FROM (SELECT doc_id, unnest(g) AS tk FROM pr))
          GROUP BY 1, 2),
        pc AS (SELECT doc_id, th, COUNT(*) AS pcnt FROM
          (SELECT doc_id,
             CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) AS th
           FROM (SELECT doc_id, unnest(pt) AS tk FROM pr))
          GROUP BY 1, 2),
        j AS (SELECT COALESCE(gc.doc_id, pc.doc_id) AS doc_id,
            COALESCE(gcnt, 0) AS gcnt, COALESCE(pcnt, 0) AS pcnt
          FROM gc FULL OUTER JOIN pc
            ON gc.doc_id = pc.doc_id AND gc.th = pc.th),
        a AS (SELECT doc_id, CAST(SUM(gcnt) AS BIGINT) AS n_gold,
            CAST(SUM(pcnt) AS BIGINT) AS n_pred,
            CAST(SUM(LEAST(gcnt, pcnt)) AS BIGINT) AS n_overlap
          FROM j GROUP BY 1),
        f AS (SELECT *,
          CAST(CASE WHEN n_pred > 0
            THEN (n_overlap * 1000000) // n_pred ELSE 0 END AS BIGINT)
            AS precision_ppm,
          CAST(CASE WHEN n_gold > 0
            THEN (n_overlap * 1000000) // n_gold ELSE 0 END AS BIGINT)
            AS recall_ppm FROM a)
        SELECT doc_id, n_gold, n_pred, n_overlap, precision_ppm,
          recall_ppm,
          CAST(CASE WHEN precision_ppm + recall_ppm > 0
            THEN (2 * precision_ppm * recall_ppm)
              // (precision_ppm + recall_ppm) ELSE 0 END AS BIGINT)
            AS f1_ppm
        FROM f ORDER BY doc_id"""))
  )
}
