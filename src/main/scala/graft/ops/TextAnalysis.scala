package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Column expressions (codegen'd, shuffle-free, oracle-portable).
  */
object TextAnalysis {

  /** Whitespace token count (0 for blank). */
  def tokenCount(text: Column): Column =
    size(filter(split(trim(text), "\\s+"), t => t =!= ""))

  /** Extraction-quality scorer: token-level precision / recall / F1
    * (integer ppm) of a predicted extraction against gold text, per
    * document — the grading harness an extractor change is judged by
    * (boilerplate left in → precision drops; content cut → recall
    * drops). Token match is the bag-of-words multiset overlap on
    * [[graft.ops.Dedup.tokens]] (lowercased whitespace tokens), the
    * standard main-content-extraction benchmark metric
    * (CleanEval / Boilerpipe evaluations score token F1).
    *
    * Scale shape: both corpora reduce to thin (id, tokHash, cnt) rows
    * via map-side-combinable partial aggregation — document text never
    * shuffles, tokens shuffle as 8-byte hashes, never strings; one
    * full-outer equi-join on (id, hash) then a per-id sum. Docs with
    * zero tokens on both sides don't appear (no rows to score).
    * Hash collisions inside one doc merge counts, same documented
    * trade as [[graft.ops.Curation.tokenDfStats]].
    */
  def extractionScore(gold: DataFrame, pred: DataFrame, idCol: String,
      goldTextCol: String, predTextCol: String): DataFrame = {
    def counts(df: DataFrame, tcol: String, cnt: String): DataFrame =
      df.select(col(idCol),
          explode(graft.ops.Dedup.tokens(col(tcol))).as("_t"))
        .select(col(idCol), graft.ops.Dedup.tokHash(col("_t")).as("_th"))
        .groupBy(col(idCol), col("_th"))
        .agg(count(lit(1)).as(cnt))
    val zero = lit(0L)
    counts(gold, goldTextCol, "_gc")
      .join(counts(pred, predTextCol, "_pc"), Seq(idCol, "_th"),
        "full_outer")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("_gc"), zero)).as("n_gold"),
        sum(coalesce(col("_pc"), zero)).as("n_pred"),
        sum(least(coalesce(col("_gc"), zero),
          coalesce(col("_pc"), zero))).as("n_overlap"))
      .withColumn("precision_ppm", when(col("n_pred") > 0,
        (col("n_overlap") * 1000000L) / col("n_pred"))
        .otherwise(zero).cast("long"))
      .withColumn("recall_ppm", when(col("n_gold") > 0,
        (col("n_overlap") * 1000000L) / col("n_gold"))
        .otherwise(zero).cast("long"))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") > 0,
          (lit(2L) * col("precision_ppm") * col("recall_ppm")) /
            (col("precision_ppm") + col("recall_ppm")))
          .otherwise(zero).cast("long"))
  }

  /** BPE-ish subword count: letter runs, digit runs, single punctuation —
    * the standard pre-tokenizer regex family.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Stopword-list hits for a language: whitespace-tokenize once, count
    * list membership. One split per row regardless of list size — the
    * per-word regex-scan form costs |words| regex passes over the full
    * text per language, which at 12 languages × 15 words is 180 scans
    * per row (a 100 TB job killer); membership over the token array is
    * one pass plus hash lookups, and stays engine-portable for the
    * DuckDB oracle (list_filter + IN).
    */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(split(text, "\\s+"), t => t.isin(words: _*)))

  // 15 high-frequency unaccented stopwords per language (public
  // frequency lists); tie-break priority follows StopLists order
  // (en > de > fr > es > it > pt > nl > pl > sv > da > id > tr).
  // Cross-language shared forms ("de", "que", "en") score for every
  // list containing them — a heuristic, resolved by the tie order.
  val StopEn = Seq("the", "and", "of", "to", "a", "is", "in", "that",
    "it", "for", "was", "with", "on", "as", "are")
  val StopDe = Seq("der", "die", "das", "und", "ist", "nicht", "ein",
    "eine", "mit", "von", "auf", "im", "den", "zu", "sich")
  val StopFr = Seq("le", "la", "les", "et", "est", "une", "dans", "des",
    "du", "pour", "pas", "sur", "avec", "au", "ce")
  val StopEs = Seq("el", "los", "las", "y", "es", "una", "que", "de",
    "en", "por", "con", "para", "del", "se", "su")
  val StopIt = Seq("il", "lo", "gli", "e", "che", "di", "un", "per",
    "non", "sono", "si", "da", "nel", "alla", "come")
  val StopPt = Seq("o", "os", "um", "uma", "para", "com", "nao", "em",
    "dos", "das", "mais", "como", "foi", "ao", "sua")
  val StopNl = Seq("de", "het", "een", "van", "en", "niet", "met", "op",
    "voor", "aan", "zijn", "dat", "er", "ook", "bij")
  val StopPl = Seq("i", "w", "nie", "na", "z", "do", "to", "jest", "po",
    "jak", "o", "ale", "co", "ma", "od")
  val StopSv = Seq("och", "att", "det", "som", "en", "av", "med", "den",
    "till", "inte", "om", "har", "ett", "han", "men")
  val StopDa = Seq("og", "i", "at", "det", "en", "den", "til", "er",
    "som", "af", "med", "for", "ikke", "der", "har")
  val StopId = Seq("yang", "dan", "di", "itu", "dengan", "untuk",
    "tidak", "ini", "dari", "dalam", "akan", "pada", "juga", "saya", "ke")
  val StopTr = Seq("bir", "ve", "bu", "da", "ne", "ile", "mi", "ama",
    "ben", "o", "daha", "gibi", "kadar", "sen", "biz")

  val StopLists: Seq[(String, Seq[String])] = Seq(
    "en" -> StopEn, "de" -> StopDe, "fr" -> StopFr, "es" -> StopEs,
    "it" -> StopIt, "pt" -> StopPt, "nl" -> StopNl, "pl" -> StopPl,
    "sv" -> StopSv, "da" -> StopDa, "id" -> StopId, "tr" -> StopTr)

  /** Unicode script blocks used for non-Latin language ID. Plain BMP
    * codepoint ranges in \x{…} syntax — identical semantics in Java
    * regex (Spark) and RE2 (DuckDB), so the whole classifier stays
    * oracle-portable. All ranges are BMP: one UTF-16 unit in Spark, one
    * codepoint in DuckDB, so the subtraction count matches.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "han" -> "[\\x{4E00}-\\x{9FFF}]",
    "kana" -> "[\\x{3040}-\\x{30FF}]",
    "hangul" -> "[\\x{AC00}-\\x{D7AF}\\x{1100}-\\x{11FF}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "hebrew" -> "[\\x{0590}-\\x{05FF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]",
    "thai" -> "[\\x{0E00}-\\x{0E7F}]")

  /** Count of characters in a script range (length subtraction — one
    * regex pass, no explode).
    */
  def scriptCount(text: Column, range: String): Column =
    length(text) - length(regexp_replace(text, range, ""))

  /** Heuristic language ID.
    *
    * Two tiers: when non-Latin script characters make up more than half
    * of the text, the dominant script family decides (CJK resolves to
    * "ja" if any kana is present else "zh"; Hangul → ko, Cyrillic → ru,
    * Arabic → ar, Greek → el, Hebrew → he, Devanagari → hi, Thai → th —
    * the script's majority language, a standard first-pass heuristic).
    * Otherwise the Latin-script stopword vote picks among StopLists
    * (ties break in list order). "und" for NULL text, no stopword hits,
    * or an unrecognized script mix.
    *
    * NOTE the decision when-chain references every hit/script count
    * 2-3× (once in the greatest, once per branch), and each reference
    * re-evaluates its whole subtree — including the tokenizing split —
    * unless codegen subexpression elimination catches it. Fine for a
    * one-off query; for a corpus scan use [[withLangId]], which
    * materializes each feature exactly once per row.
    */
  def langId(textRaw: Column): Column = {
    val text = lower(textRaw)
    val hits = StopLists.map { case (lang, words) =>
      lang -> stopwordHits(text, words)
    }
    val sc = ScriptRanges.map { case (k, r) =>
      k -> scriptCount(textRaw, r)
    }.toMap
    langDecision(textRaw, hits, sc)
  }

  /** The langId decision tree over already-computed per-language hit
    * counts and per-script char counts — shared by the inline Column
    * form ([[langId]]) and the materialized DataFrame form
    * ([[withLangId]]) so the tie-break semantics live in one place.
    */
  private def langDecision(textRaw: Column, hits: Seq[(String, Column)],
      sc: Map[String, Column]): Column = {
    // Argmax via array_max over (count, -listIndex) structs — NOT a
    // when-chain over `h === greatest(...)`: the chain form references
    // every count 10-20× and Catalyst's filter-pushdown/collapse
    // substitution then duplicates each count's whole subtree per
    // reference (plan-size explosion + per-row re-evaluation when the
    // counts are inline expressions). Here every count appears exactly
    // once; struct comparison is field-order lexicographic, so max =
    // highest count, ties to the SMALLEST list index — identical
    // semantics to the original ordered when-chain.
    val latinBest = array_max(array(hits.zipWithIndex.map {
      case ((_, h), i) => struct(h.as("h"), lit(-i).as("ni"))
    }: _*))
    val langNames = array(hits.map { case (lang, _) => lit(lang) }: _*)
    val latin = when(latinBest.getField("h") === 0, lit("und"))
      .otherwise(element_at(langNames, -latinBest.getField("ni") + 1))
    val fams: Seq[(String, Column)] = Seq(
      "cjk" -> (sc("han") + sc("kana")), "ko" -> sc("hangul"),
      "ru" -> sc("cyrillic"), "ar" -> sc("arabic"), "el" -> sc("greek"),
      "he" -> sc("hebrew"), "hi" -> sc("devanagari"), "th" -> sc("thai"))
    val famBest = array_max(array(fams.zipWithIndex.map {
      case ((_, c), i) => struct(c.as("c"), lit(-i).as("ni"))
    }: _*))
    val famIdx = -famBest.getField("ni")
    val famNames = array(fams.tail.map { case (f, _) => lit(f) }: _*)
    val scriptPick = when(famIdx === 0,
        when(sc("kana") > 0, lit("ja")).otherwise(lit("zh")))
      .otherwise(element_at(famNames, famIdx))
    val total = fams.map(_._2).reduce(_ + _)
    when(textRaw.isNull, lit("und"))
      .when(total * 2 > length(textRaw), scriptPick)
      .otherwise(latin)
  }

  /** DataFrame-level langId — identical values to [[langId]], but each
    * input feature (the tokenization, the 12 stopword-hit counts, the 9
    * script counts) is materialized as its own column in an inner
    * projection, so it is computed exactly once per row no matter how
    * many times the decision tree references it (CollapseProject keeps
    * multi-referenced non-cheap aliases — the same trick as the minhash
    * `_units` column). Script counts use `regexp_extract_all` size
    * (match counting) instead of the replace-and-subtract form: same
    * value for single-char classes, but no full-text copy per script.
    * This is the form the corpus-curation gate runs: measured ~3× the
    * inline form's throughput on the sf0.1 curation input.
    *
    * @param toksCol name of an existing materialized token-array column
    *                (as produced by `Dedup.tokens`) to reuse, or "" to
    *                tokenize here
    */
  def withLangId(df0: DataFrame, textCol: String, out: String = "lang",
      toksCol: String = ""): DataFrame = {
    val textRaw = col(textCol)
    val (df, toks, tmp): (DataFrame, Column, Seq[String]) =
      if (toksCol.nonEmpty) (df0, col(toksCol), Seq.empty[String])
      else (df0.withColumn("_li_toks", Dedup.tokens(textRaw)),
        col("_li_toks"), Seq("_li_toks"))
    val hitCols = StopLists.map { case (lang, words) =>
      s"_li_h_$lang" -> size(filter(toks, t => t.isin(words: _*)))
    }
    val scCols = ScriptRanges.map { case (k, r) =>
      s"_li_s_$k" -> size(regexp_extract_all(textRaw, lit(r), lit(0)))
    }
    val hits = StopLists.map { case (lang, _) =>
      lang -> col(s"_li_h_$lang")
    }
    val sc = ScriptRanges.map { case (k, _) =>
      k -> col(s"_li_s_$k")
    }.toMap
    df.withColumns((hitCols ++ scCols).toMap)
      .withColumn(out, langDecision(textRaw, hits, sc))
      .drop(tmp ++ (hitCols ++ scCols).map(_._1): _*)
  }

  /** Quality features: length, token stats, character-class ratios,
    * stopword ratio — the usual pretraining-corpus filters.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val len = length(text).cast("double")
    val toks = tokenCount(text).cast("double")
    val letters = length(regexp_replace(lower(text), "[^a-z]", ""))
      .cast("double")
    val digits = length(regexp_replace(text, "[^0-9]", "")).cast("double")
    val punct = length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))
      .cast("double")
    val stops = stopwordHits(lower(text), StopEn).cast("double")
    Seq(
      "n_chars_m" -> len,
      "n_tokens" -> toks,
      "mean_token_len" ->
        when(toks > 0, round(len / toks, 6)).otherwise(lit(0.0)),
      "alpha_ratio" -> when(len > 0, round(letters / len, 6))
        .otherwise(lit(0.0)),
      "digit_ratio" -> when(len > 0, round(digits / len, 6))
        .otherwise(lit(0.0)),
      "punct_ratio" -> when(len > 0, round(punct / len, 6))
        .otherwise(lit(0.0)),
      "stopword_ratio" -> when(toks > 0, round(stops / toks, 6))
        .otherwise(lit(0.0)))
  }

  /** Composite quality score in [0,1] (deterministic linear blend). */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    round(least(lit(1.0), greatest(lit(0.0),
      f("alpha_ratio") * 0.5 + f("stopword_ratio") * 0.3 +
        when(f("n_tokens") >= 20, 0.2).otherwise(f("n_tokens") / 100.0))), 6)
  }

  /** Character-level Shannon entropy of the text, in bits/char
    * (rounded to 6 decimals; empty/null-length text → 0.0). A cheap,
    * language-agnostic garble detector: natural prose sits ~3.5–4.5
    * bits/char, base64 blobs and hex dumps ≥ 5.5, single-char spam and
    * padding runs ≈ 0 — the compressibility proxy CCNet-style
    * pipelines gate on without running a compressor. Pure per-row
    * Columns, no shuffle, no UDF.
    *
    * Shape: the distinct alphabet is extracted once (O(len) array),
    * then each of the ≤|alphabet| distinct characters costs one
    * `replace` scan — O(len·|alphabet|) per row with |alphabet|
    * bounded by the script (~10² for real text), not the document.
    * The entropy fold runs over BINARY-sorted distinct characters so
    * the DuckDB oracle replays the identical summation order; the
    * trailing `+ 0.0` canonicalizes -0.0 (single-char texts).
    */
  def charEntropy(text: Column): Column = {
    val n = length(text)
    val nd = n.cast("double")
    val ds = array_sort(array_distinct(
      transform(sequence(lit(1), greatest(n, lit(1))),
        i => text.substr(i, lit(1)))))
    val s = aggregate(
      transform(ds, ch => {
        val c = (n - length(replace(text, ch))).cast("double")
        (c / nd) * log2(c / nd)
      }),
      lit(0.0), (acc, t) => acc + t)
    when(n.isNull || n <= 0, lit(0.0))
      .otherwise(round(-s, 6) + lit(0.0))
  }

  /** Shannon entropy of the whitespace-token distribution, in
    * bits/token (rounded to 6 decimals; tokenless text → 0.0). The
    * type/token structure signal charEntropy can't see: a page that
    * repeats "buy cheap meds now" 200 times has normal char entropy
    * but near-zero token entropy, while healthy prose lands around
    * log2(type count) minus the Zipf mass concentration. Complements
    * the Gopher repetition fractions with a single scale-free number.
    *
    * Shape: tokens hash to int64 ([[graft.ops.Dedup.tokHash]], the
    * oracle-portable md5 prefix), the hash array sorts, and ONE
    * run-length fold (struct accumulator: previous hash, run length,
    * entropy sum) computes all term contributions — O(n log n) per
    * row, never the O(n·distinct) filter-per-type form that goes
    * quadratic on all-distinct documents. Hash collisions inside one
    * doc merge types (same documented trade as tokenDfStats).
    */
  def tokenEntropy(text: Column): Column = {
    val hs = array_sort(transform(Dedup.tokens(text),
      t => Dedup.tokHash(t).cast("long")))
    val n = size(hs).cast("double")
    def term(c: Column) = (c / n) * log2(c / n)
    def st(prev: Column, cnt: Column, acc: Column) =
      struct(prev.as("prev"), cnt.as("cnt"), acc.as("acc"))
    val folded = aggregate(hs,
      st(lit(0L), lit(0.0), lit(0.0)),
      (s, h) => when(s.getField("cnt") > 0 && h === s.getField("prev"),
          st(s.getField("prev"), s.getField("cnt") + 1.0,
            s.getField("acc")))
        .otherwise(st(h, lit(1.0),
          s.getField("acc") + when(s.getField("cnt") > 0,
            term(s.getField("cnt"))).otherwise(lit(0.0)))),
      s => s.getField("acc") + when(s.getField("cnt") > 0,
        term(s.getField("cnt"))).otherwise(lit(0.0)))
    when(size(hs) <= 0, lit(0.0))
      .otherwise(round(-folded, 6) + lit(0.0))
  }

  /** Per-term Jensen-Shannon drift between two corpora's term
    * distributions (Lin 1991) — the "did the crawl shift" monitor
    * between snapshots / sources / pipeline versions: JSD =
    * ½KL(p‖m) + ½KL(q‖m), m = (p+q)/2, decomposed into PER-TERM
    * contributions so the report names the DRIVERS of the drift, not
    * just a number (Σ contributions = the corpus JSD in bits,
    * bounded [0,1]). Terms absent from one side contribute their
    * full half-KL mass (0·log0 = 0 handles the gap). Round-6 float
    * protocol per term (log2, the q149 precedent); counts and the
    * full-outer term join are vocabulary-sized thin rows.
    */
  def termDrift(a: DataFrame, b: DataFrame, textCol: String)
      : DataFrame = {
    def counts(df: DataFrame, out: String) =
      df.select(explode(Dedup.tokens(col(textCol))).as("term"))
        .groupBy("term").agg(count(lit(1)).cast("long").as(out))
    val j = counts(a, "cnt_a").join(counts(b, "cnt_b"), Seq("term"),
        "full")
      .select(col("term"), coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .localCheckpoint() // totals + per-term pass
    val tot = j.agg(sum(col("cnt_a")).cast("long").as("_na"),
      sum(col("cnt_b")).cast("long").as("_nb"))
    j.crossJoin(broadcast(tot))
      .withColumn("_p", col("cnt_a").cast("double") / col("_na"))
      .withColumn("_q", col("cnt_b").cast("double") / col("_nb"))
      .withColumn("_m", (col("_p") + col("_q")) / lit(2.0))
      .withColumn("jsd_contrib", round(
        (when(col("_p") > 0.0, col("_p") * log2(col("_p") / col("_m")))
          .otherwise(lit(0.0)) +
         when(col("_q") > 0.0, col("_q") * log2(col("_q") / col("_m")))
          .otherwise(lit(0.0))) / lit(2.0), 6))
      .select(col("term"), col("cnt_a"), col("cnt_b"),
        col("jsd_contrib"))
  }

  /** Yule's K (Yule 1944, "The Statistical Study of Literary
    * Vocabulary") per document — the sample-size-robust lexical
    * repetitiveness characteristic: K = 10⁴·(Σ_types tf² − N)/N².
    * Natural prose sits ~60-200; template/keyword-stuffed spam that
    * recycles a tiny vocabulary scores far higher, and K is far less
    * length-sensitive than type/token ratio — the classic
    * lexical-diversity gate next to [[tokenEntropy]] (K weights the
    * REPEATED tail quadratically where entropy saturates). Exact
    * integer milli-K (scale 10⁷) via the same single O(n log n)
    * sorted-hash run-length fold as tokenEntropy — Σtf² accumulates
    * per run, one integer floor at the end; no shuffle.
    */
  def yuleK(text: Column): Column = {
    val hs = array_sort(transform(Dedup.tokens(text),
      t => Dedup.tokHash(t).cast("long")))
    val n = size(hs).cast("long")
    def st(prev: Column, cnt: Column, acc: Column) =
      struct(prev.as("prev"), cnt.as("cnt"), acc.as("acc"))
    val sumSq = aggregate(hs,
      st(lit(0L), lit(0L), lit(0L)),
      (s, h) => when(s.getField("cnt") > 0L && h === s.getField("prev"),
          st(s.getField("prev"), s.getField("cnt") + 1L,
            s.getField("acc")))
        .otherwise(st(h, lit(1L),
          s.getField("acc") +
            s.getField("cnt") * s.getField("cnt"))),
      s => s.getField("acc") + s.getField("cnt") * s.getField("cnt"))
    when(n <= 0L, lit(null).cast("long")).otherwise(
      call_function("div",
        (sumSq - n).cast("decimal(38,0)") * lit(10000000L),
        (n * n).cast("decimal(38,0)")).cast("long"))
  }

  /** Exact content fingerprint: md5 of whitespace-normalized lowercase
    * text (engine-portable).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Term-lexicon gate statistics — banned-word / policy-phrase
    * counting over a document in ONE pass via the native Aho-Corasick
    * kernel ([[graft.functions.AhoCorasickStats]]; the per-term
    * `contains` spelling pays one full text scan per term). Matching
    * is case-insensitive (text is lowercased; callers pass lowercase
    * terms). Appends:
    *   - `term_matches` — all (term, end-position) occurrences,
    *     overlaps included (position-set semantics, oracle-exact);
    *   - `n_terms_hit`  — distinct lexicon terms present;
    *   - `term_flagged` — `n_terms_hit >= minDistinct` (the C4-style
    *     page gate thresholds on distinct terms so one unlucky word
    *     doesn't kill a page).
    * Per-row Columns, no shuffle; the automaton builds once on the
    * driver and ships as a codegen reference (≤64 terms per kernel —
    * larger lexicons chunk into 64-term groups and sum).
    */
  def termGate(df: DataFrame, textCol: String, terms: Seq[String],
      minDistinct: Int = 2): DataFrame = {
    require(terms.nonEmpty, "termGate needs at least one term")
    require(terms.forall(t => t == toLowerAscii(t)),
      "termGate terms must be lowercase (matching lowercases the text)")
    // One automaton per 64-term group (the bitmask kernel's capacity);
    // groups are DISJOINT slices of the distinct term list, so both
    // occurrence counts and distinct-term counts sum exactly across
    // groups — still one text pass per group, not one per term.
    val groups = terms.distinct.grouped(64).toSeq
    val stats = groups.map(g =>
      graft.functions.AhoCorasickStats(lower(col(textCol)), g))
    df.withColumn("term_matches", stats.map(_.getItem(0)).reduce(_ + _))
      .withColumn("n_terms_hit", stats.map(_.getItem(1)).reduce(_ + _))
      .withColumn("term_flagged", col("n_terms_hit") >= minDistinct)
  }

  private def toLowerAscii(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** Corpus-level collocation mining: top-k adjacent-token bigrams by
    * PMI — the phrase-induction primitive (multi-word expressions for
    * a tokenizer vocabulary, AutoPhrase-style seed phrases). PMI(x,y)
    * = log P(xy)/(P(x)P(y)); log is monotone, so ranking by the LIFT
    * ratio c_xy·N/(c_x·c_y) ranks by PMI with no float log at all —
    * `lift_ppm` is that ratio in ppm via exact decimal(38) integral
    * division (engine-portable: DuckDB recomputes it in HUGEINT; at
    * 10^12 tokens the numerator c_xy·N·10^6 overflows bigint, which
    * is why the arithmetic is decimal on BOTH sides).
    *
    * Plan shape: bigram construction is per-row array arithmetic (no
    * position self-join); unigram and bigram counts are two thin
    * hash aggregations; the two count joins key on single tokens
    * (vocabulary-sized, not corpus-sized); top-k is orderBy+limit
    * (TakeOrderedAndProject — per-partition partial top-k, only
    * k·partitions rows reach the driver-side merge). `minCount`
    * guards degenerate high-PMI hapax pairs (two tokens that appear
    * once, together, have maximal PMI and zero evidence).
    */
  /** Sentence-level code-switch detection: split on terminal
    * punctuation ([.!?] + whitespace — RE2-safe, no lookbehind, so
    * the oracle splits identically), language-ID each sentence with
    * [[langId]], and report the per-document mixture — the signal
    * that catches partially-translated pages, foreign boilerplate
    * around native content, and bilingual spam that a whole-document
    * language ID averages away. Majority language = most sentences,
    * ties to the alphabetically first (via one min-of-struct
    * aggregation — no per-doc window). Sentence rows are thin
    * (id, lang); everything else is per-row.
    * Returns (id, n_sents, n_langs, major_lang, mixed).
    */
  def codeSwitchStats(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sents = df.select(col(idCol).as("id"),
        explode(filter(
          transform(split(col(textCol), "[.!?]\\s+"), s => trim(s)),
          s => s =!= "")).as("_sent"))
      .select(col("id"), langId(col("_sent")).as("_slang"))
    val perLang = sents.groupBy(col("id"), col("_slang"))
      .agg(count(lit(1)).as("_c"))
    perLang.groupBy(col("id"))
      .agg(sum(col("_c")).cast("long").as("n_sents"),
        count(lit(1)).cast("long").as("n_langs"),
        // argmax count, tie -> min lang: min over (-count, lang)
        min(struct((-col("_c")).as("nc"), col("_slang").as("l")))
          .getField("l").as("major_lang"))
      .withColumn("mixed", col("n_langs") > 1L)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): rank
    * tokens by PageRank over the adjacent-token co-occurrence graph —
    * undirected (edges materialize in both directions), self-loops
    * dropped, distinct edges: the standard unweighted form. The graph
    * is VOCABULARY-sized (nodes = distinct tokens, edges = distinct
    * adjacent pairs), so the fixpoint runs over thin rows no matter
    * the corpus size; ranking reuses the integer-exact
    * [[graft.ops.WebGraph.pageRank]], so the oracle replays rounds
    * bit-for-bit. Complements [[collocations]]: PMI finds PHRASES
    * (rigid pairs), TextRank finds the corpus's central VOCABULARY
    * (hub words of the co-occurrence topology).
    */
  def textRankKeywords(df: DataFrame, textCol: String,
      iterations: Int = 3, topK: Int = 20): DataFrame = {
    val based = df.select(Dedup.tokens(col(textCol)).as("_tk"))
    val pairs = based.where(size(col("_tk")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("_tk")) - 2),
        i => struct(element_at(col("_tk"), i + 1).as("a"),
          element_at(col("_tk"), i + 2).as("b")))).as("p"))
      .select(col("p.a").as("src"), col("p.b").as("dst"))
      .where(col("src") =!= col("dst"))
      // fence the directed bigrams (one corpus tokenize+explode pass),
      // then fence the deduped edge list: pageRank evaluates its edge
      // input three times (out-degree, degree join, node table) — left
      // unfenced, that is six corpus explode passes and three distinct
      // shuffles; fenced, the corpus is exploded once and the distinct
      // runs once
      .localCheckpoint()
    val edges = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    graft.ops.WebGraph.pageRank(edges, "src", "dst", iterations)
      .orderBy(col("rank_ppb").desc, col("node"))
      .limit(topK)
      .withColumnRenamed("node", "word")
  }

  /** Flesch reading-ease and Flesch-Kincaid grade level (Flesch 1948;
    * Kincaid et al. 1975) as exact integer milli-points — the
    * classic readability quality signals (a C4/Gopher-style gate
    * keeps a band of them: too high = word salad, strongly negative =
    * degenerate run-ons). Syllables per word = vowel-group count
    * ([aeiouy]+ runs, min 1) — the standard programmatic
    * approximation, identical in both engines via regexp_extract_all;
    * sentence split is the corpus-wide [.!?]\s+ convention. The two
    * real-valued formulas are staged as integer DIV milli-arithmetic
    * (the bm25 ppm discipline), so results are engine-exact:
    * fre_milli = 206835 − 1015·words DIV sents − 84600·syll DIV words,
    * fkgl_milli = 390·words DIV sents + 11800·syll DIV words − 15590.
    * Pure per-row Columns — no explode, no shuffle.
    */
  def readability(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sents = filter(
      transform(split(col(textCol), "[.!?]\\s+"), s => trim(s)),
      s => s =!= "")
    def dv(a: Column, b: Column) = call_function("div", a, b)
    df.withColumn("_tk", Dedup.tokens(col(textCol)))
      .withColumn("n_words", size(col("_tk")).cast("long"))
      .withColumn("n_sents",
        greatest(size(sents).cast("long"), lit(1L)))
      .withColumn("n_syllables", aggregate(col("_tk"), lit(0L),
        (acc, w) => acc + greatest(
          size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))), lit(1))
          .cast("long")))
      .withColumn("fre_milli",
        when(col("n_words") === 0L, lit(206835L)).otherwise(
          lit(206835L) - dv(lit(1015L) * col("n_words"), col("n_sents"))
            - dv(lit(84600L) * col("n_syllables"), col("n_words"))))
      .withColumn("fkgl_milli",
        when(col("n_words") === 0L, lit(-15590L)).otherwise(
          dv(lit(390L) * col("n_words"), col("n_sents"))
            + dv(lit(11800L) * col("n_syllables"), col("n_words"))
            - lit(15590L)))
      .select(col(idCol), col("n_words"), col("n_sents"),
        col("n_syllables"), col("fre_milli"), col("fkgl_milli"))
  }

  /** LexRank extractive summarization (Erkan & Radev, JAIR 2004):
    * sentences are nodes, similarity edges connect sentence pairs of
    * the SAME document, centrality = PageRank over the graph, and the
    * summary is each document's `topPerDoc` most central sentences.
    * Similarity is exact-integer: overlap_ppm = |shared distinct
    * tokens|·10^6 DIV (|distinct a| + |distinct b|) — the engine-exact
    * surrogate for LexRank's idf-modified cosine (same zero/nonzero
    * support; documented delta, the bm25 rational-idf discipline).
    * Sentence split is the corpus-wide `[.!?]\s+` convention shared
    * with [[codeSwitchStats]].
    *
    * Scale shape: the union of per-doc sentence graphs runs through
    * ONE integer-exact [[graft.ops.WebGraph.pageRank]] (thin
    * "doc:sidx" nodes — rounds replay bit-for-bit in the oracle); the
    * within-doc pair join is bounded by `maxSentences` (first N, the
    * standard summarization cap — a 10^5-sentence page would
    * otherwise fan 10^10 pairs); top-per-doc is a sharded rank.
    * Sentences with no qualifying edge keep rank 0, so sparse docs
    * deterministically summarize to their first sentences.
    */
  def lexRankSummary(df: DataFrame, idCol: String, textCol: String,
      iterations: Int = 3, topPerDoc: Int = 2,
      minSimPpm: Long = 200000L, maxSentences: Int = 50,
      shards: Int = 0): DataFrame = {
    val sents = df.select(col(idCol).cast("long").as("id"),
        posexplode(filter(
          transform(split(col(textCol), "[.!?]\\s+"), s => trim(s)),
          s => s =!= "")).as(Seq("sidx", "sent")))
      .filter(col("sidx") < maxSentences)
      .withColumn("stoks", array_distinct(Dedup.tokens(col("sent"))))
      .filter(size(col("stoks")) > 0)
      .localCheckpoint() // pair join reads it twice, rank-back once
    val l = sents.select(col("id"), col("sidx").as("ai"),
      col("stoks").as("atk"))
    val r = sents.select(col("id"), col("sidx").as("bi"),
      col("stoks").as("btk"))
    val pairs = l.join(r, Seq("id")).filter(col("ai") < col("bi"))
      .withColumn("_sim", call_function("div",
        size(array_intersect(col("atk"), col("btk"))).cast("long") *
          lit(1000000L),
        (size(col("atk")) + size(col("btk"))).cast("long")))
      .filter(col("_sim") >= minSimPpm)
      .select(
        concat(col("id").cast("string"), lit(":"),
          col("ai").cast("string")).as("src"),
        concat(col("id").cast("string"), lit(":"),
          col("bi").cast("string")).as("dst"))
      // fence the DIRECTED half before the union (the canonicalize
      // discipline): pageRank evaluates its edge input three times
      // (out-degree, degree join, node table) — unfenced, each
      // evaluation re-runs the within-doc sentence pair join; fenced,
      // all three are cheap scans of the materialized pair blocks
      .localCheckpoint()
    val edges = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val ranks = graft.ops.WebGraph.pageRank(edges, "src", "dst",
      iterations)
    val scored = sents
      .withColumn("node", concat(col("id").cast("string"), lit(":"),
        col("sidx").cast("string")))
      .join(ranks, Seq("node"), "left")
      .withColumn("rank_ppb", coalesce(col("rank_ppb"), lit(0L)))
    ScaleWindow.shardedRank(scored, Seq("id"),
        Seq(col("rank_ppb").desc, col("sidx")), "rnk", "_lr_n", shards)
      .filter(col("rnk") <= topPerDoc)
      .select(col("id"), col("sidx").cast("long").as("sidx"),
        col("sent"), col("rank_ppb"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Term burstiness: variance-to-mean ratio of per-document term
    * frequency over the whole corpus (Church & Gale 1995, "Poisson
    * mixtures") — the corpus-linguistics statistic separating CONTENT
    * terms (bursty: absent from most docs, clumped where they appear,
    * VMR ≫ 1) from FUNCTION words (Poisson-ish, VMR ≈ 1); a
    * keyword/stopword-induction signal that needs no stopword list.
    * Exact integer: VMR = (n·Σtf² − cf²) / (n·cf) telescopes to one
    * decimal(38) floor at ppm (zero-count docs contribute nothing to
    * either sum, so only postings rows are touched). Reported for the
    * topK most frequent terms (TakeOrderedAndProject — no global
    * window); df (doc frequency) rides along.
    */
  def termBurstiness(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 20): DataFrame = {
    require(topK > 0)
    val dec = "decimal(38,0)"
    val n = df.agg(count(lit(1)).cast("long").as("_n"))
    Retrieval.postings(df, idCol, textCol)
      .groupBy(col("term"))
      .agg(sum(col("tf")).cast("long").as("cf"),
        sum(col("tf").cast(dec) * col("tf")).cast(dec).as("_stf2"),
        count(lit(1)).cast("long").as("doc_freq"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("cf"), col("doc_freq"),
        call_function("div",
          (col("_n").cast(dec) * col("_stf2") -
            col("cf").cast(dec) * col("cf")) * lit(1000000L),
          col("_n").cast(dec) * col("cf")).cast("long")
          .as("vmr_ppm"))
      .orderBy(col("cf").desc, col("term"))
      .limit(topK)
  }

  /** Term dispersion DP (Gries 2008, "Dispersions and adjusted
    * frequencies in corpus linguistics"): how evenly a term spreads
    * across corpus parts — DP = ½·Σ_p |obs_p − exp_p| with obs_p the
    * part's share of the term's occurrences and exp_p the part's
    * share of the corpus tokens. 0 = perfectly proportional, → 1 =
    * concentrated in one part. The ACROSS-corpus evenness measure
    * complementing [[termBurstiness]] (within-doc clumping): a term
    * can be Poisson within docs yet live in one crawl segment.
    * Parts are `parts` deterministic hash-slot buckets of the doc id
    * ([[Curation.hashSlot]] — engine-stable); exact integer via the
    * common-denominator staging DP_ppm = ⌊Σ_p |tf_p·Σdl − dl_p·cf| ·
    * 10⁶ / (2·cf·Σdl)⌋ — decimal(38) products, ONE floor. Reported
    * for the topK most frequent terms; the per-term part table is
    * `parts` rows.
    */
  def termDispersion(df: DataFrame, idCol: String, textCol: String,
      parts: Int = 10, topK: Int = 20): DataFrame = {
    require(parts >= 2 && topK > 0)
    val dec = "decimal(38,0)"
    val withPart = df.select(
      pmod(Curation.hashSlot(col(idCol), "disp"), lit(parts))
        .as("_part"),
      Dedup.tokens(col(textCol)).as("_tk"))
    val partDl = withPart
      .groupBy(col("_part"))
      .agg(sum(size(col("_tk")).cast("long")).as("_dlp"))
      .localCheckpoint() // joined per term below + total
    val totDl = partDl.agg(sum(col("_dlp")).cast("long").as("_sdl"))
    val tfp = withPart
      .select(col("_part"), explode(col("_tk")).as("term"))
      .groupBy(col("term"), col("_part"))
      .agg(count(lit(1)).cast("long").as("_tfp"))
    val cf = tfp.groupBy(col("term"))
      .agg(sum(col("_tfp")).cast("long").as("cf"))
    // every (term, part) cell — including parts where the term is
    // absent (obs 0, exp > 0 still contributes) — via the part table
    val cells = cf.crossJoin(broadcast(partDl))
      .join(tfp, Seq("term", "_part"), "left")
      .withColumn("_tfp", coalesce(col("_tfp"), lit(0L)))
    cells.crossJoin(broadcast(totDl))
      .groupBy(col("term"), col("cf"), col("_sdl"))
      .agg(sum(abs(col("_tfp").cast(dec) * col("_sdl") -
        col("_dlp").cast(dec) * col("cf"))).cast(dec).as("_num"))
      .select(col("term"), col("cf"),
        call_function("div", col("_num") * lit(1000000L),
          lit(2L).cast(dec) * col("cf") * col("_sdl")).cast("long")
          .as("dp_ppm"))
      .orderBy(col("cf").desc, col("term"))
      .limit(topK)
  }

  /** List-free stopword induction: a term is function-word-like when
    * it is FREQUENT (top-cf candidate set), NON-BURSTY
    * ([[termBurstiness]] VMR ≤ maxVmrPpm — spreads Poisson-ish within
    * docs) and EVENLY DISPERSED ([[termDispersion]] DP ≤ maxDpPpm —
    * spreads across corpus parts). The automatic replacement for the
    * hand-curated lists [[rakeKeywords]]/[[stopwordHits]] consume —
    * per-language lists fall out of running it per language stratum.
    * Pure composition: both statistics ranked by the same
    * (cf desc, term) order, joined on the shared candidate set.
    */
  def induceStopwords(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 30, maxVmrPpm: Long = 3000000L,
      maxDpPpm: Long = 300000L, parts: Int = 10): DataFrame =
    termBurstiness(df, idCol, textCol, topK)
      .join(termDispersion(df, idCol, textCol, parts, topK),
        Seq("term", "cf"))
      .withColumn("stopword",
        col("vmr_ppm") <= maxVmrPpm && col("dp_ppm") <= maxDpPpm)

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010,
    * "Automatic Keyword Extraction from Individual Documents"):
    * candidate phrases are the maximal stopword-free token runs (≤
    * `maxPhraseLen` words), word score = deg(w)/freq(w) over the
    * candidate corpus (deg = Σ candidate length per occurrence — long
    * phrases lift their members), phrase score = Σ member word scores
    * with multiplicity. Exact integer ppm (deg·10^6 DIV freq — no
    * floats anywhere), completing the keyword trio: TextRank (graph
    * centrality), PMI collocations (bigram lift), RAKE (run scoring).
    *
    * Scale shape: the run split is a per-DOC window (bounded by doc
    * length, the G2 segmentation shape); word stats and phrase scores
    * are vocabulary-/phrase-table-sized aggregations of thin rows;
    * top-k is orderBy+limit (TakeOrderedAndProject — per-partition
    * partial top-k, no global window).
    */
  def rakeKeywords(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], maxPhraseLen: Int = 4,
      topK: Int = 30): DataFrame = {
    require(stopwords.nonEmpty && maxPhraseLen > 0 && topK > 0)
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val toks = df.select(col(idCol).as("id"),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("_stop",
        col("tok").isin(stopwords.map(_.toLowerCase): _*))
      .withColumn("_seg",
        sum(col("_stop").cast("int")).over(w))
    val cand = toks.filter(!col("_stop"))
      .groupBy(col("id"), col("_seg"))
      .agg(transform(sort_array(collect_list(
        struct(col("pos"), col("tok")))), s => s.getField("tok"))
        .as("_ptoks"))
      .filter(size(col("_ptoks")) <= maxPhraseLen)
      .select(col("_ptoks"), size(col("_ptoks")).as("_plen"))
      .localCheckpoint() // word stats + phrase table both read it
    val wstats = cand
      .select(explode(col("_ptoks")).as("w"), col("_plen"))
      .groupBy(col("w"))
      .agg(count(lit(1)).cast("long").as("_freq"),
        sum(col("_plen")).cast("long").as("_deg"))
      .withColumn("_ws",
        call_function("div", col("_deg") * lit(1000000L), col("_freq")))
    val phrases = cand
      .groupBy(col("_ptoks"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))
      .withColumn("phrase", array_join(col("_ptoks"), " "))
    phrases
      .select(col("phrase"), col("n_occurrences"),
        posexplode(col("_ptoks")).as(Seq("_wp", "w")))
      .join(wstats.select(col("w"), col("_ws")), Seq("w"))
      .groupBy(col("phrase"), col("n_occurrences"))
      .agg(sum(col("_ws")).cast("long").as("score_ppm"),
        count(lit(1)).cast("long").as("n_words"))
      .orderBy(col("score_ppm").desc, col("phrase"))
      .limit(topK)
  }

  def collocations(df: DataFrame, textCol: String, minCount: Long = 5,
      topK: Int = 50): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    val based = df.select(toks.as("_tk"))
    val uni = based.select(explode(col("_tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val nTok = uni.agg(sum(col("c_w")).cast("long").as("n_tok"))
    val bi = based
      .where(size(col("_tk")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("_tk")) - 2),
        i => struct(element_at(col("_tk"), i + 1).as("w1"),
          element_at(col("_tk"), i + 2).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minCount)
    val scored = bi
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_y")), "w2")
      .crossJoin(nTok)
      .withColumn("lift_ppm", expr(
        """(CAST(c_xy AS DECIMAL(38,0)) * CAST(n_tok AS DECIMAL(38,0))
           * 1000000) div
           (CAST(c_x AS DECIMAL(38,0)) * CAST(c_y AS DECIMAL(38,0)))"""))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(topK)
    // rank over the surviving <= topK rows only (bounded window)
    scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))))
      .select(col("rank").cast("long").as("rank"), col("w1"), col("w2"),
        col("c_xy"), col("c_x"), col("c_y"), col("lift_ppm"))
  }
}
