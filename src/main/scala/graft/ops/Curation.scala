package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/langid/quality: PII redaction, Gopher-style repetition
  * features, corpus-level duplicated-paragraph removal, and URL/host
  * grouping. All per-document work is pure Column expressions
  * (codegen'd, shuffle-free); the one corpus-level operator
  * (dropDuplicatedParagraphs) shuffles only (id, pos, hash) — document
  * text never moves, which is the property that keeps it viable at
  * 100 TB.
  *
  * Every regex here stays inside the shared Java-regex/RE2 subset (no
  * lookaround, no backreferences, ASCII classes) so the DuckDB oracles
  * run the literally identical pattern.
  */
object Curation {

  // ---- PII redaction (C4/CCNet-style pre-training scrub) ----

  /** (kind, pattern, replacement). Order matters: emails first (their
    * host part must not be half-eaten by the IP rule), then IPs, then
    * phones (which require a leading '+' so they never overlap the
    * other two).
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+[0-9][0-9 ()./-]{6,}[0-9]", "<PHONE>"))

  /** Per-kind match counts on the RAW text (counted before redaction so
    * kinds don't see each other's replacement tags).
    */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (kind, re, _) =>
      s"n_$kind" -> size(regexp_extract_all(text, lit(re), lit(0)))
    }

  /** Text with all PII spans replaced by typed tags. */
  def piiRedact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** Payment-card candidate: 13–19 digits with optional single
    * space/dash separators, word-bounded on both ends (so a longer
    * digit run — a tracking number, a timestamp — can never yield a
    * partial match: every interior cut point fails the boundary).
    */
  val CcCandidateRe = "\\b(?:[0-9][ -]?){12,18}[0-9]\\b"

  /** Luhn checksum over a digits-only string, in pure integer
    * Columns: reverse, double every second digit (−9 past 9), sum
    * mod 10 — no UDF, stays in codegen.
    */
  def luhnValid(digits: Column): Column = {
    val ds = filter(split(reverse(digits), ""), c => c =!= "")
    val terms = transform(ds, (c, i) => {
      val d = c.cast("int")
      when(i % 2 === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    aggregate(terms, lit(0), (a, x) => a + x) % 10 === 0
  }

  /** The Luhn-VALIDATED card spans of a text (raw spellings,
    * separators included). A bare card regex is mostly false
    * positives — order ids, tracking numbers, timestamps — but a
    * random digit string passes the Luhn checksum only 10% of the
    * time, so validation cuts the false-positive rate 10× while
    * never missing a real card (every issued card number is
    * Luhn-valid by construction).
    */
  def ccValidSpans(text: Column): Column =
    filter(regexp_extract_all(text, lit(CcCandidateRe), lit(0)),
      c => luhnValid(regexp_replace(c, "[ -]", "")))

  /** Text with validated card spans replaced by `<CC>` (invalid
    * candidates untouched). Per-row Columns, no shuffle.
    *
    * The replacement is a `\b`-anchored regexp (spans match
    * [[CcCandidateRe]], so they contain only `[0-9 -]` — regex-safe
    * verbatim), mirroring the candidate regex's own boundaries: a
    * validated card that ALSO occurs as a substring of a longer digit
    * run elsewhere in the text (which the candidate regex deliberately
    * excluded there) is NOT redacted at that embedded occurrence —
    * a plain literal replace would corrupt it.
    */
  def ccRedact(text: Column): Column =
    aggregate(ccValidSpans(text), text,
      (acc, c) => regexp_replace(acc,
        concat(lit("\\b"), c, lit("\\b")), lit("<CC>")))

  // ---- Gopher-style repetition / structural features ----

  /** Non-blank trimmed lines. */
  def docLines(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")

  /** Duplicate-line fraction (integer ppm) over an already-computed
    * line array — the gate's repetition signal, factored out so a
    * corpus scan can materialize `docLines` once and feed it here
    * instead of re-splitting per reference (see gateStage).
    */
  def dupLinePpm(ls: Column): Column = {
    val n = size(ls).cast("long")
    val nDup = (size(ls) - size(array_distinct(ls))).cast("long")
    when(n > 0, (nDup * 1000000L) / n).otherwise(lit(0L)).cast("long")
  }

  /** Repetition and symbol features from the Gopher quality-filter
    * family (Rae et al. 2021, public): duplicate-line fraction,
    * fraction of characters in duplicate lines, bullet-line fraction,
    * ellipsis-line fraction, symbol-to-word ratio. All ratios are
    * integer ppm (×1e6, integer division) for float-free oracle parity.
    *
    * dup chars are counted against first occurrences via
    * `array_distinct` (which keeps firsts) — no index juggling, one
    * pass, same trick on the DuckDB side.
    */
  def repetitionFeatures(text: Column): Seq[(String, Column)] = {
    val ls = docLines(text)
    val n = size(ls).cast("long")
    val chars = aggregate(ls, lit(0L), (a, x) => a + length(x).cast("long"))
    val firstChars = aggregate(array_distinct(ls), lit(0L),
      (a, x) => a + length(x).cast("long"))
    val dupChars = chars - firstChars
    val bullets = size(filter(ls, l => l.rlike("^[-*•]"))).cast("long")
    val ellipsisLines = size(filter(ls, l => l.rlike("\\.\\.\\.$"))).cast("long")
    val hashes = (length(text) - length(regexp_replace(text, "#", "")))
      .cast("long")
    val ellipses = size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0)))
      .cast("long")
    val toks = TextAnalysis.tokenCount(text).cast("long")
    // integer ppm, same formula as q19 (long multiply, cast-truncated
    // divide — exact below 2^53, matches DuckDB's // on non-negatives)
    def ppm(num: Column, den: Column): Column =
      when(den > 0, (num * 1000000L) / den).otherwise(lit(0L)).cast("long")
    Seq(
      "n_lines" -> n,
      "dup_line_ppm" -> dupLinePpm(ls),
      "dup_char_ppm" -> ppm(dupChars, chars),
      "bullet_ppm" -> ppm(bullets, n),
      "ellipsis_ppm" -> ppm(ellipsisLines, n),
      "symbol_ppm" -> ppm(hashes + ellipses, toks))
  }

  /** Fraction (integer ppm) of the document's characters covered by
    * occurrences of its most frequent word n-gram — the remaining
    * Gopher repetition signal (top-2/3/4-gram char fraction). Computed
    * per row with no shuffle: sort the gram array, then a run-length
    * fold tracks the best (occurrences × gram length). The oracle
    * computes the same value relationally (unnest → count → max) —
    * same number, different shape, which is fine: oracles check
    * results, not plans.
    */
  def topNgramCharPpm(text: Column, n: Int = 2): Column = {
    val toks = Dedup.tokens(text)
    val grams = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"))
    val best = aggregate(array_sort(grams), zero,
      (s, g) => {
        val run = when(g === s.getField("prev"), s.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(s.getField("best"), run * length(g).cast("long"))
            .as("best"))
      },
      s => s.getField("best"))
    when(length(text) > 0, (best * 1000000L) / length(text))
      .otherwise(lit(0L)).cast("long")
  }

  // ---- C4-style line + document cleaning (Raffel et al. 2020) ----

  /** The C4 cleaning pass (Raffel et al. 2020 §2.2, public): keep only
    * lines that end in a terminal punctuation mark (`.` `!` `?` `"`),
    * carry at least `minLineWords` whitespace words, and don't mention
    * "javascript" (case-insensitive); then judge the whole page —
    * `kept` is false when the cleaned text has fewer than
    * `minSentences` sentences, or the ORIGINAL page contains
    * "lorem ipsum" (case-insensitive) or a curly brace (code leak).
    * C4 drops such pages outright; like the other graft gates this
    * returns a verdict row per document and lets the caller filter,
    * so gate stats stay derivable.
    *
    * Sentence counting delta vs the paper: C4 ran a sentence splitter;
    * here a sentence is a `.` `!` or `?` occurrence in the CLEANED
    * text — deterministic, engine-portable, and monotone in the same
    * signal. Scale shape: one per-row line fold, pure Columns — no
    * explode, no shuffle, no UDF.
    *
    * Returns the id plus (clean_text, n_lines_kept, n_lines_dropped,
    * n_sentences, kept).
    */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 3, minSentences: Int = 5): DataFrame = {
    val text = col(textCol)
    def lineOk(l: Column): Column = {
      val t = trim(l)
      t.rlike("[.!?\"]$") &&
        size(split(t, "\\s+")) >= minLineWords &&
        !lower(t).contains("javascript")
    }
    val lines = split(text, "\n")
    val keptLines = filter(lines, lineOk _)
    val clean = array_join(transform(keptLines, l => trim(l)), "\n")
    val nSent = (length(clean) -
      length(regexp_replace(clean, "[.!?]", ""))).cast("long")
    df.select(col(idCol),
        clean.as("clean_text"),
        size(keptLines).cast("long").as("n_lines_kept"),
        (size(lines) - size(keptLines)).cast("long")
          .as("n_lines_dropped"),
        nSent.as("n_sentences"),
        (nSent >= minSentences &&
          !lower(text).contains("lorem ipsum") &&
          !text.contains("{")).as("kept"))
  }

  // ---- corpus-level duplicated-paragraph removal (RefinedWeb-style) ----

  /** Non-blank trimmed paragraphs (split on blank lines). */
  def paragraphs(text: Column): Column =
    filter(transform(split(text, "\\n{2,}"), p => trim(p)), p => p =!= "")

  /** Remove paragraphs that appear (by exact md5) in >= `minDocs`
    * distinct documents — the standard "boilerplate paragraph" scrub
    * run corpus-wide after per-page extraction.
    *
    * Scale shape: paragraphs are hashed in the same projection that
    * explodes them, so the only shuffled rows are (id, pos, hash) and
    * the per-doc drop-position sets — document text itself never
    * shuffles. The duplicate-hash table is produced by a partial-agg
    * groupBy on the hash; the drop sets rejoin on the (already
    * partitioned) id.
    *
    * Returns the input plus `n_paras`, `n_dropped`, `clean_text`.
    */
  def dropDuplicatedParagraphs(df: DataFrame, idCol: String,
      textCol: String, minDocs: Int = 2): DataFrame =
    dropDuplicatedParagraphsFromParas(
      df.withColumn("_paras", paragraphs(col(textCol))), idCol, "_paras",
      minDocs).drop("_paras")

  /** [[dropDuplicatedParagraphs]] over an ALREADY-SPLIT paragraph-array
    * column. The operator's plan references its input twice (the thin
    * (id,pos,hash) branch and the join-back branch), so when the input
    * is an unmaterialized projection the paragraph split of the full
    * text runs twice; feeding a materialized array (e.g. from the
    * curation gate's checkpoint) makes both branches a cheap attribute
    * read. Returns the input plus `n_paras`, `n_dropped`, `clean_text`.
    */
  def dropDuplicatedParagraphsFromParas(withP: DataFrame, idCol: String,
      parasCol: String, minDocs: Int = 2): DataFrame = {
    val thin = withP
      .select(col(idCol), posexplode(col(parasCol)).as(Seq("_pos", "_para")))
      .select(col(idCol), col("_pos"), md5(col("_para")).as("_ph"))
    // skew-safe exact distinct count: a viral paragraph (footer text
    // shared by a large fraction of the corpus) is the canonical hot
    // key here — Skew.saltedDistinctCount spreads it over 64 reducers
    val dup = Skew.saltedDistinctCount(thin, col("_ph"), col(idCol),
        buckets = 64, out = "_nd")
      .withColumnRenamed("_k", "_ph")
      .filter(col("_nd") >= minDocs)
      .select(col("_ph"))
    val dropPos = thin.join(dup, "_ph")
      .groupBy(col(idCol)).agg(collect_set(col("_pos")).as("_drop"))
    withP.join(dropPos, Seq(idCol), "left")
      .withColumn("_drop",
        coalesce(col("_drop"), array().cast("array<int>")))
      .withColumn("clean_paras",
        filter(col(parasCol), (p, i) => !array_contains(col("_drop"), i)))
      .withColumn("n_paras", size(col(parasCol)))
      .withColumn("n_dropped", size(col("_drop")))
      .withColumn("clean_text", array_join(col("clean_paras"), "\n\n"))
      .drop("_drop", "clean_paras")
  }

  // ---- exact-substring scrub (duplicated n-gram span removal) ----

  /** Remove every token covered by a word n-gram occurring in
    * >= `minDocs` distinct documents — the corpus-level exact-substring
    * scrub (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") at token granularity.
    *
    * The n-gram coverage mask is EXACT, not an approximation, for the
    * semantics "remove every token inside a cross-document duplicated
    * substring of length >= n": (⇐) a duplicated n-gram is itself such
    * a substring; (⇒) for any duplicated substring s of length L >= n,
    * every token position j inside s is covered by the n-gram starting
    * at max(start(s), j-n+1), which lies fully within s and therefore
    * recurs wherever s does. So the union of duplicated-n-gram windows
    * equals the union of duplicated >=n-token spans — which is why a
    * distributed suffix array (global order over 100 TB of text, log n
    * shuffle rounds of prefix doubling) buys nothing here: one narrow
    * gram-hash pass computes the same mask. The claim is pinned by an
    * OpsSpec parity test against a brute-force ALL-spans oracle (every
    * (start, len>=n) span counted by distinct-doc text occurrence —
    * the set a suffix array + LCP walk yields) on a corpus with
    * nested/overlapping/boundary/within-doc-only plants. The remaining deltas vs the
    * paper, all policy not fidelity: token instead of byte granularity;
    * ALL copies of a duplicated span are scrubbed (the paper keeps one
    * occurrence — here exact/near dedup stages own survivor choice);
    * and only CROSS-document repeats count (a span repeated twice
    * inside one document is [[dedupLinesWithinDoc]]'s department).
    *
    * The proof above is at STRING level; this implementation compares
    * grams by the 32-bit portable `Dedup.tokHash` (kept so the DuckDB
    * oracle can replicate it bit-for-bit), which saturates long before
    * 10^12 grams — at corpus scale use [[dropDuplicatedSpansConfirmed]],
    * which restores exact string semantics at any size by confirming
    * candidates on the gram text itself.
    *
    * Scale shape mirrors [[dropDuplicatedParagraphs]]: gram hashes are
    * computed in the same per-row projection that explodes them, so
    * only thin (id, pos, hash) rows shuffle — text never moves; the
    * duplicated-gram table is a skew-salted distinct-doc count (a
    * viral boilerplate sentence is the canonical hot key); per-doc
    * flagged-start sets rejoin on id and the covered-token mask is
    * pure per-row array arithmetic.
    *
    * Returns the input plus `n_tokens`, `n_removed`, `removed_ppm`
    * (integer ppm) and `clean_text`.
    */
  def dropDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2,
      hashFn: Column => Column = Dedup.tokHash): DataFrame = {
    require(n > 0 && minDocs > 1)
    val (withT, thin) = gramStarts(df, idCol, textCol, n, hashFn)
    val dup = Skew.saltedDistinctCount(thin, col("_gh"), col(idCol),
        buckets = 64, out = "_nd")
      .withColumnRenamed("_k", "_gh")
      .filter(col("_nd") >= minDocs)
      .select(col("_gh"))
    scrubFlagged(withT, thin.join(dup, "_gh"), idCol, n, textCol)
  }

  /** [[dropDuplicatedSpans]] with STRING-level confirmation of every
    * flagged gram — the output equals the pure string semantics "scrub
    * tokens covered by a word n-gram whose exact TEXT occurs in >=
    * `minDocs` docs", with no hash-collision false positives at any
    * corpus size.
    *
    * Why it exists: the hash-only form flags gram HASHES duplicated
    * across docs. Any fixed-width hash space saturates at the design
    * scale — 10^12 grams against the 32-bit portable `Dedup.tokHash`
    * means essentially EVERY hash value recurs and the mask degrades
    * to scrubbing everything; even 64 bits yields ~3×10^4 colliding
    * pairs (birthday bound (10^12)^2 / 2^65), each one silently
    * deleting innocent text from every doc holding the unlucky gram.
    *
    * Shape: (1) hash-prefilter exactly as [[dropDuplicatedSpans]] but
    * on `prefilterHash` (default xxhash64 — 64-bit, codegen'd; the
    * 32-bit portable hash would pass everything at scale and is
    * deliberately NOT the default); (2) rebuild gram STRINGS only at
    * candidate positions — an inner join, so only docs holding a
    * candidate re-materialize any gram text, and the string shuffle is
    * sized by true-duplicate volume + the tiny collision set, never
    * the corpus; (3) re-count distinct docs BY STRING and scrub only
    * confirmed positions. Supersetting is guaranteed (equal strings
    * hash equal), so no true duplicate can be lost in stage 1.
    */
  def dropDuplicatedSpansConfirmed(df: DataFrame, idCol: String,
      textCol: String, n: Int = 8, minDocs: Int = 2,
      prefilterHash: Column => Column = xxhash64(_)): DataFrame = {
    require(n > 0 && minDocs > 1)
    val (withT, thin) = gramStarts(df, idCol, textCol, n, prefilterHash)
    val candHash = Skew.saltedDistinctCount(thin, col("_gh"), col(idCol),
        buckets = 64, out = "_nd")
      .withColumnRenamed("_k", "_gh")
      .filter(col("_nd") >= minDocs)
      .select(col("_gh"))
    // candidate start positions per doc (hash-level: true duplicates
    // plus collision false positives)
    val candPos = thin.join(candHash, "_gh")
      .groupBy(col(idCol)).agg(collect_set(col("_pos")).as("_cps"))
    // gram text re-materialized ONLY at candidate positions
    val candStr = withT.join(candPos, Seq(idCol))
      .select(col(idCol), explode(col("_cps")).as("_pos"), col("_stoks"))
      .select(col(idCol), col("_pos"),
        array_join(slice(col("_stoks"), col("_pos") + 1, lit(n)), " ")
          .as("_g"))
    val dupStr = Skew.saltedDistinctCount(candStr, col("_g"), col(idCol),
        buckets = 64, out = "_nd2")
      .withColumnRenamed("_k", "_g")
      .filter(col("_nd2") >= minDocs)
      .select(col("_g"))
    scrubFlagged(withT,
      candStr.join(dupStr, "_g").select(col(idCol), col("_pos")),
      idCol, n, textCol)
  }

  /** Tokenize + enumerate 0-based gram start positions and their
    * engine-portable hashes, hashed in the same per-row projection
    * that explodes them (text never enters the thin frame). Returns
    * (tokenized input, thin (idCol, _pos, _gh) frame).
    */
  /** Suffix-array-grade exact-substring scrub — [[SuffixArray]]'s
    * machinery composed into the curation flow: scrub every token
    * inside a substring of >= `n` tokens that occurs at least TWICE in
    * the corpus — ANY two positions, so within-document repeats count
    * (Lee et al. 2022's actual semantics), where
    * [[dropDuplicatedSpans]] implements the cross-document
    * (`minDocs` distinct docs) relaxation. Exact at any corpus size by
    * construction: suffix ranks compare CONTENT, so there is no
    * fixed-width gram-hash space to saturate (the failure mode
    * [[dropDuplicatedSpansConfirmed]] exists to patch).
    *
    * Coverage algebra is shared with the n-gram form (scrubFlagged):
    * a duplicated-position row (p, dup_len >= n) flags the window
    * [p, p+n); [[SuffixArray.duplicatedPositionsFromSa]] returns every
    * start p..p+L-n of a length-L duplicated span, and the union of
    * their windows covers exactly [p, p+L).
    *
    * The SA build is the expensive pass (log2 maxDocLen thin shuffle
    * rounds); pass `prebuiltSa` (the build-once artifact of
    * [[SuffixArray.saWithLcp]], fenced by the caller) to reuse one
    * construction across scrub configs or downstream consumers.
    */
  def dropDuplicatedSpansSa(df: DataFrame, idCol: String,
      textCol: String, n: Int = 8, shards: Int = 0,
      prebuiltSa: Option[DataFrame] = None): DataFrame = {
    require(n > 0)
    val withT = df.withColumn("_stoks", Dedup.tokens(col(textCol)))
    val sa = prebuiltSa.getOrElse(
      SuffixArray.saWithLcp(df, idCol, textCol, shards)
        .localCheckpoint())
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    val flagged = SuffixArray.duplicatedPositionsFromSa(sa, n)
      .select(col("id").cast(idType).as(idCol),
        col("pos").cast("int").as("_pos"))
    scrubFlagged(withT, flagged, idCol, n, textCol)
  }

  private def gramStarts(df: DataFrame, idCol: String, textCol: String,
      n: Int,
      hashFn: Column => Column = Dedup.tokHash): (DataFrame, DataFrame) = {
    val withT = df.withColumn("_stoks", Dedup.tokens(col(textCol)))
    val len = size(col("_stoks"))
    // a doc shorter than n has no grams
    val posSeq = when(len >= n, sequence(lit(0), len - n))
      .otherwise(array().cast("array<int>"))
    val ghArr = transform(posSeq, i =>
      hashFn(array_join(slice(col("_stoks"), i + 1, lit(n)), " ")))
    val thin = withT.withColumn("_ghs", ghArr)
      .select(col(idCol), posexplode(col("_ghs")).as(Seq("_pos", "_gh")))
    (withT, thin)
  }

  /** Remove every token covered by a flagged gram start: collect the
    * per-doc flagged starts from `flaggedThin` (any subset of the thin
    * frame), rejoin on id, and apply the coverage mask as pure per-row
    * array arithmetic. Appends n_tokens / n_removed / removed_ppm /
    * clean_text. A document with ZERO removed tokens keeps its
    * ORIGINAL text verbatim (`textCol`): the token-rebuild form
    * normalizes case and whitespace, and silently normalizing the
    * untouched 99% of the corpus would collapse whitespace-distinct
    * docs into exact dups at the next dedup stage.
    */
  private def scrubFlagged(withT: DataFrame, flaggedThin: DataFrame,
      idCol: String, n: Int, textCol: String): DataFrame = {
    val len = size(col("_stoks"))
    val dropPos = flaggedThin
      .groupBy(col(idCol)).agg(collect_set(col("_pos")).as("_fp"))
    val idx = when(len > 0, sequence(lit(0), len - 1))
      .otherwise(array().cast("array<int>"))
    withT.join(dropPos, Seq(idCol), "left")
      .withColumn("_fp",
        coalesce(col("_fp"), array().cast("array<int>")))
      // token j is covered iff some flagged gram start p has p<=j<p+n
      .withColumn("_keep", filter(idx,
        j => !exists(col("_fp"), p => p <= j && j < p + n)))
      .withColumn("n_tokens", len.cast("long"))
      .withColumn("n_removed", (len - size(col("_keep"))).cast("long"))
      .withColumn("removed_ppm",
        when(col("n_tokens") > 0,
          (col("n_removed") * 1000000L) / col("n_tokens"))
          .otherwise(lit(0L)).cast("long"))
      .withColumn("clean_text",
        when(col("n_removed") === 0L, col(textCol))
          .otherwise(array_join(
            transform(col("_keep"), j => element_at(col("_stoks"), j + 1)),
            " ")))
      .drop("_stoks", "_ghs", "_fp", "_keep")
  }

  /** Within-document repeated-line removal, first occurrence kept —
    * the intra-doc half of a RefinedWeb-style line dedup (navigation
    * menus and cookie banners repeat VERBATIM inside one page long
    * before they repeat across pages). Pure per-row array Columns:
    * no shuffle, no state; line j survives iff it is the first
    * occurrence of its trimmed text.
    *
    * Returns (n_lines, n_line_dupes, clean_text) appended to the input.
    */
  def dedupLinesWithinDoc(df: DataFrame, textCol: String): DataFrame = {
    val ls = docLines(col(textCol))
    val dl = df.withColumn("_ls", ls)
    val nl = size(col("_ls"))
    val idx = when(nl > 0, sequence(lit(0), nl - 1))
      .otherwise(array().cast("array<int>"))
    // array_position = 1-based FIRST index of the value
    val keep = filter(idx, i =>
      array_position(col("_ls"), element_at(col("_ls"), i + 1)) === (i + 1).cast("long"))
    dl.withColumn("_kl", keep)
      .withColumn("n_lines", nl.cast("long"))
      .withColumn("n_line_dupes", (nl - size(col("_kl"))).cast("long"))
      .withColumn("clean_text", array_join(
        transform(col("_kl"), i => element_at(col("_ls"), i + 1)), "\n"))
      .drop("_ls", "_kl")
  }

  /** Cross-page per-HOST boilerplate line removal — the other half of
    * the line-dedup story (cf. [[dedupLinesWithinDoc]]): navigation
    * menus, cookie banners and footers repeat VERBATIM across the
    * pages of one site, so a line present in ≥ `minDocPpm` of a host's
    * documents (and ≥ `minDocs` absolute) is template, not content —
    * the C4/CCNet-style site-template scrub.
    *
    * Scale shape (the q55 span-scrub pattern): the statistics pass
    * shuffles only thin (host, md5(line)) rows — each line hashed once
    * per containing DOC via a per-row `array_distinct`, so the count
    * is document frequency with no (host, line, id) triple shuffle and
    * full map-side combine. The per-host template set is then capped
    * at `maxLines` hashes (highest-df first, ties by hash — capped AND
    * ACCOUNTED via `n_bl_dropped`, never silent) so it is
    * broadcast-row-sized by construction, and document text moves only
    * through the single 1:1 host join; the scrub itself is a per-row
    * higher-order filter. A document with nothing removed keeps its
    * ORIGINAL text byte-for-byte (the round-3 span-scrub lesson:
    * rebuilds must not normalize untouched docs).
    *
    * `broadcastTemplates` (default true) broadcasts the per-host
    * template table so the text side NEVER shuffles — right whenever
    * hosts-with-templates × 64 hashes fits the driver (most corpora:
    * only template-heavy hosts clear the df threshold). At
    * billions-of-hosts scale pass false: docs shuffle ONCE on host
    * (accepting per-host skew, which [[graft.ops.Skew]] salting can't
    * help here because the join key must be the host).
    *
    * Returns (idCol, hostCol, n_lines, n_removed, n_bl_dropped,
    * clean_text).
    */
  def hostBoilerplateScrub(df: DataFrame, idCol: String, hostCol: String,
      textCol: String, minDocPpm: Long = 600000L, minDocs: Long = 2L,
      maxLines: Int = 64, broadcastTemplates: Boolean = true)
      : DataFrame = {
    val lines = split(col(textCol), "\n")
    // document frequency per (host, line-hash): distinct WITHIN the
    // doc first, so the exploded rows are one per (doc, distinct line)
    val df0 = df.select(col(hostCol),
      explode(array_distinct(transform(lines, l => md5(l)))).as("_lh"))
      .groupBy(col(hostCol), col("_lh"))
      .agg(count(lit(1)).as("_cnt"))
    val hostDocs = df.groupBy(col(hostCol))
      .agg(count(lit(1)).as("_hn"))
    // template set per host, capped + accounted
    val bl = df0.join(hostDocs, Seq(hostCol))
      .filter(col("_cnt") * lit(1000000L) >= lit(minDocPpm) * col("_hn")
        && col("_cnt") >= lit(minDocs))
      .groupBy(col(hostCol))
      .agg(sort_array(collect_list(struct((-col("_cnt")).as("_nc"),
        col("_lh")))).as("_all"))
      .select(col(hostCol),
        transform(slice(col("_all"), 1, maxLines), s => s("_lh"))
          .as("_bl"),
        greatest(lit(0), size(col("_all")) - lit(maxLines))
          .cast("long").as("n_bl_dropped"))
    val blSide = if (broadcastTemplates) broadcast(bl) else bl
    val joined = df.join(blSide, Seq(hostCol), "left")
      .withColumn("_bls", coalesce(col("_bl"),
        array().cast("array<string>")))
    val kept = filter(lines, l => !array_contains(col("_bls"), md5(l)))
    joined
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_removed", (size(lines) - size(kept)).cast("long"))
      .select(col(idCol), col(hostCol), col("n_lines"), col("n_removed"),
        coalesce(col("n_bl_dropped"), lit(0L)).as("n_bl_dropped"),
        when(col("n_removed") === 0L, col(textCol))
          .otherwise(array_join(kept, "\n")).as("clean_text"))
  }

  // ---- composed curation pipeline ----

  /** The conf `GraftSession`, Bench and Verify set on every session
    * (see curate's scaladoc); a user embedding the library in their
    * own session can miss it, and the failure mode is a driver OOM
    * minutes later with no pointer back to the cause — so the
    * pipeline checks and warns loudly up front.
    */
  private def warnIfConstraintPropagation(df: DataFrame): Unit =
    if (df.sparkSession.conf
        .get("spark.sql.constraintPropagation.enabled", "true") == "true")
      System.err.println(
        "[graft] WARNING: spark.sql.constraintPropagation.enabled is " +
          "true; the curation gate's multi-level feature projections " +
          "make constraint capture exponential (driver OOM at corpus " +
          "scale). Set it to false — see Curation.curate scaladoc.")

  /** The full training-corpus curation chain, one call:
    *
    *   1. quality gate — language identified (drop "und"), token floor,
    *      duplicate-line ceiling (Gopher-style repetition filter);
    *   2. PII redaction (typed tags);
    *   3. corpus-level duplicated-paragraph removal (boilerplate);
    *   4. exact dedup on the cleaned text (md5 fingerprint, min-id
    *      survivor);
    *   5. MinHash-LSH near-dup dedup + connected-component
    *      canonicalization (min-id survivor per cluster).
    *
    * Returns (idCol, lang, n_tokens, clean_text) for surviving docs.
    *
    * REQUIRED SESSION CONF: `spark.sql.constraintPropagation.enabled=
    * false` (GraftSession, Bench and Verify set it). The gate filter's
    * condition sits above several levels of multi-referenced text-
    * feature projections; constraint propagation substitutes aliases
    * into the constraint set level by level, which materializes the
    * shared expression DAG once per reference path — exponential in the
    * nesting depth (observed: driver OOM at 12 GB capturing constraints
    * for the gate's localCheckpoint on a 500-row input). Nothing here
    * benefits from inferred filters, so the conf is pure win.
    *
    * Scale shape is the sum of its parts, all documented on the
    * individual operators: per-doc stages are pure Column projections;
    * the corpus-level stages shuffle only hashes/ids ((id,pos,hash)
    * for paragraphs, (fp,id) for exact dedup, (band,bucket) for
    * MinHash, (id,label) for the component fixpoint). Full text moves
    * at most once: the deboil drop-set join partitions the corpus by
    * id, and every later corpus-side join (exact-dedup semi-join,
    * near-dup survivor join) joins on that same id partitioning with a
    * thin build side.
    */
  def curate(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 10, maxDupLinePpm: Long = 300000L,
      paraMinDocs: Int = 3, shingleN: Int = 3,
      minEstJaccard: Double = 0.5, maxBucket: Int = 0,
      spanScrubN: Int = 0, spanScrubSa: Boolean = false): DataFrame = {
    // The gate (langId + repetition features + redaction) is the
    // expensive per-doc scan, and the stages below fan out over it
    // (paragraph explode + rejoin, LSH pairs, component fixpoint) —
    // without materialization every downstream action re-runs it
    // (measured 59 s vs 8 s at sf0.1). localCheckpoint, not persist,
    // for the same plan-equality-cache reason as Dedup.canonicalize;
    // curateStaged is the same chain with durable parquet stages
    // instead — the form a resumable 100 TB job runs.
    warnIfConstraintPropagation(df)
    val gate = gateStage(df, idCol, textCol, minTokens, maxDupLinePpm)
      .localCheckpoint()
    // deboil is NOT checkpointed: exactStage references it twice (thin
    // fingerprint branch + corpus branch), but ReuseExchange dedupes
    // the recomputed branches' identical shuffles, the deboil join's
    // id-partitioning is statically visible to the semi-join (no text
    // shuffle), and skipping the eager materialization barrier beats
    // paying it (only a map-side clean_text projection is recomputed)
    val exact = exactStage(
        spanScrubStage(deboilStage(gate, idCol, paraMinDocs), idCol,
          spanScrubN, sa = spanScrubSa),
        idCol)
      .localCheckpoint()
    nearDupStage(exact, idCol, shingleN, minEstJaccard, maxBucket)
  }

  /** Optional stage 2b: corpus-level exact-substring scrub between the
    * paragraph dedup and the exact dedup (spanScrubN = 0 disables it,
    * the default — it subsumes neither: paragraphs catch whole-block
    * boilerplate cheaper, spans catch sub-paragraph repetition the
    * block hash misses). Runs on the deboiled clean_text so already-
    * removed boilerplate can't re-flag its surroundings.
    * `sa = true` swaps in the suffix-array exact form
    * ([[dropDuplicatedSpansSa]]: any-repeat semantics, no hash space
    * to saturate) for the n-gram cross-document relaxation.
    */
  private[graft] def spanScrubStage(deb: DataFrame, idCol: String,
      spanScrubN: Int, sa: Boolean = false): DataFrame =
    if (spanScrubN <= 0) deb
    else {
      val scrubbed =
        if (sa) dropDuplicatedSpansSa(deb, idCol, "clean_text",
          n = spanScrubN)
        else dropDuplicatedSpans(deb, idCol, "clean_text",
          n = spanScrubN)
      scrubbed.select(col(idCol), col("lang"), col("clean_text"))
    }

  /** `curate` with STAGE-level checkpoint/resume (io.StagedJob): each
    * of the four stages commits its output as a parquet table + atomic
    * marker under `out`; a rerun after a kill reuses every committed
    * stage and recomputes only from the first uncommitted one. The
    * bucket-wave resume of TableIO.runResumable does not apply here —
    * paragraph dedup and near-dup clustering are corpus-global, so the
    * stage is the natural commit unit.
    *
    * @param failAfterStage TEST HOOK: throw (like a kill) after this
    *                       many stages have committed (-1 = never)
    */
  def curateStaged(df: DataFrame, idCol: String, textCol: String,
      out: String, minTokens: Int = 10, maxDupLinePpm: Long = 300000L,
      paraMinDocs: Int = 3, shingleN: Int = 3,
      minEstJaccard: Double = 0.5, maxBucket: Int = 0,
      failAfterStage: Int = -1, spanScrubN: Int = 0,
      auditSplits: Option[Seq[(String, Int)]] = None,
      maxRareBigramPpm: Long = -1L,
      freBandMilli: Option[(Long, Long)] = None,
      spanScrubSa: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    def guard(done: Int): Unit =
      if (failAfterStage == done)
        throw new RuntimeException(s"injected failure after stage $done")
    warnIfConstraintPropagation(df)
    val gate = graft.io.StagedJob.stage(spark, out, "1_gate",
        requiredCols = Seq(idCol, "lang", "_paras")) {
      gateStage(df, idCol, textCol, minTokens, maxDupLinePpm)
    }
    guard(1)
    val deboiled = graft.io.StagedJob.stage(spark, out, "2_deboil",
        requiredCols = Seq(idCol, "lang", "clean_text")) {
      deboilStage(gate, idCol, paraMinDocs)
    }
    guard(2)
    // the scrub/fluency config is CODED INTO the stage names
    // (2b_spanscrub<N>, 2c_fluency<P>, 3_exact_s<N>_f<P>, …):
    // re-running an already-complete output dir with different gating
    // flags must not reuse downstream stages built from
    // differently-gated input — with unsuffixed names the old 3_exact
    // marker would silently win and the final corpus would not match
    // the requested config
    val sfx = (if (spanScrubN <= 0) ""
        else if (spanScrubSa) s"_sa$spanScrubN" else s"_s$spanScrubN") +
      (if (maxRareBigramPpm < 0) "" else s"_f$maxRareBigramPpm") +
      freBandMilli.map { case (lo, hi) => s"_r${lo}_$hi" }.getOrElse("")
    val scrubStage =
      if (spanScrubSa) s"2b_sascrub$spanScrubN"
      else s"2b_spanscrub$spanScrubN"
    val scrubbed =
      if (spanScrubN <= 0) deboiled
      else graft.io.StagedJob.stage(spark, out, scrubStage,
          requiredCols = Seq(idCol, "lang", "clean_text")) {
        spanScrubStage(deboiled, idCol, spanScrubN, sa = spanScrubSa)
      }
    // optional bigram-fluency gate: drop garble BEFORE the expensive
    // LSH stages (rare-transition fraction over the corpus-trained
    // bigram model — the CCNet-perplexity-tail analogue)
    val fluent =
      if (maxRareBigramPpm < 0) scrubbed
      else graft.io.StagedJob.stage(spark, out,
          s"2c_fluency$maxRareBigramPpm",
          requiredCols = Seq(idCol, "lang", "clean_text")) {
        bigramFluency(scrubbed, idCol, "clean_text")
          .filter(col("rare_bigram_ppm") <= maxRareBigramPpm)
          .select(col(idCol), col("lang"), col("clean_text"))
      }
    // optional readability band gate: the Flesch reading-ease window
    // (too high = word salad, strongly negative = degenerate run-ons)
    // — per-row, so it rides BEFORE the LSH stages like the fluency
    // gate; config coded into the stage name per the resume contract
    val readable = freBandMilli match {
      case None => fluent
      case Some((lo, hi)) =>
        graft.io.StagedJob.stage(spark, out, s"2d_read${lo}_$hi",
            requiredCols = Seq(idCol, "lang", "clean_text")) {
          val fre = TextAnalysis
            .readability(fluent, idCol, "clean_text")
            .select(col(idCol), col("fre_milli"))
          fluent.join(fre, Seq(idCol))
            .filter(col("fre_milli") >= lo && col("fre_milli") <= hi)
            .select(col(idCol), col("lang"), col("clean_text"))
        }
    }
    val exact = graft.io.StagedJob.stage(spark, out, s"3_exact$sfx") {
      exactStage(readable, idCol)
    }
    guard(3)
    // with an audit requested, the LSH candidate pairs become their own
    // committed stage so ONE candidate-generation pass serves both the
    // near-dup dedup and the final leakage audit
    val pairsOpt = auditSplits.map { _ =>
      graft.io.StagedJob.stage(spark, out, s"4a_pairs$sfx") {
        Dedup.minhashLshPairs(exact, idCol, "clean_text",
          k = 16, bands = 8, minEstJaccard = minEstJaccard,
          shingleN = shingleN, maxBucket = maxBucket)
      }
    }
    val curated = graft.io.StagedJob.stage(spark, out, s"4_neardup$sfx") {
      nearDupStage(exact, idCol, shingleN, minEstJaccard, maxBucket,
        pairsOpt)
    }
    guard(4)
    // optional final stage: split-leakage audit from the SAME pairs —
    // before_dedup = the raw exact-stage corpus (leakage the dedup must
    // remove), after_dedup = pairs whose BOTH endpoints survived (must
    // show zero cross-split rows if dedup-before-split worked)
    auditSplits.foreach { splits =>
      graft.io.StagedJob.stage(spark, out, s"5_leakage$sfx") {
        val pairs = pairsOpt.get
        val before = splitLeakageAuditFromPairs(pairs, splits)
          .withColumn("scope", lit("before_dedup"))
        val surviving = pairs
          .join(curated.select(col(idCol).as("_la")),
            col("a") === col("_la"), "leftsemi")
          .join(curated.select(col(idCol).as("_lb")),
            col("b") === col("_lb"), "leftsemi")
        before.unionByName(
          splitLeakageAuditFromPairs(surviving, splits)
            .withColumn("scope", lit("after_dedup")))
      }
    }
    curated
  }

  /** Stage 1: language + repetition gate, then PII redaction.
    * Output: (idCol, lang, _paras) — redacted text as a paragraph array.
    *
    * The scan is the per-doc hot loop of the whole curation chain, so
    * every text-derived array is materialized exactly once per row:
    * the token array feeds both the langId vote (withLangId) and the
    * token floor; the line array feeds the duplicate-line ceiling.
    * (The naive form — langId(txt) + tokenCount(txt) + repetition
    * features as inline Columns — re-tokenizes the text 14+ times per
    * row through the decision tree's repeated references; measured 2.4×
    * slower on the sf0.1 curation input.)
    */
  private[graft] def gateStage(df: DataFrame, idCol: String,
      textCol: String, minTokens: Int, maxDupLinePpm: Long): DataFrame = {
    val txt = col(textCol)
    val withFeats = TextAnalysis.withLangId(
      df.withColumn("_gtoks", Dedup.tokens(txt))
        .withColumn("_glines", docLines(txt)),
      textCol, "lang", toksCol = "_gtoks")
    withFeats
      .withColumn("_toks", size(col("_gtoks")).cast("long"))
      .withColumn("_dlp", dupLinePpm(col("_glines")))
      .filter(col("lang") =!= "und" && col("_toks") >= minTokens &&
        col("_dlp") <= maxDupLinePpm)
      // emit the redacted text ALREADY paragraph-split: the next stage
      // (corpus paragraph dedup) reads its input twice, and an
      // unmaterialized split would run twice — checkpointing the array
      // makes both reads an attribute fetch (same bytes stored either
      // way; the join string is fixed, so no information is lost)
      .select(col(idCol), col("lang"),
        paragraphs(piiRedact(txt)).as("_paras"))
  }

  /** Stage 2: corpus-level boilerplate-paragraph removal.
    * Output: (idCol, lang, clean_text).
    */
  private[graft] def deboilStage(gate: DataFrame, idCol: String,
      paraMinDocs: Int): DataFrame =
    dropDuplicatedParagraphsFromParas(gate, idCol, "_paras", paraMinDocs)
      .select(col(idCol), col("lang"), col("clean_text"))

  /** Stage 3: exact dedup, min-id survivor per md5 fingerprint.
    *
    * Shape: a window over `_fp` would shuffle the full text by
    * fingerprint; instead the fingerprint groupBy runs on thin
    * (fp, id) rows and the survivors semi-join back on id — when `deb`
    * is materialized partitioned by id (the in-memory curate
    * checkpoints it; a parquet stage re-shuffles once), the corpus
    * side of the join needs no exchange, so exact dedup moves no text
    * at all. Identical survivors to the window form (min id per
    * fingerprint group, null fingerprints grouping together).
    */
  private[graft] def exactStage(deb: DataFrame, idCol: String): DataFrame = {
    val keep = deb.select(col(idCol), md5(col("clean_text")).as("_fp"))
      .groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    deb.join(keep, Seq(idCol), "leftsemi")
      .select(col(idCol), col("lang"), col("clean_text"))
  }

  /** Stage 4: minhash near-dup clustering, min-id survivor per
    * component. Output: (idCol, lang, n_tokens, clean_text).
    */
  private[graft] def nearDupStage(exact: DataFrame, idCol: String,
      shingleN: Int, minEstJaccard: Double, maxBucket: Int,
      precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val pairs = precomputedPairs.getOrElse(
      Dedup.minhashLshPairs(exact, idCol, "clean_text",
        k = 16, bands = 8, minEstJaccard = minEstJaccard,
        shingleN = shingleN, maxBucket = maxBucket))
    val survivors = Dedup.canonicalize(exact, idCol, pairs)
      .filter(col("id") === col("canonical_id"))
      .select(col("id").as(idCol))
    exact.join(survivors, Seq(idCol))
      .select(col(idCol), col("lang"),
        TextAnalysis.tokenCount(col("clean_text")).cast("long")
          .as("n_tokens"),
        col("clean_text"))
  }

  // ---- benchmark decontamination (n-gram overlap scrub) ----

  /** Distinct word n-gram shingles (empty-gram filtered) — the overlap
    * unit both decontamination sides hash.
    */
  private def gramsOf(toks: Column, n: Int): Column =
    filter(Dedup.shinglesOf(toks, n), g => length(g) > 0)

  /** Per-document word n-gram overlap against a benchmark/eval corpus —
    * the pre-training decontamination pass (GPT-3 / PaLM style: a
    * training document is contaminated when it shares long word n-grams
    * with a benchmark item; the caller thresholds `contamination_ppm`,
    * or treats any `n_hit > 0` as a hit for strict scrubbing).
    *
    * Scale shape: the benchmark side reduces to DISTINCT 8-byte gram
    * hashes — eval suites are thousands of items, tiny next to the
    * corpus — and is broadcast, so the corpus is never shuffled: the
    * thin (id, hash) explode joins map-side and the per-doc count
    * re-aggregates with partial aggregation. For a benchmark too big to
    * broadcast set broadcastBench = false: the join becomes a shuffle
    * on the 8-byte hash (still no text movement).
    *
    * Returns the input plus `n_grams` (distinct grams in the doc),
    * `n_hit` (of those, how many appear anywhere in the benchmark) and
    * `contamination_ppm` (integer ppm, float-free oracle parity).
    */
  def contaminationStats(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      n: Int = 8, broadcastBench: Boolean = true): DataFrame = {
    val benchGrams = bench
      .withColumn("_btoks", Dedup.tokens(col(benchTextCol)))
      .select(explode(gramsOf(col("_btoks"), n)).as("_g"))
      .select(Dedup.tokHash(col("_g")).as("_gh"))
      .distinct()
    val bSide = if (broadcastBench) broadcast(benchGrams) else benchGrams
    val withG = corpus
      .withColumn("_toks", Dedup.tokens(col(textCol)))
      .withColumn("_grams", gramsOf(col("_toks"), n))
    val hits = withG
      .select(col(idCol), explode(col("_grams")).as("_g"))
      .select(col(idCol), Dedup.tokHash(col("_g")).as("_gh"))
      .join(bSide, "_gh")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_nh"))
    withG
      .join(hits, Seq(idCol), "left")
      .withColumn("n_grams", size(col("_grams")).cast("long"))
      .withColumn("n_hit", coalesce(col("_nh"), lit(0L)))
      .withColumn("contamination_ppm",
        when(col("n_grams") > 0, (col("n_hit") * 1000000L) / col("n_grams"))
          .otherwise(lit(0L)).cast("long"))
      .drop("_toks", "_grams", "_nh")
  }

  /** Deterministic two-probe Bloom filter over 32-bit gram hashes,
    * built driver-side. `bits` must be a power of two. Probe positions
    * (identical arithmetic on the Column side — signed-64 overflow
    * wraps the same in the JVM and in Spark's codegen):
    *   p1 = h & (bits-1),  p2 = ((h * 40503) >>> 13) & (bits-1)
    * (40503 = Fibonacci-hash constant small enough that h < 2^32 never
    * overflows a signed 64-bit product — ANSI mode rejects wrap-around)
    */
  def bloomBuild(hashes: Iterator[Long], bits: Int): Array[Long] = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      "bits must be 2^k and at least one 64-bit word")
    val words = new Array[Long](bits / 64)
    val mask = (bits - 1).toLong
    def set(p: Long): Unit =
      words((p >>> 6).toInt) |= (1L << (p & 63L))
    hashes.foreach { h =>
      set(h & mask)
      set(((h * 40503L) >>> 13) & mask)
    }
    words
  }

  /** Pure-Column Bloom membership test of `gh` against a bitset-array
    * COLUMN (no UDF: integer Column ops inside whole-stage codegen).
    * Pass the [[bloomWords]] broadcast column, NOT a `typedLit` of the
    * array: a literal bitset serializes into EVERY task's plan binary
    * (twice, one copy per probe) — at the 2^27 bits the decontamination
    * scaladoc recommends that is 2×16 MB per task, nothing like
    * "broadcast once per executor". The broadcast one-row join ships
    * the bitset through the torrent broadcast mechanism instead.
    */
  def bloomMightContain(wordsCol: Column, bits: Int,
      gh: Column): Column = {
    val mask = lit((bits - 1).toLong)
    // variable-distance shift: the SQL shiftright accepts a Column
    // distance (the Scala functions.shiftright wrapper does not)
    def test(p: Column): Column =
      call_function("shiftright",
        element_at(wordsCol, (shiftright(p, 6) + 1L).cast("int")),
        p.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) =!= 0L
    test(gh.bitwiseAND(mask)) &&
      test(shiftrightunsigned(gh * lit(40503L), 13)
        .bitwiseAND(mask))
  }

  /** Attach a [[bloomBuild]] bitset as the `_bloomw` column via a
    * broadcast one-row cross join — the filter bytes ship once per
    * executor (torrent broadcast), not with every task's serialized
    * plan. Callers filter with
    * `bloomMightContain(col("_bloomw"), bits, gh)` and drop the column.
    */
  def withBloomWords(df: DataFrame, words: Array[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.crossJoin(broadcast(Seq(Tuple1(words.toSeq)).toDF("_bloomw")))
  }

  /** Per-shard Bloom index for point lookups — the FILE-SKIPPING
    * sidecar: "which output shards can contain key X" answered from a
    * table of (shard, word_idx, word) bitset fragments instead of
    * scanning shards. Built RELATIONALLY (unlike the driver-side
    * [[bloomBuild]], which serves filters the driver must hold): each
    * key emits its two probe positions, positions group to 32-bit
    * words by `bit_or` — map-side combinable, no collect, and only
    * NON-ZERO words materialize, so a sparse shard costs rows
    * proportional to its keys, not its bit width. 32-bit words because
    * the oracle engine rejects the `1 << 63` overflow a 64-bit word
    * layout needs; same two Fibonacci probes as [[bloomMightContain]]
    * (p1 = h & (bits-1), p2 = ((h·40503) >>> 13) & (bits-1)).
    *
    * At 100 TB: the index is (shards × occupied words) rows — for 10^5
    * shards at 2^15 bits that is ≤ 10^8 thin rows, a small bucketed
    * table the lookup side equi-joins on word_idx. No false negatives
    * ever; false-positive rate ≈ (2k/bits)^2 per shard for k keys.
    */
  def bloomShardIndex(df: DataFrame, shardCol: String, keyCol: String,
      bits: Int): DataFrame = {
    require(bits >= 32 && (bits & (bits - 1)) == 0,
      "bits must be 2^k and at least one 32-bit word")
    val mask = lit((bits - 1).toLong)
    val h = Dedup.tokHash(col(keyCol).cast("string"))
    val p1 = h.bitwiseAND(mask)
    val p2 = shiftrightunsigned(h * lit(40503L), 13).bitwiseAND(mask)
    df.select(col(shardCol).as("shard"), p1.as("_p1"), p2.as("_p2"))
      .select(col("shard"),
        explode(array(col("_p1"), col("_p2"))).as("_p"))
      .select(col("shard"), shiftright(col("_p"), 5).as("word_idx"),
        call_function("shiftleft", lit(1L),
          col("_p").bitwiseAND(lit(31L)).cast("int")).as("_b"))
      .groupBy(col("shard"), col("word_idx"))
      .agg(call_function("bit_or", col("_b")).as("word"))
  }

  /** Candidate shards per probe key against a [[bloomShardIndex]]:
    * (key, shard) pairs where BOTH probe words have the key's bits set
    * — a key absent from a shard's bitset never surfaces (no false
    * negatives); false positives are the documented Bloom rate and the
    * caller's point-read of the shard resolves them. Two equi-joins on
    * (shard, word_idx) — the index is the small side; keys never
    * compare against shard contents.
    */
  def bloomShardLookup(index: DataFrame, probes: DataFrame,
      keyCol: String, bits: Int): DataFrame = {
    require(bits >= 32 && (bits & (bits - 1)) == 0,
      "bits must match the index build")
    val mask = lit((bits - 1).toLong)
    val h = Dedup.tokHash(col(keyCol).cast("string"))
    val p1 = h.bitwiseAND(mask)
    val p2 = shiftrightunsigned(h * lit(40503L), 13).bitwiseAND(mask)
    def wb(p: Column) = (shiftright(p, 5),
      call_function("shiftleft", lit(1L),
        p.bitwiseAND(lit(31L)).cast("int")))
    val (w1, b1) = wb(p1)
    val (w2, b2) = wb(p2)
    val pr = probes.select(col(keyCol).as("key"), w1.as("_w1"),
      b1.as("_b1"), w2.as("_w2"), b2.as("_b2"))
    val i1 = index.select(col("shard"), col("word_idx").as("_iw1"),
      col("word").as("_wd1"))
    val i2 = index.select(col("shard").as("_s2"),
      col("word_idx").as("_iw2"), col("word").as("_wd2"))
    pr.join(i1, col("_w1") === col("_iw1"))
      .where(col("_wd1").bitwiseAND(col("_b1")) =!= 0L)
      .join(i2, col("shard") === col("_s2") &&
        col("_iw2") === col("_w2"))
      .where(col("_wd2").bitwiseAND(col("_b2")) =!= 0L)
      .select(col("key"), col("shard"))
  }

  /** [[contaminationStats]] with a Bloom prefilter — the 100 TB shape
    * of decontamination: the benchmark's gram hashes compress to a
    * `bloomBits`-bit filter evaluated MAP-SIDE on every corpus gram, so
    * only grams that might hit the benchmark enter the join at all
    * (true hits + the filter's false-positive rate); the exact
    * broadcast-join confirm then removes false positives, making the
    * OUTPUT identical to the exact operator — the filter buys shuffle
    * volume, never correctness. Returns (idCol, n_grams, n_hit,
    * contaminated).
    *
    * Sizing: fpr ≈ (2·k_grams/bits)^2 for the two probes; 2^27 bits
    * (16 MB, broadcast once per executor) holds ~10M benchmark grams
    * at fpr < 1%.
    */
  /** Distinct benchmark gram hashes plus their driver-built Bloom
    * filter — the shared candidate machinery of [[decontaminateExact]]
    * and [[removeBenchmarkSpans]]. The bench side is small by contract
    * (eval suites): collected once for the filter; the returned frame
    * is broadcast for the exact confirm.
    */
  private def benchGramFilter(bench: DataFrame, benchTextCol: String,
      n: Int, bloomBits: Int): (DataFrame, Array[Long]) = {
    val benchGrams = bench
      .withColumn("_btoks", Dedup.tokens(col(benchTextCol)))
      .select(explode(gramsOf(col("_btoks"), n)).as("_g"))
      .select(Dedup.tokHash(col("_g")).as("_gh"))
      .distinct()
    val words = bloomBuild(
      benchGrams.collect().iterator.map(_.getLong(0)), bloomBits)
    (benchGrams, words)
  }

  def decontaminateExact(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      n: Int = 8, bloomBits: Int = 1 << 20): DataFrame = {
    val (benchGrams, words) = benchGramFilter(bench, benchTextCol, n,
      bloomBits)
    val exact = broadcast(benchGrams)
    val withG = corpus
      .withColumn("_toks", Dedup.tokens(col(textCol)))
      .withColumn("_grams", gramsOf(col("_toks"), n))
    val hits = withBloomWords(withG
        .select(col(idCol), explode(col("_grams")).as("_g"))
        .select(col(idCol), Dedup.tokHash(col("_g")).as("_gh")), words)
      .filter(bloomMightContain(col("_bloomw"), bloomBits, col("_gh")))
      .drop("_bloomw") // map-side prefilter, bitset broadcast once
      .join(exact, "_gh") // removes Bloom false positives
      .groupBy(col(idCol)).agg(count(lit(1)).as("_nh"))
    withG
      .join(hits, Seq(idCol), "left")
      .withColumn("n_grams", size(col("_grams")).cast("long"))
      .withColumn("n_hit", coalesce(col("_nh"), lit(0L)))
      .withColumn("contaminated", col("n_hit") > 0L)
      .select(col(idCol), col("n_grams"), col("n_hit"),
        col("contaminated"))
  }

  /** Surgical decontamination: REMOVE the tokens covered by a word
    * n-gram that appears in the benchmark, instead of dropping the
    * whole document ([[decontaminateExact]] flags; this scrubs — the
    * right call when contamination is a quoted benchmark item inside
    * an otherwise-good page). Same Bloom-prefilter + exact-confirm
    * candidate path as decontaminateExact, same coverage-mask rewrite
    * as [[dropDuplicatedSpans]].
    *
    * Returns the input's id plus n_tokens / n_removed / removed_ppm /
    * clean_text.
    */
  def removeBenchmarkSpans(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      n: Int = 8, bloomBits: Int = 1 << 20): DataFrame = {
    val (benchGrams, words) = benchGramFilter(bench, benchTextCol, n,
      bloomBits)
    val (withT, thin) = gramStarts(corpus, idCol, textCol, n)
    val flagged = withBloomWords(thin, words)
      .filter(bloomMightContain(col("_bloomw"), bloomBits, col("_gh")))
      .drop("_bloomw") // map-side prefilter, bitset broadcast once
      .join(broadcast(benchGrams), "_gh") // exact confirm
    scrubFlagged(withT, flagged, idCol, n, textCol)
      .select(col(idCol), col("n_tokens"), col("n_removed"),
        col("removed_ppm"), col("clean_text"))
  }

  // ---- sequence packing (concatenate-then-chunk within shards) ----

  /** Deterministic concatenate-then-chunk sequence packing: documents
    * are dealt into `shards` by id hash, pseudo-randomly ordered within
    * their shard by a second md5 (the global "shuffle" a training
    * pipeline wants before packing), laid end-to-end with `sepTokens`
    * separator tokens after each document (the EOS/document-boundary
    * token), and cut into fixed `seqLen`-token training sequences —
    * every assignment pure arithmetic over a per-shard running offset.
    *
    * Scale shape: the only shuffle is the per-shard window over thin
    * rows (id, shard, size) — text never moves; the packed text itself
    * is assembled later by joining this assignment table back on id,
    * co-partitioned by shard. `shards` bounds the window width: size it
    * so corpus/shards fits one task (at 10^12 docs, shards = 2^20
    * leaves ~10^6 thin rows per shard). Shards pack independently —
    * exactly how a real tokenizer-output pipeline shards — so the
    * global sequence identity is (shard, seq).
    *
    * Returns (idCol, shard, n_tokens, start_offset, first_seq,
    * last_seq, n_chunks): a document overlapping a cut contributes one
    * chunk to each sequence it spans.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, shards: Int = 64, sepTokens: Int = 1,
      salt: String = "pack"): DataFrame = {
    require(seqLen > 0 && shards > 0)
    val id = col(idCol)
    val shard = pmod(graft.functions.Md5Prefix32(
      concat(id.cast("string"), lit(":" + salt))), lit(shards))
    val ord = md5(concat(id.cast("string"), lit(":" + salt + ":o")))
    val sz = TextAnalysis.tokenCount(col(textCol)).cast("long") +
      lit(sepTokens.toLong)
    val thin = df.select(id, shard.as("shard"), ord.as("_ord"),
      sz.as("_sz"))
    val w = Window.partitionBy(col("shard")).orderBy(col("_ord"), id)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    thin.withColumn("_cum", sum(col("_sz")).over(w))
      .withColumn("start_offset", col("_cum") - col("_sz"))
      .withColumn("n_tokens", col("_sz") - lit(sepTokens.toLong))
      // integer DIV (exact on longs; DuckDB twin is //)
      .withColumn("first_seq", expr(s"start_offset DIV $seqLen"))
      .withColumn("last_seq", expr(s"(_cum - 1) DIV $seqLen"))
      .withColumn("n_chunks", col("last_seq") - col("first_seq") + 1L)
      .select(id, col("shard"), col("n_tokens"), col("start_offset"),
        col("first_seq"), col("last_seq"), col("n_chunks"))
  }

  // ---- corpus token statistics (rarity / OOV profiling) ----

  /** Corpus-global token document frequencies joined back per document:
    * `n_distinct_tokens`, `sum_df` (Σ over the doc's distinct tokens of
    * the number of docs containing that token) and `rare_ppm` (integer
    * ppm of distinct tokens appearing in ≤ `rareMaxDf` documents) — the
    * rare-token/OOV-ratio quality signal a corpus profile feeds on
    * (high rare fraction ⇒ garbled text, boilerplate code, or a
    * language the corpus barely covers).
    *
    * Scale shape: documents explode to thin (id, tokenHash) rows —
    * 8-byte hashes, text never shuffles; the DF table is a partial-agg
    * groupBy on the hash; the join back re-aggregates per id. All
    * counters integer-exact (no float agg-order noise), and the token
    * hash is the engine-portable md5 prefix, so the DuckDB oracle
    * reproduces every value including hash-collision merges.
    */
  def tokenDfStats(df: DataFrame, idCol: String, textCol: String,
      rareMaxDf: Int = 2): DataFrame = {
    val thin = df
      .withColumn("_dtoks", array_distinct(Dedup.tokens(col(textCol))))
      .select(col(idCol), explode(col("_dtoks")).as("_t"))
      .select(col(idCol), Dedup.tokHash(col("_t")).as("_th"))
      .distinct() // hash collisions inside one doc collapse, like SQL
    val dfTable = thin.groupBy(col("_th"))
      .agg(count(lit(1)).as("_df"))
    thin.join(dfTable, "_th")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_distinct_tokens"),
        sum(col("_df")).as("sum_df"),
        sum(when(col("_df") <= rareMaxDf, 1L).otherwise(0L)).as("_nr"))
      .withColumn("rare_ppm",
        when(col("n_distinct_tokens") > 0,
          (col("_nr") * 1000000L) / col("n_distinct_tokens"))
          .otherwise(lit(0L)).cast("long"))
      .drop("_nr")
  }

  /** Corpus top-k word n-grams by document frequency — the vocabulary
    * induction / merge-candidate table a tokenizer-training pipeline
    * starts from (and the "most common boilerplate phrases" report).
    * Count unit = documents containing the gram (not occurrences):
    * dedup per doc via the distinct shingle set, so one spammy page
    * cannot dominate the vocabulary. Ties break by gram ascending, so
    * the table is deterministic.
    *
    * Two plans, identical results:
    *  - hashPrefilter=false: per-doc distinct gram STRINGS explode →
    *    partial-agg groupBy → global top-k (TakeOrdered). Simple, but
    *    materializes and shuffles every distinct gram string in the
    *    corpus.
    *  - hashPrefilter=true (the 100 TB shape): phase 1 counts 8-byte
    *    xxhash64 gram hashes — gram strings stay map-side, only hashes
    *    shuffle — and keeps the top k·margin candidate hashes
    *    (collisions only inflate a hash's count, so every true top-k
    *    gram's hash survives the cut unless > k·(margin−1) hashes tie
    *    past it); phase 2 rebuilds strings ONLY at positions whose
    *    hash is in the broadcast candidate set and recounts them
    *    exactly, making collisions and the prefilter margin harmless.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int = 2,
      k: Int = 50, hashPrefilter: Boolean = false,
      margin: Int = 4): DataFrame = {
    if (!hashPrefilter) {
      val grams = filter(Dedup.shinglesOf(Dedup.tokens(col(textCol)), n),
        g => length(g) > 0)
      df.select(explode(grams).as("gram"))
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("gram"))
        .limit(k)
    } else {
      // shared position/string builders so both phases see the same
      // gram set (incl. the sub-n gram a short doc produces)
      val withToks = df
        .withColumn("_vtoks", Dedup.tokens(col(textCol)))
        .withColumn("_vpos",
          sequence(lit(1), greatest(size(col("_vtoks")) - (n - 1), lit(1))))
      def gramAt(i: Column): Column =
        array_join(slice(col("_vtoks"), i, lit(n)), " ")
      // per-doc distinct non-empty gram strings as (pos kept by first
      // occurrence isn't needed — hash the string for exact parity
      // with the string path, xxhash64(str) is one native call)
      val gramArr = array_distinct(filter(
        transform(col("_vpos"), i => gramAt(i)), g => length(g) > 0))
      val hashed = withToks.withColumn("_vgrams", gramArr)
      val cand = hashed
        .select(explode(transform(col("_vgrams"), g => xxhash64(g)))
          .as("_gh"))
        .groupBy(col("_gh")).agg(count(lit(1)).as("_hc"))
        .orderBy(col("_hc").desc, col("_gh"))
        .limit(k * margin)
        .select("_gh").collect().map(_.getLong(0))
      hashed
        .select(explode(filter(col("_vgrams"),
          g => xxhash64(g).isin(cand.toIndexedSeq: _*))).as("gram"))
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("gram"))
        .limit(k)
    }
  }

  // ---- passage chunking (embedding / retrieval preprocessing) ----

  /** Sliding-window passage chunking: windows of `size` tokens
    * advancing by `step` (step < size → overlapping context, the
    * standard embedding/RAG preprocessing). Chunk count =
    * max(1, ⌈(n − size)/step⌉ + 1) — a document shorter than one
    * window yields exactly one chunk, and the last window may be
    * shorter (it is never dropped: retrieval must cover the tail).
    *
    * Pure per-row Columns: tokenize once (materialized), slice per
    * window — NO shuffle at all; the explode multiplies rows ~n/step×,
    * which is the intended output (one row per passage to embed).
    * Integer window arithmetic only, so the DuckDB oracle computes
    * identical chunk boundaries.
    *
    * Returns (idCol, chunk_id, n_chunk_tokens, chunk_text).
    */
  def chunkPassages(df: DataFrame, idCol: String, textCol: String,
      winTokens: Int, stepTokens: Int): DataFrame = {
    require(winTokens > 0 && stepTokens > 0)
    val withToks = df.withColumn("_ctoks", Dedup.tokens(col(textCol)))
    val n = size(col("_ctoks"))
    // ⌈(n-win)/step⌉ + 1 via integer arithmetic (Column `/` is double
    // division; floor recovers the exact quotient)
    val nChunks = when(n <= winTokens, lit(1L)).otherwise(
      floor((n - lit(winTokens) + lit(stepTokens) - 1).cast("long")
        / lit(stepTokens.toLong)) + 1L)
    withToks
      .select(col(idCol), col("_ctoks"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"))
      .withColumn("_chunk",
        slice(col("_ctoks"),
          (col("chunk_id") * stepTokens + 1L).cast("int"),
          lit(winTokens)))
      .select(col(idCol), col("chunk_id"),
        size(col("_chunk")).cast("long").as("n_chunk_tokens"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }

  // ---- deterministic splits & sampling ----

  /** Slot in [0, 10000) from the md5 of id:salt — the
    * engine-portable hash every split/sample decision derives from.
    * Changing the salt re-draws all assignments; keeping it pins them
    * forever (stable across runs, partitionings and engines — the
    * property a train/val/test split must have).
    */
  def hashSlot(id: Column, salt: String): Column =
    pmod(graft.functions.Md5Prefix32(
      concat(id.cast("string"), lit(":" + salt))), lit(10000))

  /** Named split assignment by integer weights, e.g.
    * Seq("train" -> 8, "val" -> 1, "test" -> 1): slots are carved into
    * cumulative ranges of weight/total each.
    */
  def hashSplit(id: Column, weights: Seq[(String, Int)],
      salt: String = "split"): Column = {
    val total = weights.map(_._2).sum
    val slot = hashSlot(id, salt)
    val cuts = weights.scanLeft(0) { case (acc, (_, w)) => acc + w }
    weights.zip(cuts.tail).init.foldRight(
      lit(weights.last._1)) { case (((name, _), cut), els) =>
      when(slot < lit(cut * 10000 / total), lit(name)).otherwise(els)
    }
  }

  /** Deterministic per-stratum token-budget sampling — the data-mixing
    * step of a pre-training pipeline ("this corpus contributes at most
    * N_lang tokens"): documents are pseudo-randomly ordered within
    * their stratum by md5(id:salt) (the same engine-portable hash as
    * hashSplit, so the prefix is stable across runs, partitionings and
    * engines), laid out cumulatively, and kept while their START
    * offset is below the stratum's budget — i.e. the prefix of the
    * hash order whose total reaches the budget, including the one
    * straddling document (so the kept set is never empty when the
    * budget is > 0 and always overshoots by < one document).
    *
    * Scale shape: thin (id, stratum, n_tokens, ord) rows only — the
    * caller joins `kept` back on id, so document text never enters a
    * shuffle. A stratum is NEVER one window partition: because the
    * order key is the uniform md5 hex string itself, its first
    * `shardHexLen` characters are an order-consistent, evenly-loaded
    * shard key (every row of shard "0a.." sorts before every row of
    * shard "0b.."), so the running sum is computed per (stratum,
    * shard) window — partitions of ~|stratum|/16^shardHexLen rows —
    * plus broadcast-sized shard prefix offsets (one partial-agg
    * groupBy → strata × 16^shardHexLen rows → tiny per-stratum
    * window → join back). Same two-pass shape as [[packSequences]],
    * with order-consistent shards instead of independent ones. The
    * default 3 hex chars = 4096 shards keeps shards ≈ 2.4e8 thin rows
    * even at 10^12 docs in ONE stratum; pass 4 (65536 shards) beyond.
    *
    * Returns (idCol, strataCol, n_tokens, start_tok, kept).
    */
  def tokenBudgetAssign(df: DataFrame, idCol: String, strataCol: String,
      tokensCol: String, budgets: Map[String, Long],
      defaultBudget: Long = 0L, salt: String = "budget",
      shardHexLen: Int = 3): DataFrame = {
    require(shardHexLen >= 1 && shardHexLen <= 8)
    val id = col(idCol)
    val ord = md5(concat(id.cast("string"), lit(":" + salt)))
    // when-chain over the stratum name: budgets is a small driver-side
    // map (one literal branch per stratum), evaluated on thin rows
    val budgetCol = budgets.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultBudget)) { case (els, (k, v)) =>
        when(col(strataCol) === k, lit(v)).otherwise(els)
      }
    // materialized: the per-shard window pass and the partials groupBy
    // both read `thin`, and without the checkpoint Spark evaluates the
    // two join branches independently — re-running the caller's full
    // lineage (corpus scan + tokenization) twice per action. Same seam
    // as ScaleWindow.shardedRank's checkpoint.
    val thin = df
      .select(id, col(strataCol),
        col(tokensCol).cast("long").as("n_tokens"), ord.as("_ord"))
      .withColumn("_shard", substring(col("_ord"), 1, shardHexLen))
      .localCheckpoint()
    val w = Window.partitionBy(col(strataCol), col("_shard"))
      .orderBy(col("_ord"), id)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partials = thin.groupBy(col(strataCol), col("_shard"))
      .agg(sum(col("n_tokens")).as("_ssum"))
    val offW = Window.partitionBy(col(strataCol)).orderBy(col("_shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // strata × shards rows: the per-stratum window here runs over the
    // aggregated table, never the corpus
    val offsets = partials
      .withColumn("_off", sum(col("_ssum")).over(offW) - col("_ssum"))
      .select(col(strataCol).as("_bo_s"), col("_shard").as("_bo_sh"),
        col("_off"))
    thin
      .withColumn("_lcum", sum(col("n_tokens")).over(w))
      // null-safe on BOTH keys: a null id yields a null _ord/_shard,
      // which must still join its offset row (the groupBy/window above
      // treat null as its own group, so the offset row exists)
      .join(offsets, col(strataCol) <=> col("_bo_s") &&
        col("_shard") <=> col("_bo_sh"))
      .withColumn("start_tok", col("_off") + col("_lcum") - col("n_tokens"))
      .withColumn("kept", col("start_tok") < budgetCol)
      .select(id, col(strataCol), col("n_tokens"), col("start_tok"),
        col("kept"))
  }

  /** CCNet-style per-stratum fluency buckets (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data"): within each stratum (language), documents sort by
    * DESCENDING fluency score (= ascending model perplexity) and the
    * sorted layout is cut into `head` / `middle` / `tail` thirds BY
    * TOKEN MASS — the standard quality partition a perplexity-filtered
    * pre-training corpus starts from (train on head+middle, upsample
    * head, drop tail). A document's bucket is decided by its START
    * offset in the layout (the same straddle convention as
    * [[tokenBudgetAssign]]): head while start·3 < total, middle while
    * start·3 < 2·total, else tail — all-integer, ties broken by id, so
    * the assignment is exact and engine-portable. Pairs naturally with
    * [[bigramFluency]] as the score (CCNet uses a KenLM 5-gram; any
    * higher-is-more-fluent long-valued score works).
    *
    * Scale shape: thin (id, stratum, score, n_tokens) rows through
    * [[ScaleWindow.shardedRunningSum]] — order-consistent range shards,
    * so no stratum is ever one window task; document text never enters
    * the operator. Returns (id, stratum, n_tokens, score, start_tok,
    * total_tok, bucket).
    */
  def perplexityBuckets(df: DataFrame, idCol: String, strataCol: String,
      scoreCol: String, tokensCol: String, shards: Int = 0): DataFrame = {
    val thin = df.select(col(idCol), col(strataCol),
      col(scoreCol).cast("long").as(scoreCol),
      col(tokensCol).cast("long").as("n_tokens"))
    ScaleWindow.shardedRunningSum(thin, Seq(strataCol),
      Seq(col(scoreCol).desc, col(idCol)), col("n_tokens"),
      "_pb_cum", "total_tok", shards)
      .withColumn("start_tok", col("_pb_cum") - col("n_tokens"))
      .withColumn("bucket",
        when(col("start_tok") * 3 < col("total_tok"), lit("head"))
          .when(col("start_tok") * 3 < col("total_tok") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(strataCol), col("n_tokens"), col(scoreCol),
        col("start_tok"), col("total_tok"), col("bucket"))
  }

  /** Temperature-scaled stratum resampling — the multilingual
    * rebalancing step (sample languages ∝ share^alpha, alpha < 1
    * upweighting low-resource strata; the standard mC4/XLM-R mixing
    * rule). Per-stratum keep probability
    *
    *   p_l = min(1, keepFraction · (w_l / Σw) / share_l),
    *   w_l = share_l^alpha,  share_l = n_l / N
    *
    * quantized to `floor(p·10000)` hash slots, so the keep decision is
    * the same deterministic hashSlot comparison as [[sampledByHash]] —
    * stable across runs, partitionings and engines.
    *
    * Determinism: the one cross-stratum reduction (Σ of the weights) is
    * over weights PRE-QUANTIZED to integers (floor(n^alpha · 2^20)), so
    * the sum is exact in any accumulation order — a float Σ of
    * irrational weights would pick up last-ulp noise from Spark's
    * nondeterministic aggregation order (and differ from the oracle
    * engine's). The remaining float ops are a fixed expression tree of
    * individually correctly-rounded operations (sqrt, two divides, two
    * multiplies), identical bit-for-bit in any IEEE-754 engine for
    * alpha ∈ {1.0, 0.5}; other alphas go through pow, where the last
    * ulp is libm-dependent (fine in production, not oracle-pinned).
    * floor (not round) keeps the slot quantization tie-free.
    *
    * Scale shape: one partial-agg groupBy over thin (stratum) rows for
    * the histogram (strata counts are tiny — languages/sources), the
    * per-stratum cut broadcast-joined back; text never shuffles.
    *
    * Returns the input plus `keep_slots` (the per-stratum cut in
    * [0, 10000]) and `kept`.
    */
  /** Exact water-filling mixture allocation — the static data-mixing
    * step (hit target domain weights under per-domain supply caps; the
    * mixture-design problem behind the Pile's reweighting / DoReMi's
    * static baseline) solved in CLOSED FORM, no iteration: maximize
    * water level λ with alloc_d = min(supply_d, λ·weight_d) subject to
    * Σ alloc = budget. A stratum whose supply saturates below the
    * level keeps everything; its unused share redistributes over the
    * rest (the level rises).
    *
    * Exactness + portability: strata sort by saturation level
    * r_d = supply_d/weight_d via the quantized integer key
    * supply·10^12 DIV weight (both engines sort identically;
    * zero-weight strata take a 10^30 sentinel = saturate last; ties
    * resolve by stratum name). In that order the capped set is a
    * PREFIX, detected per-row by the exact decimal(38) cross-
    * multiplication supply_i·W_≥i ≤ weight_i·(budget − S_<i) closed
    * under a running-conjunction window (a later row passing the test
    * spuriously — e.g. the zero-weight 0 ≤ 0 — can't re-enter the
    * prefix). Uncapped strata get weight_d·(budget − S_capped) DIV
    * W_uncapped (floor; Σ alloc ≤ budget with slack < |uncapped|).
    * Total supply ≤ budget degenerates to alloc = supply everywhere.
    *
    * Every window runs over the stratum histogram (bounded domain —
    * languages/sources), never the corpus: the q49/q124 bounded-
    * window argument. Returns one row per stratum present in `df`:
    * (stratum, supply, weight_ppm, alloc, rate_ppm, capped) — feed
    * rate_ppm to [[sampledByHash]]-style gates or alloc to
    * [[tokenBudgetAssign]] per stratum.
    */
  def mixWaterFill(df: DataFrame, strataCol: String, supplyCol: String,
      weightsPpm: Map[String, Long], budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(weightsPpm.values.forall(_ >= 0), "weights must be >= 0")
    val dec = "decimal(38,0)"
    def d(c: Column) = c.cast(dec)
    val wMap = typedlit(weightsPpm)
    val sup = df.groupBy(col(strataCol).as("stratum"))
      .agg(sum(col(supplyCol)).cast("long").as("supply"))
      .withColumn("weight_ppm",
        coalesce(element_at(wMap, col("stratum")), lit(0L)))
    val sentinel = lit("1" + "0" * 30).cast(dec) // 10^30 > any s/w key
    val keyed = sup.withColumn("_r",
      when(col("weight_ppm") > 0L,
        call_function("div",
          d(col("supply")) * d(lit(1000000000000L)),
          d(col("weight_ppm"))))
        .otherwise(sentinel))
    val ord = Window.orderBy(col("_r"), col("stratum"))
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val from = ord.rowsBetween(Window.currentRow,
      Window.unboundedFollowing)
    val prefix = ord.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val staged = keyed
      .withColumn("_sb", coalesce(sum(col("supply")).over(before),
        lit(0L)))
      .withColumn("_wf", sum(col("weight_ppm")).over(from))
      // a zero-weight stratum is NEVER capped: capped means
      // supply <= lambda*weight, and lambda*0 = 0 < supply — without
      // this guard the degenerate 0 <= 0 cross-test marks it capped
      // (full supply kept, budget overspent) whenever every positive-
      // weight stratum saturated before it
      .withColumn("_t", when(col("weight_ppm") === 0L, lit(0))
        .when(
          d(col("supply")) * d(col("_wf")) <=
            d(col("weight_ppm")) * (d(lit(budget)) - d(col("_sb"))),
          lit(1)).otherwise(lit(0)))
      .withColumn("_capped", min(col("_t")).over(prefix) === 1)
      .withColumn("_scap",
        coalesce(sum(when(col("_capped"), col("supply"))).over(all),
          lit(0L)))
      .withColumn("_wunc",
        coalesce(sum(when(!col("_capped"), col("weight_ppm")))
          .over(all), lit(0L)))
      .withColumn("_stot", sum(col("supply")).over(all))
    staged.select(col("stratum"), col("supply"), col("weight_ppm"), {
        val level = greatest(lit(0L).cast(dec),
          d(lit(budget)) - d(col("_scap")))
        when(col("_stot") <= budget, col("supply"))
          .when(col("_capped"), col("supply"))
          .when(col("_wunc") > 0L, call_function("div",
            d(col("weight_ppm")) * level, d(col("_wunc")))
            .cast("long"))
          .otherwise(lit(0L)).as("alloc")
      })
      .withColumn("rate_ppm", when(col("supply") > 0L,
        call_function("div", d(col("alloc")) * d(lit(1000000L)),
          d(col("supply"))).cast("long")).otherwise(lit(0L)))
      .withColumn("capped", col("alloc") === col("supply"))
  }

  def temperatureResample(df: DataFrame, idCol: String, strataCol: String,
      alpha: Double = 0.5, keepFraction: Double = 0.5,
      salt: String = "resample"): DataFrame = {
    val powA: Column => Column =
      if (alpha == 1.0) identity
      else if (alpha == 0.5) sqrt
      else x => pow(x, alpha)
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("_n"))
    // quantized weight: n^alpha ≤ 2^31 here, ×2^20 stays ≤ 2^51 —
    // exact in a double, exact as a long
    val wq = floor(powA(col("_n").cast("double")) * 1048576.0)
      .cast("long")
    // the histogram is a handful of rows: the unpartitioned window
    // below runs in one task over it, never over the corpus (and sums
    // longs, so it is exact regardless of order)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // NB distinct names even under case-insensitive resolution: a
    // withColumn("_N", ...) would silently REPLACE "_n"
    val cuts = counts
      .withColumn("_wq", wq)
      .withColumn("_wtot", sum(col("_wq")).over(wAll))
      .withColumn("_ntot", sum(col("_n")).over(wAll))
      .withColumn("_p", least(lit(1.0),
        lit(keepFraction)
          * (col("_wq").cast("double") / col("_wtot").cast("double"))
          * (col("_ntot").cast("double") / col("_n").cast("double"))))
      .select(col(strataCol), floor(col("_p") * 10000.0).cast("long")
        .as("keep_slots"))
    // null-SAFE join: a null stratum is its own group to groupBy, and
    // its documents must come back out (an equi-join would silently
    // drop them — neither kept nor rejected)
    val cutsR = cuts.withColumnRenamed(strataCol, "_tr_stratum")
    df.join(broadcast(cutsR), col(strataCol) <=> col("_tr_stratum"), "left")
      .drop("_tr_stratum")
      .withColumn("kept", hashSlot(col(idCol), salt) < col("keep_slots"))
  }

  /** Split-leakage audit: count near-dup candidate pairs that straddle
    * the train/val/test hash split — the eval-integrity check every
    * pipeline should ship (a test document with a near-duplicate in
    * train is leaked benchmark signal; the fix is dedup-BEFORE-split,
    * and this table proves whether it happened). Pairs come from the
    * same MinHash-LSH candidate generator as the dedup path, so "no
    * cross-split pairs after curate" is checkable with the exact
    * machinery that deduped.
    *
    * Returns (split_lo, split_hi, n_pairs, leaks) — rows with
    * `leaks = true` are cross-split near-dup pair counts.
    *
    * RECALL TRADE with `maxBucket > 0`: pairs whose signatures land
    * only in over-cap LSH buckets are dropped from the audit — and
    * hot buckets are exactly where template-heavy (leak-prone)
    * documents live. The library default (maxBucket = 0) keeps full
    * recall; a capped audit should be read alongside
    * [[graft.ops.Dedup.minhashLshSkippedBuckets]] on the same corpus
    * so the dropped-bucket mass is reported, not silent.
    */
  def splitLeakageAudit(df: DataFrame, idCol: String, textCol: String,
      splits: Seq[(String, Int)], k: Int = 16, bands: Int = 8,
      shingleN: Int = 3, minEstJaccard: Double = 0.5,
      salt: String = "split", maxBucket: Int = 0): DataFrame =
    splitLeakageAuditFromPairs(
      Dedup.minhashLshPairs(df, idCol, textCol, k, bands,
        minEstJaccard = minEstJaccard, shingleN = shingleN,
        maxBucket = maxBucket),
      splits, salt)

  /** [[splitLeakageAudit]] over an ALREADY-GENERATED candidate-pair
    * table (columns `a`, `b`) — the composed form: when a dedup pass
    * just produced the LSH pairs, the audit reuses them instead of
    * re-running candidate generation over the corpus (at 100 TB the
    * pair generation is the expensive part; the audit itself is a
    * groupBy over pair-count rows). [[curateStaged]] wires this in as
    * an optional final stage fed by the near-dup stage's persisted
    * pairs.
    */
  def splitLeakageAuditFromPairs(pairs: DataFrame,
      splits: Seq[(String, Int)], salt: String = "split"): DataFrame = {
    val sa = hashSplit(col("a"), splits, salt)
    val sb = hashSplit(col("b"), splits, salt)
    pairs
      .select(least(sa, sb).as("split_lo"),
        greatest(sa, sb).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaks", col("split_lo") =!= col("split_hi"))
  }

  /** Deterministic Bernoulli-by-hash sample: keep ~fraction of rows,
    * stable under reruns and engine changes (unlike rand()-based
    * sampling, which is neither). Use a different salt than the split
    * so sampling is independent of split assignment.
    */
  def sampledByHash(id: Column, fraction: Double,
      salt: String = "sample"): Column =
    hashSlot(id, salt) < lit(math.round(fraction * 10000).toInt)

  /** Deterministic weight-proportional sample of exactly k rows —
    * sequential Poisson sampling (Ohlsson 1998; Rosén's order
    * sampling family): each row gets priority (u+1)/w with u the
    * md5-prefix hash of its id (uniform on [0, 2^32), engine-stable,
    * re-drawn only via `salt`), and the k SMALLEST priorities win, so
    * inclusion probability is approximately proportional to `w` —
    * token-mass-weighted eval carving, importance-weighted corpus
    * subsampling — without rand()'s run-to-run drift. Rows with
    * w <= 0 or null never qualify. Appends `sample_rank` (1-based by
    * priority, ties to id).
    *
    * Cross-engine determinism of the FLOAT priority: u+1 and w are
    * integers that cast to double exactly (u < 2^32; weights past
    * 2^53 would round — clamp upstream), and one IEEE-754 division is
    * correctly rounded identically on the JVM and in DuckDB, so the
    * order — and the sample — is bit-reproducible. Plan shape: no
    * window over the corpus; top-k is orderBy+limit
    * (TakeOrderedAndProject: per-partition partial top-k, k·partitions
    * rows to the final merge), then the rank window runs over k rows.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, salt: String = "wps"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = graft.functions.Md5Prefix32(
      concat(col(idCol).cast("string"), lit(":" + salt)))
    val picked = df
      .where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("_wps_pri",
        (u.cast("double") + lit(1.0d)) / col(weightCol).cast("double"))
      .orderBy(col("_wps_pri"), col(idCol))
      .limit(k)
    picked.withColumn("sample_rank", row_number().over(
        Window.orderBy(col("_wps_pri"), col(idCol))).cast("long"))
      .drop("_wps_pri")
  }

  /** Deterministic EXACT-k per-stratum sample — the eval-set carving
    * primitive ([[sampledByHash]] keeps a hash FRACTION, which drifts
    * with stratum size; a benchmark slice needs exactly k docs per
    * language, no more, no fewer, and strata smaller than k keep
    * everything). Rows are ranked inside their stratum by the md5
    * sample hash (uniform, engine-stable, re-drawn only by changing
    * `salt`), ties by id, via [[ScaleWindow.shardedRank]] — the global
    * rank is exact with NO per-stratum window partition, so a
    * 10^11-row stratum never lands in one task. Appends `sample_rank`
    * (1-based within the stratum); callers keep `sample_rank <= k`
    * rows, already filtered here.
    */
  def stratifiedSampleExact(df: DataFrame, idCol: String,
      strataCol: String, k: Int, salt: String = "strat"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ranked = ScaleWindow.shardedRank(
      df.withColumn("_ssx_h", graft.functions.Md5Prefix32(
        concat(col(idCol).cast("string"), lit(":" + salt)))),
      Seq(strataCol), Seq(col("_ssx_h"), col(idCol)),
      "sample_rank", "_ssx_n")
    ranked.filter(col("sample_rank") <= k).drop("_ssx_h", "_ssx_n")
  }

  /** Keep the best `keepPpm`/1e6 of each stratum by a numeric score —
    * the rank-based quality gate (keep the top X% per language by
    * classifier score) that adapts to the score distribution instead
    * of hard-coding a threshold. Exact integer ranks (ties broken by
    * ascending id, so the kept set is deterministic across runs,
    * partitionings and engines): kept iff (rank−1)·1e6 < keepPpm·n —
    * ceiling semantics, so a non-empty stratum keeps at least one
    * document whenever keepPpm > 0 (floor semantics would silently
    * wipe small strata).
    *
    * Scale shape: the ranking runs on a thin (id, stratum, score)
    * projection through [[ScaleWindow.shardedRank]] — order-consistent
    * range shards, so no stratum is ever one window partition, and a
    * degenerate constant-score stratum still shards evenly (the unique
    * id tie-break makes every composite sort key distinct). Ranks join
    * back on the (unique) id, so text moves through exactly one
    * co-partitioning join and never through a window sort.
    * Returns the input plus `stratum_rank`, `stratum_n`, `kept`.
    */
  def keepTopQuantile(df: DataFrame, idCol: String, strataCol: String,
      scoreCol: String, keepPpm: Long, shards: Int = 0): DataFrame = {
    require(keepPpm >= 0L && keepPpm <= 1000000L)
    val ranked = ScaleWindow.shardedRank(
      df.select(col(idCol), col(strataCol), col(scoreCol)),
      Seq(strataCol), Seq(col(scoreCol).desc, col(idCol)),
      "stratum_rank", "stratum_n", shards)
      .select(col(idCol).as("_ktq_id"), col("stratum_rank"),
        col("stratum_n"))
    // null-safe join-back: a null id must come back out with its rank
    // (ids are assumed UNIQUE — the ties-by-id contract — so the join
    // is 1:1)
    df.join(ranked, col(idCol) <=> col("_ktq_id"))
      .drop("_ktq_id")
      .withColumn("kept",
        (col("stratum_rank") - 1L) * 1000000L <
          lit(keepPpm) * col("stratum_n"))
      .select((df.columns.map(col).toIndexedSeq ++ Seq(col("stratum_rank"),
        col("stratum_n"), col("kept"))): _*)
  }

  /** Keep at most `n` documents per stratum, best-first — the per-host
    * document cap every crawl-curation recipe applies so that no
    * single site dominates the corpus (C4 and RefinedWeb both cap
    * per-domain contributions). Same contract as [[keepTopQuantile]]
    * — exact integer ranks, ties broken by ascending id, deterministic
    * across runs, partitionings and engines — with an absolute cutoff
    * (rank ≤ n) instead of a proportional one.
    *
    * Scale shape: identical to [[keepTopQuantile]] — the ranking runs
    * on a thin (id, stratum, score) projection through
    * [[ScaleWindow.shardedRank]] (no stratum is ever one window
    * partition; a viral host with 10^9 pages ranks across shards),
    * and text moves only through the 1:1 join-back on id.
    * Returns the input plus `stratum_rank`, `stratum_n`, `kept`.
    */
  def keepTopNPerStratum(df: DataFrame, idCol: String,
      strataCol: String, scoreCol: String, n: Long,
      shards: Int = 0): DataFrame = {
    require(n >= 0L)
    val ranked = ScaleWindow.shardedRank(
      df.select(col(idCol), col(strataCol), col(scoreCol)),
      Seq(strataCol), Seq(col(scoreCol).desc, col(idCol)),
      "stratum_rank", "stratum_n", shards)
      .select(col(idCol).as("_ktn_id"), col("stratum_rank"),
        col("stratum_n"))
    df.join(ranked, col(idCol) <=> col("_ktn_id"))
      .drop("_ktn_id")
      .withColumn("kept", col("stratum_rank") <= lit(n))
      .select((df.columns.map(col).toIndexedSeq ++ Seq(col("stratum_rank"),
        col("stratum_n"), col("kept"))): _*)
  }

  // ---- corpus profiling ----

  /** Per-stratum distribution profile of an integer metric (token
    * counts, doc lengths, quality scores in ppm): count, sum, min/max,
    * and EXACT rank-based percentiles — p = value at 1-based rank
    * ⌊p·(n−1)/100⌋+1 of the ascending sort ("lower" interpolation,
    * integer arithmetic only, so every engine computes the identical
    * rank). The value at a rank is deterministic even with ties (equal
    * values straddle any tie order).
    *
    * The monitoring table every curation run ships with. Scale shape:
    * the corpus collapses to a per-stratum VALUE HISTOGRAM first — one
    * partial-agg groupBy on (stratum, value), so hot values combine
    * map-side and the shuffle carries at most |strata| ×
    * |distinct values| thin rows. The exact percentile is then the
    * smallest value whose cumulative count reaches the rank, read off
    * a per-stratum window over the HISTOGRAM (partition size =
    * distinct-value count, which for integer metrics — token counts,
    * ppm scores — is bounded by the value domain, not the corpus; a
    * 10^12-doc stratum of ppm scores is ≤ 10^6 histogram rows). For a
    * genuinely unbounded metric use [[corpusProfileApprox]].
    */
  def corpusProfile(df: DataFrame, strataCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(strataCol)).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(strataCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // Column `/` is double division even on longs; floor recovers the
    // integer quotient (exact here: the true quotient is ≥ 1/100 away
    // from any integer unless it IS one, far beyond double rounding)
    def rankOf(pNum: Int): Column =
      floor((lit(pNum.toLong) * (col("_n") - 1L)) / 100L) + 1L
    // cumulative count is monotone in _v, so the value AT a rank is
    // the min value whose cumulative count reaches it — deterministic
    // under ties by construction (ties are one histogram row)
    def pick(pNum: Int): Column =
      min(when(col("_cum") >= rankOf(pNum), col("_v")))
    // null metric values are excluded up front: min/max/sum ignore
    // nulls anyway, and Spark sorts nulls FIRST while other engines
    // (DuckDB) sort them LAST — ranking over them would make the
    // percentiles engine-dependent (or null). n_rows therefore counts
    // non-null values.
    df.select(col(strataCol), col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy(col(strataCol), col("_v"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n", sum(col("_c")).over(wAll))
      .groupBy(col(strataCol))
      .agg(max(col("_n")).as("n_rows"),
        sum(col("_v") * col("_c")).as("total"),
        min(col("_v")).as("v_min"),
        max(col("_v")).as("v_max"),
        pick(50).as("p50"), pick(90).as("p90"), pick(99).as("p99"))
  }

  /** Approximate distribution profile for UNBOUNDED value domains — the
    * true-hyperscale variant of [[corpusProfile]]: values collapse into
    * fixed log2 buckets (bucket = floor(log2(v)) for v > 0; one bucket
    * each for zero and negatives), so the shuffled state per stratum is
    * ≤ 66 rows regardless of the value domain, and every percentile is
    * answered from the bucket histogram with a bounded relative error
    * (the reported percentile is the bucket's inclusive upper bound —
    * at most 2× the true value for positive metrics, the classic
    * HdrHistogram/log-bucket guarantee). count/sum/min/max stay EXACT;
    * only the percentiles are bucketed. Integer arithmetic throughout,
    * so the DuckDB oracle reproduces every value.
    *
    * Returns (strataCol, n_rows, total, v_min, v_max, p50_ub, p90_ub,
    * p99_ub).
    */
  def corpusProfileApprox(df: DataFrame, strataCol: String,
      valueCol: String): DataFrame = {
    val v = col("_v")
    // floor(log2(v)) as a 6-step binary search over shifts — pure
    // integer Columns (no float log whose last ulp could flip a
    // power-of-two boundary); bucket -1 = zero, -2 = negatives
    def log2Floor(x: Column): Column = {
      val steps = Seq(32, 16, 8, 4, 2, 1)
      val (acc, _) = steps.foldLeft((lit(0L), x)) { case ((a, y), s) =>
        val fits = y >= shiftleft(lit(1L), s)
        (a + when(fits, lit(s.toLong)).otherwise(0L),
          when(fits, shiftright(y, s)).otherwise(y))
      }
      acc
    }
    val b = when(v < 0L, lit(-2L)).when(v === 0L, lit(-1L))
      .otherwise(log2Floor(v))
    val w = Window.partitionBy(col(strataCol)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(strataCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def rankOf(pNum: Int): Column =
      floor((lit(pNum.toLong) * (col("_n") - 1L)) / 100L) + 1L
    // inclusive upper bound of a log2 bucket: 2^(b+1) - 1 (0 for the
    // zero bucket, -1 for the negative bucket = "some negative")
    val ub = when(col("_b") === -2L, lit(-1L))
      .when(col("_b") === -1L, lit(0L))
      .otherwise(expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(_b + 1 AS INT)) - 1"))
    def pick(pNum: Int): Column =
      min(when(col("_cum") >= rankOf(pNum), col("_ub")))
    df.select(col(strataCol), col(valueCol).cast("long").as("_v"))
      .filter(v.isNotNull)
      .groupBy(col(strataCol), b.as("_b"))
      .agg(count(lit(1)).as("_c"), sum(v).as("_s"),
        min(v).as("_mn"), max(v).as("_mx"))
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n", sum(col("_c")).over(wAll))
      .withColumn("_ub", ub)
      .groupBy(col(strataCol))
      .agg(max(col("_n")).as("n_rows"),
        sum(col("_s")).as("total"),
        min(col("_mn")).as("v_min"),
        max(col("_mx")).as("v_max"),
        pick(50).as("p50_ub"), pick(90).as("p90_ub"),
        pick(99).as("p99_ub"))
  }

  // ---- hashed bag-of-tokens classifier (quality / language model) ----

  /** Train per-bucket token weights from weakly-labeled documents —
    * the distributed twin of training a fastText/CCNet-style linear
    * quality classifier: tokens hash into `buckets` (the hashing
    * trick, no vocabulary build), and a bucket's weight is the
    * document-frequency odds of the positive class CENTERED ON THE
    * TRAINING PRIOR, as integer ppm:
    *
    *   w_b = clamp[0,1e6]( ppm(#pos docs with b / #docs with b)
    *                       + 500000 − ppm(#pos docs / #docs) )
    *
    * so 500000 always means "this token carries no label information"
    * regardless of class balance, and a document's mean weight reads
    * as "more/less positive-indicative than baseline" — without the
    * centering, any class imbalance shifts every uninformative token
    * off neutral and the 500000 decision threshold becomes the class
    * prior in disguise. Document frequency (not term frequency) so one
    * spammy page cannot skew a bucket; integer arithmetic so training
    * is exact in any aggregation order and engine.
    *
    * Scale shape: one narrow pass — docs explode to DISTINCT
    * (id, label, bucket) thin rows, one partial-agg groupBy on the
    * bucket plus one scalar prior aggregate (crossJoin-broadcast); the
    * weight table is at most `buckets` rows (fits memory / broadcast
    * by construction).
    */
  def tokenClassWeights(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 1 << 18): DataFrame = {
    require(buckets > 0)
    val labeled = df.filter(col(labelCol).isNotNull)
    // integral DIV (exact at any magnitude — a double-div-then-cast
    // diverges from DuckDB's // once denominator x quotient > 2^53)
    val prior = labeled.agg(
      call_function("div",
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          * 1000000L, count(lit(1))).as("_prior"))
    val thin = labeled
      .select(col(idCol), col(labelCol).cast("boolean").as("_lb"),
        explode(array_distinct(Dedup.tokens(col(textCol)))).as("_t"))
      .select(col(idCol), col("_lb"),
        pmod(Dedup.tokHash(col("_t")), lit(buckets)).as("bucket"))
      .distinct() // collisions inside one doc collapse, like the oracle
    thin.groupBy(col("bucket"))
      .agg(sum(when(col("_lb"), 1L).otherwise(0L)).as("_pos"),
        count(lit(1)).as("_n"))
      .crossJoin(broadcast(prior))
      .select(col("bucket"),
        greatest(lit(0L), least(lit(1000000L),
          call_function("div", col("_pos") * 1000000L, col("_n"))
            + 500000L - col("_prior"))).as("w"))
  }

  /** Score documents with a [[tokenClassWeights]] table: mean bucket
    * weight over every token occurrence (bag of words), unseen buckets
    * scored neutral (500000). `pred` = mean > 500000. All integer, so
    * serving is engine-exact too.
    *
    * Scale shape: thin (id, bucket) rows join the weight table —
    * broadcast by default (≤ buckets rows); per-doc sums re-aggregate
    * with partial aggregation. Text never shuffles.
    */
  def scoreByTokenWeights(df: DataFrame, weights: DataFrame,
      idCol: String, textCol: String, buckets: Int = 1 << 18,
      broadcastWeights: Boolean = true): DataFrame = {
    val w = if (broadcastWeights) broadcast(weights) else weights
    val thin = df
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("_t"))
      .select(col(idCol),
        pmod(Dedup.tokHash(col("_t")), lit(buckets)).as("bucket"))
    val scored = thin.join(w, Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_ns"),
        sum(coalesce(col("w"), lit(500000L))).as("_ss"))
    df.join(scored, Seq(idCol), "left")
      .withColumn("n_tokens_scored", coalesce(col("_ns"), lit(0L)))
      .withColumn("score_sum", coalesce(col("_ss"), lit(0L)))
      // non-negative operands: Spark DIV (trunc) == DuckDB // (floor)
      .withColumn("score_mean_ppm",
        when(col("n_tokens_scored") > 0,
          expr("score_sum DIV n_tokens_scored"))
          .otherwise(lit(0L)).cast("long"))
      .withColumn("pred", col("score_mean_ppm") > 500000L)
      .drop("_ns", "_ss")
  }

  /** Unsupervised bigram-fluency scoring — the integer-exact analogue
    * of CCNet's LM-perplexity quality filter (Wenzek et al. 2020,
    * which scores documents with a KenLM model and keeps the
    * low-perplexity tail): a bigram "language model" is induced from
    * the corpus ITSELF and every document is scored by the mean
    * corpus-conditional probability of its token transitions,
    *
    *   fluency_ppm(doc) = mean_i( cnt(w_{i-1}, w_i) · 1e6
    *                              DIV (cnt(w_{i-1} ·) + smoothing) )
    *
    * over corpus-wide bigram occurrence counts on hashed tokens
    * (cnt(w ·) = occurrences of w as a bigram head). The Lidstone
    * `smoothing` pseudo-count matters exactly where a raw conditional
    * fails: a never-seen-elsewhere transition from a never-seen-
    * elsewhere head has raw p = 1/1 — word salad made of unique words
    * would score a perfect 100% — while the smoothed form gives it
    * 1e6/(1+smoothing). The second output, `rare_bigram_ppm` = the ppm
    * of the doc's transitions whose corpus occurrence count ≤
    * `rareMax`, is the robust garble detector (the analogue of cutting
    * the high-perplexity TAIL, and the bigram twin of
    * [[tokenDfStats]]' rare_ppm): fluent text built from common
    * constructions scores ~0, word salad scores ~1e6, regardless of
    * corpus size. Integer ppm with truncating DIV keeps training and
    * scoring exact in any aggregation order and engine (a float
    * log-prob would differ in the last ulp between libms — the same
    * determinism trade [[tokenClassWeights]] makes; a production
    * deployment can swap in a real KenLM-style log-space model
    * freely).
    *
    * Scale shape: docs explode once to thin (id, prevHash, curHash)
    * rows — 8-byte hashes, text never shuffles; both count tables are
    * partial-agg groupBys over those rows; scoring joins the counts
    * back on the hashes and re-aggregates per doc. The bigram table is
    * vocabulary²-bounded, not corpus-bounded, and hot bigrams combine
    * map-side.
    *
    * Returns the input plus `n_bigrams`, `rare_bigram_ppm` and
    * `fluency_ppm` (all 0 for docs with < 2 tokens).
    */
  def bigramFluency(df: DataFrame, idCol: String, textCol: String,
      smoothing: Long = 8L, rareMax: Long = 2L): DataFrame = {
    val thin = bigramThin(df, idCol, textCol)
    val (bigrams, heads) = bigramTablesFromThin(thin)
    scoreBigramThin(df, idCol, thin, bigrams, heads, smoothing, rareMax)
  }

  /** Per-doc thin (id, _ph, _ch) bigram-hash rows — the shared explode
    * behind training and serving.
    */
  private def bigramThin(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val withH = df
      .withColumn("_ftoks", Dedup.tokens(col(textCol)))
      .withColumn("_fhs",
        transform(col("_ftoks"), t => Dedup.tokHash(t)))
    val n = size(col("_fhs"))
    val pairArr = when(n >= 2, transform(sequence(lit(1), n - 1),
      i => struct(element_at(col("_fhs"), i).as("p"),
        element_at(col("_fhs"), i + 1).as("c"))))
      .otherwise(array().cast("array<struct<p:bigint,c:bigint>>"))
    withH
      .select(col(idCol), explode(pairArr).as("_bg"))
      .select(col(idCol), col("_bg.p").as("_ph"), col("_bg.c").as("_ch"))
  }

  private def bigramTablesFromThin(
      thin: DataFrame): (DataFrame, DataFrame) = (
    thin.groupBy(col("_ph"), col("_ch")).agg(count(lit(1)).as("_bc")),
    thin.groupBy(col("_ph")).agg(count(lit(1)).as("_pc")))

  /** Content-defined chunking (Muthitacharoen, Chen & Mazières, SOSP
    * 2001 — the LBFS primitive behind dedup storage, delta sync and
    * chunk-level corpus dedup): cut a document wherever a FIXED-WINDOW
    * rolling hash of the last `window` tokens hits 0 mod `maskMod`, so
    * boundaries move with content, not offsets — insert one token and
    * every later chunk of a fixed-size splitter changes, while CDC
    * re-synchronizes after one chunk. Token-level with the portable
    * md5-prefix token hash (same unit as every text operator; expected
    * chunk length ≈ maskMod tokens). This is the CLAMPLESS pure form:
    * every matching position cuts, no min/max chunk clamps — clamps
    * make boundary i depend on boundary i-1 (sequential state); the
    * pure form is per-position independent, hence one per-row Column
    * program with no shuffle at all. Returns one row per chunk:
    * (id, chunk_idx, start, chunk_len, chunk_hash) — feed chunk_hash
    * to an exact-dedup pass for the storage-dedup ratio.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 4, maskMod: Long = 16L): DataFrame = {
    require(window >= 2 && maskMod >= 2)
    val primes = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L)
    require(window <= primes.size, s"window <= ${primes.size}")
    val based = df.select(col(idCol).as("id"),
        Dedup.tokens(col(textCol)).as("_tk"))
      .withColumn("_th", transform(col("_tk"), t => Dedup.tokHash(t)))
    val n = size(col("_tk"))
    def winHash(i: Column): Column =
      (0 until window).map { k =>
        element_at(col("_th"), (i - k + 1).cast("int")) * primes(k)
      }.reduce(_ + _)
    val bs = when(n >= window + 1,
      filter(sequence(lit(window - 1), n - 2),
        i => pmod(winHash(i), lit(maskMod)) === 0))
      .otherwise(array().cast("array<int>"))
    val withB = based.withColumn("_bs", bs)
      .withColumn("_starts",
        concat(array(lit(0)), transform(col("_bs"), b => b + 1)))
      .withColumn("_ends",
        concat(transform(col("_bs"), b => b + 1), array(n)))
    withB
      .select(col("id"), col("_tk"),
        // outer + null-filter: the filter inferred above a non-outer
        // generate re-runs the whole boundary computation inside the
        // scan (SessionTuning); the span array is never empty
        // (_starts always holds position 0)
        posexplode_outer(zip_with(col("_starts"), col("_ends"),
          (s, e) => struct(s.as("s"), e.as("e"))))
          .as(Seq("chunk_idx", "_se")))
      .filter(col("chunk_idx").isNotNull)
      .select(col("id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("_se.s").cast("long").as("start"),
        (col("_se.e") - col("_se.s")).cast("long").as("chunk_len"),
        md5(array_join(
          slice(col("_tk"), col("_se.s") + 1,
            col("_se.e") - col("_se.s")), " ")).as("chunk_hash"))
      // token-less docs would otherwise emit one zero-length chunk
      // with chunk_hash = md5('') — and every empty doc would then
      // pair with every other empty doc at jaccard 1.0 in
      // chunkNearDupPairs. Empty docs yield NO chunks.
      .where(col("chunk_len") > 0)
  }

  /** Chunk-overlap near-duplicate pairs — [[cdcChunks]]'s payoff:
    * document pairs sharing >= `minJaccard` of their content-defined
    * chunk hash sets. Because CDC boundaries re-synchronize after an
    * edit, a doc that prepends a header to another still shares all
    * but ~one chunk — the insertion-robust complement to token-shingle
    * MinHash (which dilutes large shared spans across every shingle)
    * and the relational form of storage-layer dedup detection.
    *
    * Scale shape: only (id, chunk_hash) thin rows shuffle; the
    * shared-hash self-join is guarded by `maxChunkDf` (chunks present
    * in more docs are skipped — boilerplate chunks would fan
    * quadratically; the rare-key blocking discipline of
    * containmentPairs, capped + deterministic).
    */
  def chunkNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int = 4, maskMod: Long = 16L, minJaccard: Double = 0.1,
      maxChunkDf: Int = 0): DataFrame = {
    val thin = cdcChunks(df, idCol, textCol, window, maskMod)
      .select(col("id"), col("chunk_hash")).distinct()
      .localCheckpoint() // sizes + df counts + both join sides
    val sizes = thin.groupBy("id").agg(count(lit(1)).as("_sz"))
    val kept =
      if (maxChunkDf <= 0) thin
      else {
        val dfc = thin.groupBy("chunk_hash")
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= maxChunkDf)
          .select("chunk_hash")
        thin.join(dfc, Seq("chunk_hash"))
      }
    val inter = kept.as("l")
      .join(kept.as("r"), col("l.chunk_hash") === col("r.chunk_hash")
        && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("a"), col("_sz").as("_sza")),
        Seq("a"))
      .join(sizes.select(col("id").as("b"), col("_sz").as("_szb")),
        Seq("b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("_sza") + col("_szb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("inter").cast("long").as("inter"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Moore-Lewis cross-entropy-difference data selection (Moore &
    * Lewis, ACL 2010, "Intelligent Selection of Language Model
    * Training Data"): score each document by its mean per-bigram
    * log-likelihood RATIO between an IN-DOMAIN bigram model (trained
    * on `target`) and the GENERAL model (trained on `df` itself) —
    * positive ⟺ reads more like the target domain than like the
    * background. THE classic targeted-subset selector (the ancestor
    * of CCNet's perplexity buckets and DSIR): [[dsirWeights]] (q100)
    * reweights by hashed-n-gram importance ratios, this ranks by LM
    * likelihood ratio — both serve the "find more data like this"
    * loop, and this one composes with [[keepTopQuantile]] for the cut.
    *
    * Models are Laplace-smoothed over a FIXED pseudo-vocabulary:
    * p(c|p) = (bc+1)/(pc+pseudoVocab) — deterministic, no actual
    * vocab count needed. Per-bigram contributions use the round-6
    * float protocol (ln is unavoidable; the queryLikelihood/ndcgAtK
    * discipline): w = round(ln p_in − ln p_gen, 6), doc score =
    * round(Σw / n, 6); docs with no bigram score null. Scale shape:
    * the q68 one — two count tables off one thin (id, ph, ch)
    * explode per corpus, scoring joins on bigram-hash keys, text
    * never shuffles.
    */
  def mooreLewis(df: DataFrame, idCol: String, textCol: String,
      target: DataFrame, pseudoVocab: Long = 65536L): DataFrame = {
    require(pseudoVocab > 0)
    val thin = bigramThin(df, idCol, textCol).localCheckpoint()
    val (bgG, hdG) = bigramTablesFromThin(thin)
    val (bgT, hdT) = bigramTablesFromThin(
      bigramThin(target, idCol, textCol).localCheckpoint())
    val v = lit(pseudoVocab.toDouble)
    def lp(bc: Column, pc: Column) =
      log((coalesce(bc, lit(0L)) + lit(1.0)) /
        (coalesce(pc, lit(0L)) + v))
    val joined = thin
      .join(bgT.withColumnRenamed("_bc", "_bct"), Seq("_ph", "_ch"),
        "left")
      .join(hdT.withColumnRenamed("_pc", "_pct"), Seq("_ph"), "left")
      .join(bgG.withColumnRenamed("_bc", "_bcg"), Seq("_ph", "_ch"),
        "left")
      .join(hdG.withColumnRenamed("_pc", "_pcg"), Seq("_ph"), "left")
      .select(col(idCol),
        round(lp(col("_bct"), col("_pct")) -
          lp(col("_bcg"), col("_pcg")), 6).as("_w"))
    val sc = joined.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(sum(col("_w")), 6).as("_s"))
    df.select(col(idCol)).join(sc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0L,
          round(col("_s") / col("n_bigrams"), 6)).as("celd"))
  }

  /** Train the corpus bigram model ONCE: (bigram counts (_ph,_ch,_bc),
    * head counts (_ph,_pc)) — the persistable tables a deployment
    * reuses to score new batches ([[scoreBigramFluency]]) or a live
    * feed (the streaming fluency gate), the deploy shape
    * [[tokenClassWeights]]/scoreByTokenWeights established.
    */
  def bigramTables(df: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    // no id parameter on purpose: the counts don't depend on row
    // identity, and an (idCol, textCol) overload here would invert the
    // argument order every sibling operator uses — a silent
    // train-on-the-id-column trap. The synthetic label never shuffles.
    val frame = df.withColumn("_bt_id", monotonically_increasing_id())
    bigramTablesFromThin(bigramThin(frame, "_bt_id", textCol))
  }

  /** Score documents against FROZEN [[bigramTables]] — new-batch /
    * serving form of [[bigramFluency]]: identical arithmetic, counts
    * from the trained tables (transitions absent from the model score
    * 0 and count as rare). Returns the same three columns.
    */
  def scoreBigramFluency(df: DataFrame, idCol: String, textCol: String,
      bigrams: DataFrame, heads: DataFrame, smoothing: Long = 8L,
      rareMax: Long = 2L): DataFrame =
    scoreBigramThin(df, idCol, bigramThin(df, idCol, textCol),
      bigrams, heads, smoothing, rareMax, leftJoins = true)

  private def scoreBigramThin(df: DataFrame, idCol: String,
      thin: DataFrame, bigrams: DataFrame, heads: DataFrame,
      smoothing: Long, rareMax: Long,
      leftJoins: Boolean = false): DataFrame = {
    // self-scoring: every transition exists in its own tables (inner
    // join is exact). Frozen-model serving: unseen transitions/heads
    // must NOT drop — they score 0 and count as rare
    val how = if (leftJoins) "left" else "inner"
    val scored = thin
      .join(bigrams, Seq("_ph", "_ch"), how)
      .join(heads, Seq("_ph"), how)
      .withColumn("_bc", coalesce(col("_bc"), lit(0L)))
      .withColumn("_pc", coalesce(col("_pc"), lit(0L)))
      // non-negative operands: Spark DIV (trunc) == DuckDB // (floor)
      .withColumn("_ppm", expr(s"(_bc * 1000000) DIV (_pc + $smoothing)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_nb"), sum(col("_ppm")).as("_sp"),
        sum(when(col("_bc") <= rareMax, 1L).otherwise(0L)).as("_nr"))
      .select(col(idCol).as("_bf_id"), col("_nb"), col("_sp"), col("_nr"))
    df.join(scored, col(idCol) <=> col("_bf_id"), "left")
      .drop("_bf_id")
      .withColumn("n_bigrams", coalesce(col("_nb"), lit(0L)))
      .withColumn("rare_bigram_ppm",
        when(col("n_bigrams") > 0, expr("(_nr * 1000000) DIV n_bigrams"))
          .otherwise(lit(0L)).cast("long"))
      .withColumn("fluency_ppm",
        when(col("n_bigrams") > 0, expr("_sp DIV n_bigrams"))
          .otherwise(lit(0L)).cast("long"))
      .drop("_nb", "_sp", "_nr")
  }

  /** Exact tie-aware rank AUC (= the Mann–Whitney U statistic,
    * normalized) of a score column against a boolean label — the
    * evaluation every quality-classifier training loop runs before the
    * classifier is allowed to gate the corpus. Ties contribute 1/2
    * (the standard mid-rank convention), computed exactly:
    *
    *   auc = [ Σ_s p_s·(2·m_below(s) + m_s) ] / (2·n_pos·n_neg)
    *
    * over DISTINCT score values s with p_s positives, m_s negatives
    * and m_below(s) negatives at strictly smaller scores. All-integer
    * (the numerator sums in decimal(38,0) — at 10^12 docs it crosses
    * 2^63 — and the final ppm is one integral DIV), so the result is
    * identical in any aggregation order and engine. `auc_ppm` is null
    * for a stratum with no positives or no negatives.
    *
    * Scale shape: the corpus collapses to a per-(stratum, score) VALUE
    * HISTOGRAM first (one partial-agg groupBy — hot scores combine
    * map-side), so the running negative count is a window over the
    * histogram, never the corpus: for integer-ppm scores that is ≤
    * ~10^6 rows per stratum at any corpus size (same bounded-domain
    * argument as [[corpusProfile]]; for an unbounded score quantize
    * first). Emits one row per stratum — (strata…, n_pos, n_neg,
    * auc_ppm) — or a single global row when `strataCols` is empty.
    */
  def rankAuc(df: DataFrame, labelCol: String, scoreCol: String,
      strataCols: Seq[String] = Nil): DataFrame = {
    val strata = strataCols.map(col)
    val lbl = col(labelCol).cast("boolean")
    val hist = df.filter(lbl.isNotNull && col(scoreCol).isNotNull)
      .groupBy((strata :+ col(scoreCol).cast("long").as("_s")): _*)
      .agg(sum(when(lbl, 1L).otherwise(0L)).as("_p"),
        sum(when(lbl, 0L).otherwise(1L)).as("_m"))
    val w = Window.partitionBy(strata: _*).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = "decimal(38,0)"
    val out = hist
      .withColumn("_mbelow", sum(col("_m")).over(w) - col("_m"))
      .groupBy(strata: _*)
      .agg(sum(col("_p")).as("n_pos"), sum(col("_m")).as("n_neg"),
        // cast BEFORE the multiply — p_s × 2·m_below is the term that
        // crosses 2^63, so a long product then cast would already have
        // wrapped
        sum(col("_p").cast(dec) *
          (lit(2L) * col("_mbelow") + col("_m")).cast(dec))
          .as("_num2"))
    out.select((strata ++ Seq(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0L && col("n_neg") > 0L,
        call_function("div", col("_num2") * lit(1000000L).cast(dec),
          (lit(2L) * col("n_pos") * col("n_neg")).cast(dec)))
        .otherwise(lit(null).cast("long")).as("auc_ppm"))): _*)
  }

  /** Exact F1 sweep + argmax threshold over a scored, labeled corpus —
    * the calibration step between training a quality classifier
    * ([[tokenClassWeights]]) and letting it gate the corpus: AUC
    * ([[rankAuc]]) says the ranking is good, this says WHERE to cut.
    * Candidate thresholds are the distinct observed scores ("predict
    * positive ⟺ score ≥ t"); per threshold, emits tp/fp/fn and
    * precision/recall/F1 as integer ppm (decimal(38) integral DIV —
    * exact in any aggregation order and engine; 2·TP·10^6 crosses
    * 2^63 at 10^13 docs), plus `is_best` on the max-F1 row (ties →
    * the HIGHEST threshold: the most selective cut with the same F1).
    *
    * Scale shape: the corpus collapses to a per-score histogram first
    * (one partial-agg groupBy), so the cumulative tp/fp window runs
    * over the histogram, never the corpus — ≤ ~10^6 rows for
    * integer-ppm scores at any corpus size (the [[corpusProfile]] /
    * [[rankAuc]] bounded-domain argument; quantize unbounded scores
    * first). One scalar total-positives aggregate rides along via
    * crossJoin broadcast.
    */
  /** Cohen's kappa (1960) between two boolean verdicts — the
    * chance-corrected gate-agreement diagnostic (are the fluency gate
    * and the classifier gate making the SAME decisions, beyond what
    * their base rates force?), completing the agreement family with
    * kendallTau/spearmanRho (rankings). Closed form over five counts:
    * kappa = (n·(n11+n00) − na·nb − (n−na)(n−nb)) /
    * (n² − na·nb − (n−na)(n−nb)) — exact integer ppm with the
    * sign-first staging (numerator may be negative; denominator ≥ 0,
    * = 0 only when both raters are constant → null). One partial-agg
    * groupBy per stratum; nothing else.
    */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String,
      strataCols: Seq[String] = Seq.empty): DataFrame = {
    def dv(a: Column, b: Column) = call_function("div", a, b)
    val strata = strataCols.map(col)
    val counts = df.select((strata :+ col(aCol).cast("boolean").as("_a")
        :+ col(bCol).cast("boolean").as("_b")): _*)
      .groupBy(strata: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_a").cast("long")).as("_na"),
        sum(col("_b").cast("long")).as("_nb"),
        sum((col("_a") && col("_b")).cast("long")).as("_n11"),
        sum((!col("_a") && !col("_b")).cast("long")).as("_n00"))
    val num = col("n") * (col("_n11") + col("_n00")) -
      col("_na") * col("_nb") -
      (col("n") - col("_na")) * (col("n") - col("_nb"))
    val den = col("n") * col("n") - col("_na") * col("_nb") -
      (col("n") - col("_na")) * (col("n") - col("_nb"))
    counts.withColumn("po_ppm",
        dv((col("_n11") + col("_n00")) * lit(1000000L), col("n")))
      .withColumn("kappa_ppm",
        when(den === 0L, lit(null).cast("long")).otherwise(
          when(num >= 0L, dv(num * lit(1000000L), den))
            .otherwise(-dv(-num * lit(1000000L), den))))
      .drop("_na", "_nb", "_n11", "_n00")
  }

  /** Gini concentration of a non-negative weight across keys (host
    * document counts, per-host token mass — "how dominated is the
    * crawl by its biggest hosts"): G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) −
    * (n+1)/n over ascending-sorted weights with 1-based global ranks.
    * Exact single-floor integer ppm — the numerator
    * 2·Σ i·xᵢ − (n+1)·Σx is non-negative for ascending ranks
    * (Chebyshev's sum inequality), so
    * g_ppm = ⌊(2·Σ i·xᵢ − (n+1)·Σx)·10⁶ / (n·Σx)⌋ needs no sign
    * handling. Ranks come from [[ScaleWindow.shardedRank]] (ties
    * broken by the key — deterministic), so no corpus-sized window
    * exists; everything after is one map-side-combinable aggregation.
    */
  def giniConcentration(df: DataFrame, keyCol: String,
      weightCol: String, shards: Int = 0): DataFrame = {
    val thin = df.select(col(keyCol).as("_k"),
        col(weightCol).cast("long").as("_x"))
      .filter(col("_x") >= 0L)
    val ranked = ScaleWindow.shardedRank(thin, Seq.empty,
      Seq(col("_x"), col("_k")), "_i", "_gn", shards)
    // HHI rides the same agg: Σ share² telescopes to the exact
    // rational Σx²·10⁶ / (Σx)² — one floor, no per-share rounding
    // (1/n for a uniform corpus, 10⁶ for a single dominant key)
    ranked.agg(count(lit(1)).cast("long").as("n"),
        sum(col("_x")).cast("decimal(38,0)").as("_sx"),
        sum(col("_i").cast("decimal(38,0)") * col("_x"))
          .cast("decimal(38,0)").as("_six"),
        sum(col("_x").cast("decimal(38,0)") * col("_x"))
          .cast("decimal(38,0)").as("_sxx"))
      .select(col("n"), col("_sx").cast("long").as("total"),
        when(col("n") === 0L || col("_sx") === 0L,
          lit(null).cast("long")).otherwise(
          call_function("div",
            (lit(2L) * col("_six") -
              (col("n") + 1L) * col("_sx")) * lit(1000000L),
            col("n").cast("decimal(38,0)") * col("_sx"))
            .cast("long")).as("gini_ppm"),
        when(col("n") === 0L || col("_sx") === 0L,
          lit(null).cast("long")).otherwise(
          call_function("div", col("_sxx") * lit(1000000L),
            col("_sx") * col("_sx")).cast("long")).as("hhi_ppm"))
  }

  /** Expected calibration error (Naeini et al., AAAI 2015; the metric
    * Guo et al. 2017 made standard): B equal-width confidence bins
    * over ppm scores, ECE = Σ_b (n_b/N)·|acc_b − conf_b| — completing
    * the classifier-evaluation trio with [[rankAuc]] ("the ranking is
    * good") and [[f1Sweep]] ("cut here"): calibration asks whether
    * the score MEANS its probability, the property temperature-scaled
    * sampling and mixture weighting rely on. Exact integer: the
    * weighted sum telescopes to ece_ppm = ⌊Σ_b |10^6·Σlabel_b −
    * Σconf_b| / N⌋ — one floor total, agg-order-proof. Also reports
    * the worst single-bin gap. Per-stratum groupBy of thin
    * (bin, label, conf) rows; bins are score-domain-sized.
    */
  def calibrationError(df: DataFrame, labelCol: String,
      confPpmCol: String, bins: Int = 10,
      strataCols: Seq[String] = Seq.empty): DataFrame = {
    require(bins >= 2)
    def dv(a: Column, b: Column) = call_function("div", a, b)
    val strata = strataCols.map(col)
    val binned = df.select((strata :+
        col(labelCol).cast("boolean").as("_lb") :+
        col(confPpmCol).cast("long").as("_cf")): _*)
      .withColumn("_bin",
        dv(col("_cf") * lit(bins.toLong), lit(1000001L)))
    val perBin = binned
      .groupBy((strata :+ col("_bin")): _*)
      .agg(count(lit(1)).as("_nb"),
        sum(col("_lb").cast("long")).as("_sl"),
        sum(col("_cf")).as("_sc"))
      .withColumn("_gap", abs(lit(1000000L) * col("_sl") - col("_sc")))
    perBin.groupBy(strata: _*)
      .agg(sum(col("_nb")).cast("long").as("n"),
        count(lit(1)).cast("long").as("n_bins_hit"),
        dv(sum(col("_gap")), sum(col("_nb"))).cast("long")
          .as("ece_ppm"),
        max(dv(col("_gap"), col("_nb"))).cast("long")
          .as("max_bin_gap_ppm"))
  }

  def f1Sweep(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val lbl = col(labelCol).cast("boolean")
    val hist = df.filter(lbl.isNotNull && col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).cast("long").as("threshold"))
      .agg(sum(when(lbl, 1L).otherwise(0L)).as("_p"),
        sum(when(lbl, 0L).otherwise(1L)).as("_m"))
    val wCum = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = hist.agg(sum(col("_p")).as("_ptot"))
    val dec = "decimal(38,0)"
    val swept = hist
      .withColumn("tp", sum(col("_p")).over(wCum))
      .withColumn("fp", sum(col("_m")).over(wCum))
      .crossJoin(totals)
      .select(col("threshold"), col("tp"), col("fp"),
        (col("_ptot") - col("tp")).as("fn"),
        call_function("div",
          (col("tp") * lit(1000000L)).cast(dec),
          (col("tp") + col("fp")).cast(dec)).as("precision_ppm"),
        when(col("_ptot") > 0L, call_function("div",
            (col("tp") * lit(1000000L)).cast(dec),
            col("_ptot").cast(dec)))
          .otherwise(lit(null).cast("long")).as("recall_ppm"),
        call_function("div",
          (lit(2L) * col("tp") * lit(1000000L)).cast(dec),
          (col("tp") + col("fp") + col("_ptot")).cast(dec)).as("f1_ppm"))
    // argmax flag: a window over the histogram-sized sweep only
    swept.withColumn("is_best", row_number().over(
        Window.orderBy(col("f1_ppm").desc, col("threshold").desc)) === 1)
      .orderBy("threshold")
  }

  /** Clustering-quality evaluation against reference labels: pairwise
    * precision / recall / F1 (Rand-style pair counting) and B-cubed
    * precision / recall (Bagga & Baldwin 1998), all exact integer ppm
    * — the grading harness a dedup-clustering change is judged by
    * (over-merge → pairwise precision drops; over-split → recall
    * drops; B-cubed weights by element so one mega-cluster can't hide
    * behind many correct singletons). `pred` holds the clustering
    * under test (idCol, clusterCol), `truth` the reference labels
    * (idCol, labelCol); items missing from either side are excluded
    * (inner join on id).
    *
    * Scale shape: one thin inner join on id, then the (cluster, label)
    * contingency table via map-side-combinable counts — ids and labels
    * shuffle, never payloads; everything past the contingency is
    * cluster-count-sized. Arithmetic is decimal(38) integral DIV with
    * ONE floor per cluster/class (per-group common denominator), so
    * any agg order gives identical results and the oracle replays it
    * exactly. Pair counts use C(n,2) = n(n-1) DIV 2 (always exact).
    * Returns one row; ppm columns are null when undefined (no pairs
    * predicted / no pairs in truth).
    */
  def clusterEval(pred: DataFrame, truth: DataFrame, idCol: String,
      clusterCol: String, labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    def div(a: Column, b: Column): Column =
      call_function("div", a.cast(dec), b.cast(dec)).cast("long")
    def pairs2(c: Column): Column = div(c * (c - 1L), lit(2L))
    val j = pred.select(col(idCol).as("_id"), col(clusterCol).as("_c"))
      .join(truth.select(col(idCol).as("_id"), col(labelCol).as("_t")),
        "_id")
    val cells = j.groupBy(col("_c"), col("_t"))
      .agg(count(lit(1L)).as("n_ct"))
    // per-cluster: size, same-label pair hits, B-cubed mass with the
    // cluster size as the single common denominator
    val perC = cells.groupBy(col("_c")).agg(
      sum(col("n_ct")).as("n_c"),
      sum(pairs2(col("n_ct"))).as("tp_c"),
      sum(col("n_ct") * col("n_ct")).as("sq_c"))
    val perT = cells.groupBy(col("_t")).agg(
      sum(col("n_ct")).as("n_t"),
      sum(col("n_ct") * col("n_ct")).as("sq_t"))
    val a = perC.agg(
      sum(col("n_c")).as("n_items"),
      count(lit(1L)).as("n_clusters"),
      sum(col("tp_c")).as("pair_tp"),
      sum(pairs2(col("n_c"))).as("pred_pairs"),
      sum(div(col("sq_c") * lit(1000000L), col("n_c")))
        .as("_bp_sum"))
    val b = perT.agg(
      count(lit(1L)).as("n_classes"),
      sum(pairs2(col("n_t"))).as("truth_pairs"),
      sum(div(col("sq_t") * lit(1000000L), col("n_t")))
        .as("_br_sum"))
    a.crossJoin(b).select(
      col("n_items"), col("n_clusters"), col("n_classes"),
      col("pair_tp"), col("pred_pairs"), col("truth_pairs"),
      when(col("pred_pairs") > 0L,
        div(col("pair_tp") * lit(1000000L), col("pred_pairs")))
        .as("pair_precision_ppm"),
      when(col("truth_pairs") > 0L,
        div(col("pair_tp") * lit(1000000L), col("truth_pairs")))
        .as("pair_recall_ppm"),
      when(col("pred_pairs") + col("truth_pairs") > 0L,
        div(col("pair_tp") * lit(2000000L),
          col("pred_pairs") + col("truth_pairs"))).as("pair_f1_ppm"),
      when(col("n_items") > 0L, div(col("_bp_sum"), col("n_items")))
        .as("bcubed_precision_ppm"),
      when(col("n_items") > 0L, div(col("_br_sum"), col("n_items")))
        .as("bcubed_recall_ppm"))
  }

  // ---- URL / host operators ----

  /** Host part of an URL (empty string when the shape doesn't match —
    * deterministic, never null).
    */
  def hostOf(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)

  /** Curated 1:1 subset of the Unicode UTS #39 confusables table:
    * Cyrillic, Greek, and stray Latin letters whose glyphs are
    * indistinguishable from Basic-Latin in common UI fonts — the
    * script-mixing raw material of IDN spoofing (pаypal.com with a
    * Cyrillic а). NOT the full skeleton algorithm (that maps some
    * sources to SEQUENCES, e.g. ligatures); the 1:1 slice is what
    * `translate` can apply per-codepoint in one pass in both engines.
    */
  val ConfusableFrom: String =
    "аеорсхуіјѕһԁԛԝӏгѵ" + "οανρτυικχεηωϲ" + "ıɡ"
  val ConfusableTo: String =
    "aeopcxyijshdqwlrv" + "oavptuikxenwc" + "ig"
  require(ConfusableFrom.length == ConfusableTo.length,
    "confusable map must be 1:1")

  /** Homoglyph skeleton of a hostname: lowercase, then fold every
    * confusable codepoint to its Basic-Latin look-alike. Two hosts
    * with equal skeletons render near-identically to a user. Pure
    * per-row `translate`, codegen'd, oracle-portable.
    */
  def homoglyphSkeleton(host: Column): Column =
    translate(lower(host), ConfusableFrom, ConfusableTo)

  /** Spoofed-host detection against a trusted list: hosts whose
    * skeleton equals a trusted host's skeleton but whose raw spelling
    * differs — the homoglyph-phishing gate a crawl frontier runs
    * before admitting look-alike domains ([[registrableDomain]] owns
    * the PSL cut; this op owns the glyphs). Broadcast equi-join on the
    * skeleton (trusted lists are small by nature); per-row otherwise.
    * Appends `skeleton`, `spoof_of` (null when clean), `spoofed`.
    */
  def spoofedHosts(df: DataFrame, hostCol: String,
      trusted: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tr = trusted.map(t =>
      (t, t.toLowerCase(java.util.Locale.ROOT))).toDF("_tr", "_trl")
      .withColumn("_skel", homoglyphSkeleton(col("_trl")))
      .select(col("_tr"), col("_skel"))
    df.withColumn("skeleton", homoglyphSkeleton(col(hostCol)))
      .join(broadcast(tr), col("skeleton") === col("_skel"), "left")
      .withColumn("spoof_of",
        when(col("_tr").isNotNull && lower(col(hostCol)) =!= col("_tr"),
          col("_tr")))
      .withColumn("spoofed", col("spoof_of").isNotNull)
      .drop("_tr", "_skel")
  }

  /** Per-key latest-snapshot (as-of) selection: of all crawl snapshots
    * of the same (canonical) URL with `tsCol` <= `cutoff`, keep the one
    * with the greatest timestamp, ties broken by ascending `tieCol` —
    * the keep-newest-crawl dedup every multi-snapshot web corpus runs
    * before anything else (and, with a historical cutoff, the
    * point-in-time corpus reconstruction).
    *
    * Scale shape: one window over thin rows partitioned by the key —
    * snapshots of one URL are few, so partitions are tiny; the shuffle
    * carries only the columns the caller selected. Deterministic under
    * ties by construction.
    */
  /** Crawl-churn diff between two snapshots: per key (URL), status
    * `new` (only in `cur`), `gone` (only in `prev`), `changed`
    * (both, different content hash) or `unchanged` — the signal a
    * recrawl scheduler and an incremental-ingest planner read.
    * Inputs must carry one row per key per snapshot (collapse a
    * multi-fetch snapshot with [[latestSnapshotAsOf]] first).
    *
    * Scale shape: both sides reduce to thin (key, hash) rows before
    * the single full-outer equi-join on the key — page bytes never
    * move; output is key-partitioned and feeds churn stats as a
    * map-side-combinable groupBy on `status`.
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, keyCol: String,
      hashCol: String): DataFrame = {
    val p = prev.select(col(keyCol).as("_sd_k"),
      col(hashCol).as("prev_hash"))
    val c = cur.select(col(keyCol).as("_sd_k"),
      col(hashCol).as("cur_hash"))
    p.join(c, Seq("_sd_k"), "full_outer")
      .select(col("_sd_k").as(keyCol), col("prev_hash"),
        col("cur_hash"),
        when(col("prev_hash").isNull, "new")
          .when(col("cur_hash").isNull, "gone")
          .when(col("prev_hash") === col("cur_hash"), "unchanged")
          .otherwise("changed").as("status"))
  }

  def latestSnapshotAsOf(df: DataFrame, keyCol: String, tsCol: String,
      cutoff: Column, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(tieCol))
    df.filter(col(tsCol) <= cutoff)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Host normalized for domain matching: authority without port,
    * lowercased, trailing dot (absolute FQDN form) stripped — without
    * this, "ads.tracker.net:8080" or "ads.tracker.net." never equals a
    * blocklist entry and the filter is evaded by any non-default port
    * or trailing-dot spelling.
    */
  def matchHost(url: Column): Column =
    regexp_replace(
      regexp_replace(lower(hostOf(url)), ":[0-9]+$", ""),
      "\\.$", "")

  /** Confusable-script homograph flag over a DECODED host (apply
    * [[graft.functions.IdnToUnicode]] first — the wire form of a
    * non-ASCII host is punycode, where the mix is invisible): true
    * when any single label mixes Latin with Cyrillic or Greek, or
    * Cyrillic with Greek — the UTS #39 single-script confusable
    * heuristic that catches "аpple.com" (Cyrillic а, U+0430) posing
    * as "apple.com". Whole-label script mixing only: "中国.cn" or
    * "münchen.example.com" are single-script labels and pass; a
    * legitimate multilingual SITE mixes scripts across labels, not
    * within one. Pure per-row Columns, no shuffle.
    */
  def mixedScriptHost(decodedHost: Column): Column =
    exists(split(decodedHost, "\\."), l => {
      val latin = l.rlike("[a-zA-Z]")
      val cyr = l.rlike("[Ѐ-ӿ]")
      val greek = l.rlike("[Ͱ-Ͽ]")
      (latin && (cyr || greek)) || (cyr && greek)
    })

  /** Suffix set of a host — "a.b.example.com" yields itself and every
    * parent domain down to the TLD. The unit a domain blocklist matches
    * on: an entry blocks the domain and every subdomain, which is
    * exactly equi-join/containment on this set — no per-pair
    * `endsWith` theta-join (a BroadcastNestedLoop at scale), and the
    * explode is bounded by the label count (≤ ~10).
    */
  def hostSuffixes(host: Column): Column = {
    val labels = split(host, "\\.")
    transform(sequence(lit(1), size(labels)),
      i => array_join(slice(labels, i, size(labels)), "."))
  }

  /** Blocked iff the URL's host or any parent domain is in `blocklist`
    * — the crawl URL-filtering gate (UT1-style domain blocklists).
    * Literal form: zero shuffle, zero join — real blocklists (a few
    * hundred thousand entries) fit a broadcast literal comfortably;
    * for larger lists use [[markBlockedByDomainList]].
    */
  def blockedByDomains(url: Column, blocklist: Seq[String]): Column =
    arrays_overlap(hostSuffixes(matchHost(url)),
      lit(blocklist.map(_.toLowerCase).toArray))

  /** DataFrame form of [[blockedByDomains]] for blocklists maintained
    * as a table: the bounded host-suffix set explodes to thin
    * (id, suffix) rows and equi-joins the blocklist (broadcast by
    * default). Returns the input plus `blocked`.
    */
  def markBlockedByDomainList(df: DataFrame, idCol: String,
      urlCol: String, blocklist: DataFrame, domainCol: String = "domain",
      broadcastList: Boolean = true): DataFrame = {
    val bl = blocklist.select(lower(col(domainCol)).as("_dom")).distinct()
    val b = if (broadcastList) broadcast(bl) else bl
    val hit = df.select(col(idCol),
        explode(hostSuffixes(matchHost(col(urlCol)))).as("_dom"))
      .join(b, "_dom")
      .select(col(idCol)).distinct()
      .withColumn("_blk", lit(true))
    df.join(hit, Seq(idCol), "left")
      .withColumn("blocked", coalesce(col("_blk"), lit(false)))
      .drop("_blk")
  }

  /** Public-Suffix-List registrable-domain extraction — the algorithm
    * publicsuffix.org specifies (the public list Mozilla maintains).
    * `rules` are PSL-syntax lines: normal ("com", "co.uk"), wildcard
    * ("*.ck"), exception ("!www.ck"); comment ("// …") and blank lines
    * are ignored. The prevailing rule for a host is any matching
    * EXCEPTION rule first, else the LONGEST matching rule, else the
    * implicit default "*" (public suffix = the rightmost label). The
    * public suffix spans the prevailing rule's labels (wildcard = its
    * literal labels + 1; exception = its labels − 1), and the
    * registrable domain is the public suffix plus one more label —
    * null when the host IS a public suffix. Registrable domains are
    * what per-site caps, blocklists and politeness budgets should key
    * on: "a.github.io" and "b.github.io" are different sites, while
    * "x.shop.example.com" and "y.example.com" are one.
    *
    * Scale shape: rules pre-aggregate driver-side to one row per key
    * (a key can carry normal/wildcard/exception flags at once) and
    * join BROADCAST once per suffix depth (maxDepth ≤ label count;
    * real PSL rules top out at 4-5 labels), so the operator is
    * zero-shuffle: every lookup is a map-side broadcast hash join on
    * the depth-i suffix, no explode, no re-aggregation — the full
    * ~10k-entry PSL broadcasts once per executor instead of riding
    * every task as a plan literal.
    *
    * Appends `public_suffix` and `regOut`.
    */
  def registrableDomain(df: DataFrame, hostCol: String,
      rules: Seq[String], regOut: String = "reg_domain",
      maxDepth: Int = 5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parsed = rules.map(_.trim.toLowerCase)
      .filter(r => r.nonEmpty && !r.startsWith("//"))
      .map { r =>
        if (r.startsWith("!")) (r.drop(1), "exc")
        else if (r.startsWith("*.")) (r.drop(2), "wild")
        else (r, "norm")
      }
    val byKey = parsed.groupBy(_._1).toSeq.map { case (k, vs) =>
      val kinds = vs.map(_._2).toSet
      (k, k.count(_ == '.') + 1,
        kinds("norm"), kinds("wild"), kinds("exc"))
    }
    val ruleDf = byKey
      .toDF("_psl_key", "_psl_len", "_psl_norm", "_psl_wild", "_psl_exc")
    val labels = split(col(hostCol), "\\.")
    val n = size(labels)
    def suffix(i: Int): Column =
      when(n >= i, array_join(slice(labels, n - i + 1, lit(i)), "."))
    val depths = 1 to maxDepth
    val joined = depths.foldLeft(df) { (acc, i) =>
      val ri = ruleDf.filter(col("_psl_len") === i)
        .select(col("_psl_key").as(s"_psl_k$i"),
          col("_psl_norm").as(s"_psl_n$i"),
          col("_psl_wild").as(s"_psl_w$i"),
          col("_psl_exc").as(s"_psl_e$i"))
      acc.join(broadcast(ri), suffix(i) === col(s"_psl_k$i"), "left")
    }
    def bestOf(cs: Seq[Column]): Column =
      if (cs.size == 1) cs.head else greatest(cs: _*)
    // exception rules beat everything (PSL: "the prevailing rule is
    // the one which is an exception rule"); otherwise longest match;
    // otherwise the implicit "*" default. greatest() skips nulls.
    val excPs = bestOf(depths.map(i =>
      when(col(s"_psl_e$i"), lit(i - 1))))
    val matchPs = bestOf(depths.flatMap(i => Seq(
      when(col(s"_psl_n$i"), lit(i)),
      when(col(s"_psl_w$i") && n >= i + 1, lit(i + 1)))) :+ lit(1))
    val ps = coalesce(excPs, matchPs)
    joined
      .withColumn("public_suffix",
        when(n >= ps, array_join(slice(labels, n - ps + 1, ps), ".")))
      .withColumn(regOut,
        when(n > ps, array_join(slice(labels, n - ps, ps + 1), ".")))
      .drop(depths.flatMap(i => Seq(s"_psl_k$i", s"_psl_n$i",
        s"_psl_w$i", s"_psl_e$i")): _*)
  }

  /** Induce a domain blocklist from per-document quality verdicts —
    * the adaptive host-level filtering loop (score documents, aggregate
    * per host, block hosts whose bad fraction crosses the threshold;
    * how production URL filters are maintained, vs. the static curated
    * lists [[markBlockedByDomainList]] also serves). `bad` is any
    * boolean Column over the input (classifier verdict, gate failure).
    *
    * Scale shape: thin (host, bad) rows partial-aggregate per host;
    * the result is blocklist-sized (hosts, not documents) and feeds
    * straight into [[markBlockedByDomainList]]'s broadcast side.
    * Integer-ppm thresholding keeps induction engine-exact.
    *
    * Returns (domain, n_docs, bad_ppm) for blocked hosts only.
    */
  def induceHostBlocklist(df: DataFrame, urlCol: String, bad: Column,
      minDocs: Long = 5L, minBadPpm: Long = 500000L): DataFrame =
    df.select(matchHost(col(urlCol)).as("domain"),
        bad.cast("boolean").as("_bad"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_bad"), 1L).otherwise(0L)).as("_nb"))
      // integral DIV, not double-div-then-cast: exact at ANY magnitude
      .withColumn("bad_ppm",
        call_function("div", col("_nb") * 1000000L, col("n_docs")))
      .filter(col("n_docs") >= minDocs && col("bad_ppm") >= minBadPpm)
      .select(col("domain"), col("n_docs"), col("bad_ppm"))

  /** [[induceHostBlocklist]] over a numeric per-document score instead
    * of a boolean verdict: block hosts whose MEAN score crosses
    * `minMeanPpm`. Aggregating the raw score at the host level beats
    * thresholding per document first — per-doc verdicts near the
    * decision boundary are coin flips that the host mean averages away
    * (≈1/√docs the noise). Returns (domain, n_docs, mean_score_ppm)
    * for blocked hosts only.
    */
  def induceHostBlocklistByScore(df: DataFrame, urlCol: String,
      score: Column, minDocs: Long = 5L,
      minMeanPpm: Long = 520000L): DataFrame =
    df.select(matchHost(col(urlCol)).as("domain"),
        score.cast("long").as("_sc"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_sc")).as("_ss"))
      .withColumn("mean_score_ppm",
        call_function("div", col("_ss"), col("n_docs")))
      .filter(col("n_docs") >= minDocs &&
        col("mean_score_ppm") >= minMeanPpm)
      .select(col("domain"), col("n_docs"), col("mean_score_ppm"))

  /** Query parameters stripped during URL canonicalization: tracking
    * identifiers that vary per click but never change the resource —
    * the standard strip list for crawl URL dedup.
    */
  val TrackingParams =
    "^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref|mc_cid|mc_eid)(=|$)"

  /** Shared URL-component patterns — ONE definition each, used by both
    * [[canonicalUrl]] and [[urlFeatures]] so the two URL views can
    * never silently diverge (and every oracle twin quotes the same
    * literal).
    */
  private val UrlAuthorityPat = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
  private val UrlPathPat = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"

  /** Canonical form of a crawl URL, the key URL-level dedup groups on:
    * fragment removed; scheme and host lowercased; default port
    * stripped (:80 for http, :443 for https); empty path → "/" (path
    * case is PRESERVED — paths are case-sensitive); tracking query
    * parameters ([[TrackingParams]]) removed and the survivors sorted
    * (param order is transport noise); "?" dropped when the query
    * empties. A string without a scheme comes back unchanged
    * (deterministic fallback, never null).
    *
    * Pure regex/array Columns in the shared Java-regex/RE2 subset, so
    * the DuckDB oracle runs the literally identical patterns.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, UrlAuthorityPat, 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path0 = regexp_extract(noFrag, UrlPathPat, 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query0 = regexp_extract(noFrag, "\\?(.*)$", 1)
    val keptParams = array_sort(filter(split(query0, "&"),
      p => p =!= "" && !p.rlike(TrackingParams)))
    val canonQ = array_join(keptParams, "&")
    when(scheme === "", url).otherwise(concat(scheme, lit("://"), host,
      path,
      when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ))))
  }

  /** SURT key (Sort-friendly URI Reordering Transform) — the
    * web-archive-standard crawl-index sort key (OpenWayback/pywb CDX,
    * the Common-Crawl URL index): host labels REVERSED and
    * comma-joined so one host's captures — and one registrable
    * domain's hosts — are a contiguous key range
    * ("com,example,news)/path?a=1"). Normalization, pywb-style:
    * whole key lowercased (it is a SORT key, not a fetch URL — the
    * original url rides along in the index row); scheme dropped;
    * leading "www", "www2", … label dropped (so www/apex captures of
    * the same site collocate); default port stripped (:80 http, :443
    * https), any other port stays attached to its (first-reversed)
    * label; trailing-dot FQDN form stripped; fragment dropped; empty
    * path → "/"; query parameters sorted (ALL kept — an index must
    * key exactly what was captured, unlike [[canonicalUrl]] which
    * strips tracking params for dedup). A string without a scheme
    * comes back unchanged (deterministic fallback, never null).
    *
    * Pure regex/array Columns in the shared Java-regex/RE2 subset —
    * the DuckDB twin runs the literally identical patterns with
    * list_reverse/list_sort in place of reverse/array_sort.
    */
  def surtKey(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, UrlAuthorityPat, 1))
    val host0 = when(scheme === "http",
        regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val host = regexp_replace(
      regexp_replace(host0, "\\.$", ""), "^www[0-9]*\\.", "")
    val revHost = array_join(reverse(split(host, "\\.")), ",")
    val path0 = lower(regexp_extract(noFrag, UrlPathPat, 1))
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query0 = lower(regexp_extract(noFrag, "\\?(.*)$", 1))
    val keptParams = array_sort(filter(split(query0, "&"), p => p =!= ""))
    val canonQ = array_join(keptParams, "&")
    when(scheme === "", url).otherwise(concat(revHost, lit(")"), path,
      when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ))))
  }

  /** URL shape features for URL-level quality filtering — the signal
    * set the URL-based gates in CCNet/RefinedWeb-style pipelines score
    * on without touching page content (cheap enough to run on the
    * frontier, before fetch): deep paths, digit-heavy slugs and
    * parameter-heavy dynamic URLs correlate with calendars, session
    * pages and faceted-search spam. Appends:
    *   - `url_host` (lowercased authority),
    *   - `path_depth` ("/" count in the path),
    *   - `path_digit_ppm` (digit fraction of the path, integral ppm,
    *     0 for an empty path),
    *   - `n_params` (query parameters; 0 without a query),
    *   - `has_tracking` (any [[TrackingParams]] parameter),
    *   - `url_len` (whole-URL length).
    * All per-row Columns in the shared Java-regex/RE2 subset (the
    * character-count arithmetic uses length-minus-replace, identical
    * in any engine), no explode, no shuffle.
    */
  def urlFeatures(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    // fragment stripped BEFORE the query extraction, like canonicalUrl:
    // a '?' living inside the fragment ("/p#sec?utm_x=1") is not a
    // query and must not fabricate params / tracking flags
    val noFrag = regexp_replace(u, "#.*$", "")
    val host = lower(regexp_extract(noFrag, UrlAuthorityPat, 1))
    val path = regexp_extract(noFrag, UrlPathPat, 1)
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val params = filter(split(query, "&"), p => p =!= "")
    val digits = length(path) - length(regexp_replace(path, "[0-9]", ""))
    df.withColumn("url_host", host)
      .withColumn("path_depth",
        (length(path) - length(regexp_replace(path, "/", "")))
          .cast("long"))
      .withColumn("path_digit_ppm",
        when(length(path) === 0, lit(0L)).otherwise(call_function("div",
          digits.cast("long") * lit(1000000L), length(path).cast("long"))))
      .withColumn("n_params", size(params).cast("long"))
      .withColumn("has_tracking",
        exists(params, p => p.rlike(TrackingParams)))
      .withColumn("url_len", length(u).cast("long"))
  }

  // ---- DSIR-style importance resampling (Xie et al., NeurIPS 2023,
  // "Data Selection for Language Models via Importance Resampling") ----

  /** Hashed n-gram feature OCCURRENCE rows (idCol, bucket): unigram
    * token hashes plus bigram pair hashes (ph·1000003 + ch — both
    * operands are 32-bit md5 prefixes, so the product stays ≤ ~4e15,
    * exact in a long), each folded into `buckets` slots. This is
    * DSIR's hashed n-gram feature space, built from the house
    * md5-prefix token hash so the DuckDB twin is literal.
    */
  private def dsirThin(df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val withH = df.select(col(idCol),
      transform(Dedup.tokens(col(textCol)),
        t => Dedup.tokHash(t)).as("_dhs"))
    val n = size(col("_dhs"))
    val bi = when(n >= 2, transform(sequence(lit(1), n - 1),
      i => element_at(col("_dhs"), i) * lit(1000003L)
        + element_at(col("_dhs"), i + 1)))
      .otherwise(array().cast("array<bigint>"))
    withH.select(col(idCol), explode(concat(col("_dhs"), bi)).as("_dh"))
      .select(col(idCol),
        pmod(col("_dh"), lit(buckets.toLong)).as("bucket"))
  }

  /** DSIR bucket importance weights: the Laplace-smoothed ratio of
    * target-domain vs raw-corpus bucket probabilities, integer ppm,
    *
    *   K        = (Nr + buckets) · 1e6  DIV  (Nt + buckets)
    *   w_ppm(b) = min(wCapPpm,
    *                  (cnt_t(b) + 1) · K  DIV  (cnt_r(b) + 1))
    *
    * where cnt_t/cnt_r are feature-occurrence counts in the target
    * sample / raw corpus and Nt/Nr their totals. The table is DENSE —
    * one row per bucket id in [0, buckets) — so unseen buckets carry
    * their exact smoothed weight (cnt=0 ⇒ K DIV (cnt_r+1)) and serving
    * needs no data-dependent default. `wCapPpm` bounds a single
    * target-only feature's pull on the arithmetic mean (the role the
    * log takes in the float original). Two truncating DIVs, both
    * mirrored in the oracle; numerator magnitude is bounded by
    * (Nt+buckets)·K ≈ (Nr+buckets)·1e6, exact in a long for raw
    * corpora up to ~9e12 feature occurrences — beyond that widen K's
    * product to decimal.
    *
    * Scale shape: two thin (id, bucket) explodes → partial-agg counts
    * (≤ buckets rows each) → a buckets-row table. The target side is a
    * SAMPLE by construction (DSIR's p_target is estimated from a small
    * trusted set); the raw side's count table is bucket-bounded, not
    * corpus-bounded, and hot buckets combine map-side.
    */
  def dsirWeights(target: DataFrame, raw: DataFrame, idCol: String,
      textCol: String, buckets: Int = 1 << 16,
      wCapPpm: Long = 64000000L): DataFrame = {
    require(buckets > 0 && wCapPpm > 0)
    val tThin = dsirThin(target, idCol, textCol, buckets)
    val rThin = dsirThin(raw, idCol, textCol, buckets)
    val tCnt = tThin.groupBy(col("bucket")).agg(count(lit(1)).as("_ct"))
    val rCnt = rThin.groupBy(col("bucket")).agg(count(lit(1)).as("_cr"))
    val totals = tThin.agg(count(lit(1)).as("_nt"))
      .crossJoin(rThin.agg(count(lit(1)).as("_nr")))
    val b = buckets.toLong
    target.sparkSession.range(b).select(col("id").as("bucket"))
      .join(tCnt, Seq("bucket"), "left")
      .join(rCnt, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        least(lit(wCapPpm), call_function("div",
          (coalesce(col("_ct"), lit(0L)) + 1L) *
            call_function("div", (col("_nr") + b) * 1000000L,
              col("_nt") + b),
          coalesce(col("_cr"), lit(0L)) + 1L)).as("w_ppm"))
  }

  /** Score and deterministically resample with a [[dsirWeights]]
    * table: `importance_ppm` = mean bucket weight over the document's
    * feature occurrences — the rational surrogate for DSIR's
    * log-space importance product (the same engine-exact-in-any-order
    * determinism trade [[tokenClassWeights]] and BM25's idf surrogate
    * make; a float deployment can swap in Σ log w freely). `kept` is
    * the Bernoulli variant of importance resampling the paper also
    * uses: keep iff the per-id uniform (the engine-portable
    * [[hashSlot]] hash, ppm-scaled) falls below
    * min(1e6, importance_ppm · scalePpm DIV 1e6), so
    * E[kept] = Σ_doc min(1, w · scale) and the draw is reproducible
    * across runs, partitionings and engines — Gumbel-top-k exact-size
    * selection needs logs; for a fixed-size integer-exact variant rank
    * by importance and use [[keepTopNPerStratum]].
    *
    * Scale shape: one thin explode joins the BROADCAST dense weight
    * table (buckets rows) and re-aggregates per doc with partial
    * aggregation; document text never enters a shuffle (the final
    * attach is an id-keyed join back to the input).
    */
  def dsirResample(df: DataFrame, weights: DataFrame, idCol: String,
      textCol: String, buckets: Int = 1 << 16,
      scalePpm: Long = 1000000L, salt: String = "dsir",
      broadcastWeights: Boolean = true): DataFrame = {
    require(buckets > 0 && scalePpm > 0)
    val w = if (broadcastWeights) broadcast(weights) else weights
    val scored = dsirThin(df, idCol, textCol, buckets)
      .join(w, Seq("bucket"), "left") // dense table: never misses
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_nf"), sum(col("w_ppm")).as("_ws"))
    df.join(scored, Seq(idCol), "left")
      .withColumn("n_features", coalesce(col("_nf"), lit(0L)))
      .withColumn("importance_ppm",
        when(col("n_features") > 0, expr("_ws DIV n_features"))
          .otherwise(lit(0L)).cast("long"))
      .withColumn("kept",
        hashSlot(col(idCol), salt).cast("long") * 100L <
          least(lit(1000000L), call_function("div",
            col("importance_ppm") * scalePpm, lit(1000000L))))
      .drop("_nf", "_ws")
  }
}
