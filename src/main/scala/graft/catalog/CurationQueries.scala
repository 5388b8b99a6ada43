package graft
package catalog

import graft.ops.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared._

/** Curation operators: quality gates, boilerplate and PII scrubs,
  * decontamination, mixing, packing and the other [[graft.ops.Curation]] stages.
  */
object CurationQueries {
  /** Blocklist used by q58 (shared with its oracle): one whole-domain
    * entry and one exact-host entry.
    */
  private val BlockedDomains =
    Seq("example0.com", "src3-2.example1.com")

  /** q61's planted-spam construction (shared with its oracle): spam
    * vocabulary (digit-interleaved, cannot occur in the word salad) on
    * five sources, seed bad labels on two, host-mean block threshold
    * between the clean baseline (~500k ppm) and the spam lift.
    */
  private val SpamSources = Seq("src0", "src1", "src2", "src3", "src4")

  private val SeedBadSources = Seq("src0", "src1")

  private val SpamPhrase =
    "caszino b0nus fr3e p1lls w1nner jackp0t 0ffer cl1ck"

  private val BlockMeanPpm = 515000L

  /** Shared planted-contamination input for q45/q59: docs %11==3 get
    * eval item id%10 appended; the digit-interleaved phrases cannot
    * occur in the synthetic word-salad text, so expected hits are
    * exactly the planted spans.
    */
  private def decontamInput(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val did = col("doc_id").cast("long")
    def item(i: Column): Column = concat(
      lit("evaluation benchmark item "), i.cast("string"),
      lit(" the quick brown fox number "), i.cast("string"),
      lit(" jumps over the lazy dog "), i.cast("string"))
    val docs = t(s, d, "documents")
    val bench = docs.filter(col("doc_id") < 10)
      .select(col("doc_id"), item(col("doc_id")).as("btext"))
    val corpus = docs.select(col("doc_id"),
      when(pmod(did, lit(11)) === 3,
        concat(col("text"), lit(" "), item(pmod(did, lit(10)))))
        .otherwise(col("text")).as("text"))
    (corpus, bench)
  }

  /** Boilerplate sentences planted by q55 (shared with its oracle). */
  private val PlantSubscribe = "please subscribe to our channel " +
    "newsletter and enable notifications today thank you"

  private val PlantCookie = "this website uses cookies to improve " +
    "your experience accept all cookies to continue"

  /** Shared CTE chain for the hashed-token-classifier oracles
    * (q57/q61): train on the hash-split train docs of `src` with weak
    * label `labelSql`, prior-centered clamped weights, score every
    * document of `src`. Yields CTE `agg(doc_id, n, ss)` — token count
    * and neutral-filled weight sum per doc.
    */
  private def clfSqlCtesOver(src: String, labelSql: String): String =
    s"""tr AS (SELECT doc_id, $labelSql AS lb, text
        FROM $src
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
            || ':split'), 1, 8)) AS BIGINT) % 10000 < 8000
          AND ($labelSql) IS NOT NULL),
      prior AS (SELECT (SUM(CASE WHEN lb THEN 1 ELSE 0 END) * 1000000)
          // COUNT(*) AS pp FROM tr),
      thin AS (SELECT DISTINCT doc_id, lb,
          CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 65536
            AS bucket
        FROM (SELECT doc_id, lb, unnest(list_distinct($toksSql)) AS tk
          FROM tr)),
      wt AS (SELECT bucket, GREATEST(0, LEAST(1000000,
          (SUM(CASE WHEN lb THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
            + 500000 - pp)) AS w
        FROM thin, prior GROUP BY bucket, pp),
      sc AS (SELECT doc_id,
          CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 65536
            AS bucket
        FROM (SELECT doc_id, unnest($toksSql) AS tk FROM $src)),
      agg AS (SELECT sc.doc_id, COUNT(*) AS n,
          SUM(COALESCE(w, 500000)) AS ss
        FROM sc LEFT JOIN wt USING (bucket) GROUP BY sc.doc_id)"""

  private lazy val clfSqlCtes: String =
    clfSqlCtesOver("documents", "lang = 'en'")

  /** q165/q166 oracle fragment: content-defined chunks ending in
    * `chk(id, chunk_idx, start, chunk_len, chunk_hash)`.
    */
  private lazy val cdcChunksCtesSql: String =
    s"""t AS (SELECT CAST(doc_id AS BIGINT) AS id, $toksSql AS tk
          FROM documents),
        h AS (SELECT id, tk, list_transform(tk,
            tkx -> CAST(('0x' || substr(md5(tkx), 1, 8)) AS BIGINT))
            AS th
          FROM t),
        b AS (SELECT id, tk, CASE WHEN len(tk) >= 5
            THEN list_filter(generate_series(3, len(tk) - 2),
              i -> (th[i + 1] * 3 + th[i] * 5 + th[i - 1] * 7 +
                th[i - 2] * 11) % 16 = 0)
            ELSE CAST([] AS BIGINT[]) END AS bs
          FROM h),
        se AS (SELECT id, tk,
            [CAST(0 AS BIGINT)] || list_transform(bs, x -> x + 1)
              AS starts,
            list_transform(bs, x -> x + 1) ||
              [CAST(len(tk) AS BIGINT)] AS ends
          FROM b),
        ch AS (SELECT id, u.p.j - 1 AS chunk_idx, starts[u.p.j] AS s,
            ends[u.p.j] AS e, tk
          FROM se, unnest(list_transform(generate_series(1, len(starts)),
            j -> struct_pack(j := j))) u(p)),
        chk AS (SELECT id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
          CAST(s AS BIGINT) AS start, CAST(e - s AS BIGINT)
            AS chunk_len,
          md5(array_to_string(tk[s + 1 : e], ' ')) AS chunk_hash
          FROM ch WHERE e > s)"""

  def specs: Seq[QuerySpec] = Seq(
    // curation: PII redaction (emails/IPs/phones synthesized onto the
    // text deterministically; counts on raw, redaction chained)
    QuerySpec("q38_pii", (s, d) => {
      val did = col("doc_id").cast("long")
      val aug = concat(col("text"),
        lit(" Contact user"), pmod(did, lit(7)).cast("string"),
        lit("@example."),
        when(pmod(did, lit(2)) === 0, lit("com")).otherwise(lit("org")),
        lit(" from "), pmod(did, lit(256)).cast("string"), lit("."),
        pmod(did * 7, lit(256)).cast("string"), lit(".0.1"),
        when(pmod(did, lit(4)) === 0,
          concat(lit(" tel +41 44 "),
            lpad(pmod(did, lit(10000)).cast("string"), 4, "0"),
            lit(" 00"))).otherwise(lit("")))
      val base = t(s, d, "documents").select(col("doc_id"), aug.as("aug"))
      val counted = Curation.piiCounts(col("aug"))
        .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
      counted
        .withColumn("redacted", Curation.piiRedact(col("aug")))
        .select(col("doc_id"), col("n_email").cast("long").as("n_email"),
          col("n_ip").cast("long").as("n_ip"),
          col("n_phone").cast("long").as("n_phone"),
          length(col("redacted")).cast("long").as("red_len"),
          md5(col("redacted")).as("red_md5"))
        .orderBy("doc_id")
    },
    Some {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\+[0-9][0-9 ()./-]{6,}[0-9]"
      s"""WITH f AS (SELECT doc_id, concat(text,
          ' Contact user', CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR),
          '@example.',
          CASE WHEN CAST(doc_id AS BIGINT) % 2 = 0 THEN 'com' ELSE 'org' END,
          ' from ', CAST(CAST(doc_id AS BIGINT) % 256 AS VARCHAR), '.',
          CAST((CAST(doc_id AS BIGINT) * 7) % 256 AS VARCHAR), '.0.1',
          CASE WHEN CAST(doc_id AS BIGINT) % 4 = 0
            THEN concat(' tel +41 44 ',
              lpad(CAST(CAST(doc_id AS BIGINT) % 10000 AS VARCHAR), 4, '0'),
              ' 00')
            ELSE '' END) AS aug FROM documents),
        r AS (SELECT doc_id, aug,
          regexp_replace(regexp_replace(regexp_replace(aug,
            '$email', '<EMAIL>', 'g'),
            '$ip', '<IP>', 'g'),
            '$phone', '<PHONE>', 'g') AS red FROM f)
        SELECT doc_id,
          CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(aug, '$ip')) AS BIGINT) AS n_ip,
          CAST(len(regexp_extract_all(aug, '$phone')) AS BIGINT) AS n_phone,
          CAST(length(red) AS BIGINT) AS red_len, md5(red) AS red_md5
        FROM r ORDER BY doc_id"""
    }),
    // curation: Gopher-style repetition/symbol features (integer ppm)
    // over multi-line text synthesized with a deterministic dup line
    QuerySpec("q39_repetition", (s, d) => {
      val did = col("doc_id").cast("long")
      val promo = "Click here to read more..."
      val aug = concat_ws("\n", col("text"),
        lit("- first point"), lit("- second point"), lit(promo),
        when(pmod(did, lit(2)) === 0, lit(promo)),
        when(pmod(did, lit(3)) === 0, lit("# heading " + promo)))
      val base = t(s, d, "documents").select(col("doc_id"), aug.as("aug"))
      Curation.repetitionFeatures(col("aug"))
        .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
        .withColumn("top2gram_ppm", Curation.topNgramCharPpm(col("aug"), 2))
        .drop("aug")
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id, concat_ws(chr(10), text,
          '- first point', '- second point', 'Click here to read more...',
          CASE WHEN CAST(doc_id AS BIGINT) % 2 = 0
            THEN 'Click here to read more...' END,
          CASE WHEN CAST(doc_id AS BIGINT) % 3 = 0
            THEN '# heading Click here to read more...' END) AS aug
          FROM documents),
        l AS (SELECT doc_id, aug,
          list_filter(list_transform(string_split(aug, chr(10)),
            x -> trim(x)), x -> x != '') AS ls FROM f),
        m AS (SELECT doc_id, aug, ls,
          CAST(len(ls) AS BIGINT) AS n,
          CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS ndup,
          CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0)
            AS BIGINT) AS chars,
          CAST(coalesce(list_sum(list_transform(list_distinct(ls),
            x -> length(x))), 0) AS BIGINT) AS fchars,
          CAST(len(list_filter(ls, x -> regexp_matches(x, '^[-*•]')))
            AS BIGINT) AS bullets,
          CAST(len(list_filter(ls, x -> regexp_matches(x, '\.\.\.$')))
            AS BIGINT) AS ell_lines,
          CAST(length(aug) - length(regexp_replace(aug, '#', '', 'g'))
            AS BIGINT) AS hashes,
          CAST(len(regexp_extract_all(aug, '\.\.\.')) AS BIGINT) AS ells,
          CAST(len(list_filter(regexp_split_to_array(trim(aug), '\s+'),
            t -> t != '')) AS BIGINT) AS toks FROM l),
        gr AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(tk) - 1, 0)),
            i -> array_to_string(tk[i:i+1], ' '))) AS g
          FROM (SELECT doc_id, list_filter(regexp_split_to_array(
            lower(trim(aug)), '\s+'), t -> t != '') AS tk FROM f)),
        bt AS (SELECT doc_id, max(cnt * length(g)) AS best FROM
          (SELECT doc_id, g, count(*) AS cnt FROM gr GROUP BY 1, 2)
          GROUP BY 1)
        SELECT doc_id, n AS n_lines,
          CAST(CASE WHEN n > 0 THEN (ndup * 1000000) // n ELSE 0 END
            AS BIGINT) AS dup_line_ppm,
          CAST(CASE WHEN chars > 0
            THEN ((chars - fchars) * 1000000) // chars ELSE 0 END
            AS BIGINT) AS dup_char_ppm,
          CAST(CASE WHEN n > 0 THEN (bullets * 1000000) // n ELSE 0 END
            AS BIGINT) AS bullet_ppm,
          CAST(CASE WHEN n > 0 THEN (ell_lines * 1000000) // n ELSE 0 END
            AS BIGINT) AS ellipsis_ppm,
          CAST(CASE WHEN toks > 0
            THEN ((hashes + ells) * 1000000) // toks ELSE 0 END
            AS BIGINT) AS symbol_ppm,
          CAST(CASE WHEN length(aug) > 0
            THEN (coalesce(best, 0) * 1000000) // length(aug) ELSE 0 END
            AS BIGINT) AS top2gram_ppm
        FROM m LEFT JOIN bt USING (doc_id) ORDER BY doc_id""")),
    // curation: corpus-level duplicated-paragraph removal — boilerplate
    // paragraphs injected into every 3rd/5th doc are detected by exact
    // hash across >= 3 distinct docs and stripped; only (id,pos,hash)
    // rows shuffle
    QuerySpec("q40_para_dedup", (s, d) => {
      val did = col("doc_id").cast("long")
      val aug = concat_ws("\n\n",
        when(pmod(did, lit(3)) === 0,
          lit("Subscribe to our newsletter for updates.")),
        col("text"),
        when(pmod(did, lit(5)) === 0,
          lit("All rights reserved. Terms of use apply.")))
      val docs = t(s, d, "documents").select(col("doc_id"), aug.as("aug"))
      Curation.dropDuplicatedParagraphs(docs, "doc_id", "aug", minDocs = 3)
        .select(col("doc_id"), col("n_paras").cast("long").as("n_paras"),
          col("n_dropped").cast("long").as("n_dropped"),
          length(col("clean_text")).cast("long").as("clean_len"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id, concat_ws(chr(10)||chr(10),
          CASE WHEN CAST(doc_id AS BIGINT) % 3 = 0
            THEN 'Subscribe to our newsletter for updates.' END,
          text,
          CASE WHEN CAST(doc_id AS BIGINT) % 5 = 0
            THEN 'All rights reserved. Terms of use apply.' END) AS aug
          FROM documents),
        p0 AS (SELECT doc_id,
          list_filter(list_transform(regexp_split_to_array(aug, '\n{2,}'),
            p -> trim(p)), p -> p != '') AS paras FROM f),
        th AS (SELECT doc_id,
          unnest(list_transform(paras, p -> md5(p))) AS ph,
          unnest(range(1, len(paras) + 1)) AS pos FROM p0),
        dup AS (SELECT ph FROM th GROUP BY ph
          HAVING count(DISTINCT doc_id) >= 3),
        dr AS (SELECT doc_id, list(pos) AS dp
          FROM th JOIN dup USING (ph) GROUP BY doc_id),
        cl AS (SELECT p0.doc_id, paras,
          coalesce(dp, CAST([] AS BIGINT[])) AS dp
          FROM p0 LEFT JOIN dr ON p0.doc_id = dr.doc_id),
        fin AS (SELECT doc_id,
          CAST(len(paras) AS BIGINT) AS n_paras,
          CAST(len(dp) AS BIGINT) AS n_dropped,
          array_to_string(list_filter(paras,
            (p, i) -> NOT list_contains(dp, i)),
            chr(10)||chr(10)) AS ct FROM cl)
        SELECT doc_id, n_paras, n_dropped,
          CAST(length(ct) AS BIGINT) AS clean_len, md5(ct) AS clean_md5
        FROM fin ORDER BY doc_id""")),
    // curation: the COMPOSED end-to-end pipeline (quality gate → PII
    // redact → corpus paragraph dedup → exact dedup → minhash near-dup
    // dedup) over a corpus synthesized to exercise every stage:
    // repetition-spam docs (%17), exact-dup pairs (%10<2), near-dup
    // pairs (%10∈{4,5}), shared boilerplate paragraphs and per-doc PII
    // lines that become identical — and droppable — only after
    // redaction. Fully oracle-checked, including the recursive
    // component fold.
    QuerySpec("q43_curate", (s, d) => {
      val did = col("doc_id").cast("long")
      val promoLine = "Click here to read more about this offer now"
      val promoDoc = Seq.fill(8)(promoLine).mkString("\n")
      // the group token is INTERLEAVED through the bodies (not a
      // suffix) so different groups share almost no shingles —
      // otherwise every group lands in the same LSH buckets and the
      // within-bucket join goes quadratic (the q28 degenerate case)
      val gt = concat(lit("g"), expr("CAST(doc_id AS BIGINT) DIV 10")
        .cast("string"))
      val body = when(pmod(did, lit(17)) === 0, lit(promoDoc))
        .when(pmod(did, lit(10)) < 2,
          concat(lit("the shared body "), gt, lit(" of group "), gt,
            lit(" is exactly "), gt, lit(" the same here "), gt))
        .when(pmod(did, lit(10)).isin(4, 5),
          concat(lit("the near duplicate body "), gt, lit(" one two "),
            gt, lit(" three four "), gt, lit(" five six "), gt, lit(" "),
            when(pmod(did, lit(10)) === 4, lit("alpha"))
              .otherwise(lit("beta"))))
        .otherwise(col("text"))
      val pii = concat(lit("Contact user"), pmod(did, lit(7)).cast("string"),
        lit("@example.com from "), pmod(did, lit(256)).cast("string"),
        lit(".0.0.1"))
      val aug = concat_ws("\n\n",
        when(pmod(did, lit(3)) === 0,
          lit("Subscribe to our newsletter for updates.")),
        body, pii,
        when(pmod(did, lit(5)) === 0,
          lit("All rights reserved. Terms of use apply.")))
      val docs = tSpread(s, d, "documents").select(col("doc_id"), aug.as("aug"))
      Curation.curate(docs, "doc_id", "aug")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some {
      val (scCols, langCase) = langIdSqlParts
      val piiRed = graft.ops.Curation.PiiPatterns
        .foldLeft("text") { case (acc, (_, re, tag)) =>
          s"regexp_replace($acc, '$re', '$tag', 'g')"
        }
      val lsSql = """list_filter(list_transform(string_split(text,
        chr(10)), x -> trim(x)), x -> x != '')"""
      val dlpSql = s"""CAST(CASE WHEN len($lsSql) > 0
        THEN ((len($lsSql) - len(list_distinct($lsSql))) * 1000000)
          // len($lsSql) ELSE 0 END AS BIGINT)"""
      val promo = "Click here to read more about this offer now"
      s"""WITH RECURSIVE
        b0 AS (SELECT doc_id, CAST(doc_id AS BIGINT) AS did,
          text AS orig FROM documents),
        synth AS (SELECT doc_id, concat_ws(chr(10)||chr(10),
          CASE WHEN did % 3 = 0
            THEN 'Subscribe to our newsletter for updates.' END,
          CASE WHEN did % 17 = 0
            THEN repeat('$promo' || chr(10), 7) || '$promo'
          WHEN did % 10 < 2 THEN concat('the shared body ',
            'g' || CAST(did // 10 AS VARCHAR), ' of group ',
            'g' || CAST(did // 10 AS VARCHAR), ' is exactly ',
            'g' || CAST(did // 10 AS VARCHAR), ' the same here ',
            'g' || CAST(did // 10 AS VARCHAR))
          WHEN did % 10 IN (4, 5) THEN concat('the near duplicate body ',
            'g' || CAST(did // 10 AS VARCHAR), ' one two ',
            'g' || CAST(did // 10 AS VARCHAR), ' three four ',
            'g' || CAST(did // 10 AS VARCHAR), ' five six ',
            'g' || CAST(did // 10 AS VARCHAR), ' ',
            CASE WHEN did % 10 = 4 THEN 'alpha' ELSE 'beta' END)
          ELSE orig END,
          concat('Contact user', CAST(did % 7 AS VARCHAR),
            '@example.com from ', CAST(did % 256 AS VARCHAR), '.0.0.1'),
          CASE WHEN did % 5 = 0
            THEN 'All rights reserved. Terms of use apply.' END) AS text
          FROM b0),
        scx AS (SELECT doc_id, text, $scCols FROM synth),
        lg AS (SELECT doc_id, text, $langCase AS lang FROM scx),
        gate0 AS (SELECT doc_id, lang, text FROM lg
          WHERE lang != 'und' AND len($toksSql) >= 10
            AND $dlpSql <= 300000),
        gate AS (SELECT doc_id, lang, $piiRed AS text FROM gate0),
        p0 AS (SELECT doc_id, lang,
          list_filter(list_transform(regexp_split_to_array(text, '\n{2,}'),
            p -> trim(p)), p -> p != '') AS paras FROM gate),
        th AS (SELECT doc_id,
          unnest(list_transform(paras, p -> md5(p))) AS ph,
          unnest(range(1, len(paras) + 1)) AS pos FROM p0),
        dup AS (SELECT ph FROM th GROUP BY ph
          HAVING count(DISTINCT doc_id) >= 3),
        dr AS (SELECT doc_id, list(pos) AS dp
          FROM th JOIN dup USING (ph) GROUP BY doc_id),
        clx AS (SELECT p0.doc_id, lang, array_to_string(list_filter(paras,
          (p, i) -> NOT list_contains(
            coalesce(dp, CAST([] AS BIGINT[])), i)),
          chr(10)||chr(10)) AS ct
          FROM p0 LEFT JOIN dr ON p0.doc_id = dr.doc_id),
        ex AS (SELECT doc_id, lang, ct FROM (SELECT *, row_number()
          OVER (PARTITION BY md5(ct) ORDER BY doc_id) AS rn FROM clx)
          WHERE rn = 1),
        dd AS (SELECT doc_id, lang, ct AS text FROM ex),
        ${lshPairsCtesOver(3, 0, "dd")},
        edges AS (SELECT a, b FROM pairs WHERE est_jaccard >= 0.5
          UNION SELECT b, a FROM pairs WHERE est_jaccard >= 0.5),
        comp(id, canon) AS (
          SELECT doc_id, doc_id FROM dd
          UNION
          SELECT e.a, c.canon FROM edges e JOIN comp c ON c.id = e.b),
        cn AS (SELECT id, MIN(canon) AS canonical FROM comp GROUP BY 1)
        SELECT d.doc_id, d.lang,
          CAST(len($toksSql) AS BIGINT) AS n_tokens,
          md5(d.text) AS clean_md5
        FROM dd d JOIN cn ON cn.id = d.doc_id AND cn.canonical = d.doc_id
        ORDER BY doc_id"""
    }),
    // curation: deterministic hash-based train/val/test split + sample
    // (stable across runs/partitionings/engines, unlike rand())
    QuerySpec("q44_hash_split", (s, d) =>
      t(s, d, "documents")
        .withColumn("split", Curation.hashSplit(col("doc_id"),
          Seq("train" -> 8, "val" -> 1, "test" -> 1)))
        .withColumn("sampled",
          Curation.sampledByHash(col("doc_id"), 0.25))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
        .orderBy("split", "lang"),
    Some("""WITH s AS (SELECT lang,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
            1, 8)) AS BIGINT) % 10000 AS slot,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
            1, 8)) AS BIGINT) % 10000 AS sslot
          FROM documents)
        SELECT CASE WHEN slot < 8000 THEN 'train'
            WHEN slot < 9000 THEN 'val' ELSE 'test' END AS split,
          lang, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN sslot < 2500 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_sampled
        FROM s GROUP BY 1, 2 ORDER BY 1, 2""")),
    // curation: benchmark decontamination — n-gram overlap of every
    // corpus doc against a synthesized eval set. Contamination is
    // PLANTED deterministically (docs %11==3 get eval item id%10
    // appended); the digit-interleaved phrases cannot occur in the
    // synthetic word-salad text, so expected hits are exactly the
    // planted spans. Fully oracle-checked.
    QuerySpec("q45_decontam", (s, d) => {
      val (corpus, bench) = decontamInput(s, d)
      Curation.contaminationStats(corpus, bench, "doc_id", "text",
        "btext", n = 8)
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          col("contamination_ppm"))
        .orderBy("doc_id")
    },
    // q45: same planted-benchmark construction, same shingle unit as
    // the Spark side (distinct word 8-grams, md5-prefix-32 hashed),
    // overlap counted over DISTINCT grams per doc
    Some {
      def itemSql(i: String): String =
        s"""'evaluation benchmark item ' || $i ||
          ' the quick brown fox number ' || $i ||
          ' jumps over the lazy dog ' || $i"""
      s"""WITH bench AS (SELECT
          ${itemSql("CAST(doc_id AS VARCHAR)")} AS text
          FROM documents WHERE doc_id < 10),
        bg AS (SELECT DISTINCT
            CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS gh
          FROM (SELECT unnest(${shingleSql(8)}) AS g FROM bench)),
        corpus AS (SELECT doc_id,
          CASE WHEN doc_id % 11 = 3
            THEN text || ' ' || (${itemSql("CAST(doc_id % 10 AS VARCHAR)")})
            ELSE text END AS text
          FROM documents),
        cg AS (SELECT doc_id, ${shingleSql(8)} AS grams FROM corpus),
        ex AS (SELECT doc_id,
            CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS gh
          FROM (SELECT doc_id, unnest(grams) AS g FROM cg)),
        hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
          FROM ex JOIN bg USING (gh) GROUP BY doc_id)
        SELECT cg.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
          CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
          CAST(CASE WHEN len(grams) > 0
            THEN (COALESCE(n_hit, 0) * 1000000) // len(grams)
            ELSE 0 END AS BIGINT) AS contamination_ppm
        FROM cg LEFT JOIN hits ON cg.doc_id = hits.doc_id
        ORDER BY cg.doc_id"""
    }),
    // curation: the 100 TB decontamination shape — the benchmark gram
    // set compressed to a driver-built Bloom filter evaluated MAP-SIDE
    // on every corpus gram (pure-Column bit probes, no UDF), exact
    // broadcast-join confirm removes false positives. Same planted
    // contamination as q45; the oracle pins the output to the exact
    // semantics, proving the prefilter costs nothing.
    QuerySpec("q59_bloom_decontam", (s, d) => {
      val (corpus, bench) = decontamInput(s, d)
      Curation.decontaminateExact(corpus, bench, "doc_id", "text",
        "btext", n = 8, bloomBits = 1 << 16)
        .orderBy("doc_id")
    },
    // q59: EXACT decontamination semantics (same CTEs as q45) — the
    // Bloom prefilter on the Spark side must not change the output
    Some {
      def itemSql(i: String): String =
        s"""'evaluation benchmark item ' || $i ||
          ' the quick brown fox number ' || $i ||
          ' jumps over the lazy dog ' || $i"""
      s"""WITH bench AS (SELECT
          ${itemSql("CAST(doc_id AS VARCHAR)")} AS text
          FROM documents WHERE doc_id < 10),
        bg AS (SELECT DISTINCT
            CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS gh
          FROM (SELECT unnest(${shingleSql(8)}) AS g FROM bench)),
        corpus AS (SELECT doc_id,
          CASE WHEN doc_id % 11 = 3
            THEN text || ' ' || (${itemSql("CAST(doc_id % 10 AS VARCHAR)")})
            ELSE text END AS text
          FROM documents),
        cg AS (SELECT doc_id, ${shingleSql(8)} AS grams FROM corpus),
        ex AS (SELECT doc_id,
            CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS gh
          FROM (SELECT doc_id, unnest(grams) AS g FROM cg)),
        hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
          FROM ex JOIN bg USING (gh) GROUP BY doc_id)
        SELECT cg.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
          CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
          COALESCE(n_hit, 0) > 0 AS contaminated
        FROM cg LEFT JOIN hits ON cg.doc_id = hits.doc_id
        ORDER BY cg.doc_id"""
    }),
    // curation: surgical decontamination — the planted benchmark spans
    // are REMOVED in place (doc kept), boundary-straddling grams stay
    // because they never occur in the benchmark itself
    QuerySpec("q63_scrub_contam", (s, d) => {
      val (corpus, bench) = decontamInput(s, d)
      Curation.removeBenchmarkSpans(corpus, bench, "doc_id", "text",
        "btext", n = 8, bloomBits = 1 << 16)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("removed_ppm"), md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    // q63: benchmark gram hashes (as q59) flag gram starts; the q55
    // coverage mask recomputes the scrubbed text
    Some {
      def itemSql(i: String): String =
        s"""'evaluation benchmark item ' || $i ||
          ' the quick brown fox number ' || $i ||
          ' jumps over the lazy dog ' || $i"""
      s"""WITH bench AS (SELECT
          ${itemSql("CAST(doc_id AS VARCHAR)")} AS text
          FROM documents WHERE doc_id < 10),
        bg AS (SELECT DISTINCT
            CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS gh
          FROM (SELECT unnest(${shingleSql(8)}) AS g FROM bench)),
        corpus AS (SELECT doc_id,
          CASE WHEN doc_id % 11 = 3
            THEN text || ' ' || (${itemSql("CAST(doc_id % 10 AS VARCHAR)")})
            ELSE text END AS text
          FROM documents),
        t AS (SELECT doc_id, text, $toksSql AS toks FROM corpus),
        g AS (SELECT doc_id, i - 1 AS pos,
            CAST(('0x' || substr(md5(array_to_string(toks[i : i + 7],
              ' ')), 1, 8)) AS BIGINT) AS gh
          FROM (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - 7)) AS i
            FROM t WHERE len(toks) >= 8)),
        fp AS (SELECT doc_id, list(pos) AS fps
          FROM g JOIN bg USING (gh) GROUP BY doc_id),
        k AS (SELECT t.doc_id, text, toks,
            list_filter(range(0, len(toks)), j -> len(list_filter(
              coalesce(fps, CAST([] AS BIGINT[])),
              p -> p <= j AND j < p + 8)) = 0) AS keep
          FROM t LEFT JOIN fp ON t.doc_id = fp.doc_id)
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(toks) - len(keep) AS BIGINT) AS n_removed,
          CAST(CASE WHEN len(toks) > 0
            THEN ((len(toks) - len(keep)) * 1000000) // len(toks)
            ELSE 0 END AS BIGINT) AS removed_ppm,
          md5(CASE WHEN len(keep) = len(toks) THEN text
            ELSE coalesce(array_to_string(list_transform(keep,
              j -> toks[j + 1]), ' '), '') END) AS clean_md5
        FROM k ORDER BY doc_id"""
    }),
    // curation: sequence packing — concat-then-chunk assignment of
    // every doc to (shard, seq, offset) training-sequence slots
    QuerySpec("q46_pack", (s, d) =>
      Curation.packSequences(t(s, d, "documents"), "doc_id", "text",
        seqLen = 512, shards = 8)
        .orderBy("doc_id"),
    // q46: per-shard running token offset (separator-inclusive), cut
    // into 512-token sequences; // is DuckDB's integer DIV twin
    Some("""WITH thin AS (SELECT doc_id,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':pack'),
            1, 8)) AS BIGINT) % 8 AS shard,
          md5(CAST(doc_id AS VARCHAR) || ':pack:o') AS ord,
          CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
            t -> t != '')) AS BIGINT) + 1 AS sz
          FROM documents),
        c AS (SELECT doc_id, shard, sz,
          CAST(SUM(sz) OVER (PARTITION BY shard ORDER BY ord, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
          FROM thin)
        SELECT doc_id, shard, CAST(sz - 1 AS BIGINT) AS n_tokens,
          CAST(cum - sz AS BIGINT) AS start_offset,
          CAST((cum - sz) // 512 AS BIGINT) AS first_seq,
          CAST((cum - 1) // 512 AS BIGINT) AS last_seq,
          CAST((cum - 1) // 512 - (cum - sz) // 512 + 1 AS BIGINT)
            AS n_chunks
        FROM c ORDER BY doc_id""")),
    // curation: deterministic per-language token-budget sampling (the
    // data-mixing step: each language contributes at most N tokens,
    // chosen as a stable hash-order prefix)
    QuerySpec("q47_token_budget", (s, d) =>
      Curation.tokenBudgetAssign(
        t(s, d, "documents").withColumn("n_toks",
          TextAnalysis.tokenCount(col("text"))),
        "doc_id", "lang", "n_toks",
        budgets = Map("en" -> 3000L, "zh" -> 800L),
        defaultBudget = 1000L)
        .orderBy("doc_id"),
    // q47: per-language cumulative token offsets in md5(id:budget)
    // order; kept = the budgeted hash-order prefix (incl. straddler)
    Some(s"""WITH thin AS (SELECT doc_id, lang,
          CAST(len($toksSql) AS BIGINT) AS n_tokens,
          md5(CAST(doc_id AS VARCHAR) || ':budget') AS ord
          FROM documents),
        c AS (SELECT doc_id, lang, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY ord, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - n_tokens AS BIGINT) AS start_tok
          FROM thin)
        SELECT doc_id, lang, n_tokens, start_tok,
          start_tok < (CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 800
            ELSE 1000 END) AS kept
        FROM c ORDER BY doc_id""")),
    // curation: temperature-scaled language rebalancing (share^0.5
    // mixing rule, integer-quantized weights for engine-exact parity)
    QuerySpec("q49_temp_resample", (s, d) =>
      Curation.temperatureResample(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", alpha = 0.5, keepFraction = 0.5)
        .select(col("doc_id"), col("lang"), col("keep_slots"),
          col("kept"))
        .orderBy("doc_id"),
    // q49: same fixed float expression tree as temperatureResample —
    // integer-quantized weights keep the cross-stratum sum exact in
    // any accumulation order
    Some("""WITH h AS (SELECT lang, count(*) AS n FROM documents
          GROUP BY lang),
        c AS (SELECT lang, n,
          CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT)
            AS wq FROM h),
        tot AS (SELECT lang, n, wq, SUM(wq) OVER () AS w_tot,
          SUM(n) OVER () AS n_tot FROM c),
        cut AS (SELECT lang, CAST(floor(least(1.0,
            (0.5 * (CAST(wq AS DOUBLE) / CAST(w_tot AS DOUBLE)))
            * (CAST(n_tot AS DOUBLE) / CAST(n AS DOUBLE)))
            * 10000.0) AS BIGINT) AS keep_slots
          FROM tot)
        SELECT d.doc_id, d.lang, cut.keep_slots,
          (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
            || ':resample'), 1, 8)) AS BIGINT) % 10000)
            < cut.keep_slots AS kept
        FROM documents d JOIN cut USING (lang) ORDER BY d.doc_id""")),
    // curation: URL canonicalization + URL-level dedup (tracking-param
    // strip, scheme/host case, default ports, param sort; rep = min
    // doc_id per canonical group)
    QuerySpec("q48_url_canon", (s, d) => {
      val did = col("doc_id").cast("long")
      val scheme = when(pmod(did, lit(2)) === 0, lit("HTTP://"))
        .otherwise(lit("https://"))
      val port = when(pmod(did, lit(4)) === 0, lit(":80"))
        .when(pmod(did, lit(4)) === 1, lit(":8080"))
        .otherwise(lit(""))
      val query = when(pmod(did, lit(3)) === 0,
          lit("?utm_source=feed&z=1&a=2"))
        .when(pmod(did, lit(3)) === 1, lit("?fbclid=XYZ"))
        .otherwise(lit(""))
      val frag = when(pmod(did, lit(5)) === 0, lit("#Section2"))
        .otherwise(lit(""))
      val url = concat(scheme, lit("WWW"), pmod(did, lit(5)).cast("string"),
        lit(".Example"), pmod(did, lit(3)).cast("string"), lit(".COM"),
        port, lit("/Doc/"), pmod(did, lit(25)).cast("string"), query, frag)
      val w = Window.partitionBy(col("canon_url")).orderBy(col("doc_id"))
      t(s, d, "documents").select(col("doc_id"), url.as("url"))
        .withColumn("canon_url", Curation.canonicalUrl(col("url")))
        .withColumn("is_rep", row_number().over(w) === 1)
        .orderBy("doc_id")
    },
    // q48: literally the same regexes/cases as Curation.canonicalUrl
    Some("""WITH u AS (SELECT doc_id,
          (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
          || 'WWW' || CAST(doc_id % 5 AS VARCHAR) || '.Example'
          || CAST(doc_id % 3 AS VARCHAR) || '.COM'
          || (CASE WHEN doc_id % 4 = 0 THEN ':80'
              WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
          || '/Doc/' || CAST(doc_id % 25 AS VARCHAR)
          || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&z=1&a=2'
              WHEN doc_id % 3 = 1 THEN '?fbclid=XYZ' ELSE '' END)
          || (CASE WHEN doc_id % 5 = 0 THEN '#Section2' ELSE '' END)
            AS url
          FROM documents),
        p AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '')
            AS nofrag FROM u),
        q AS (SELECT doc_id, url, nofrag,
          lower(regexp_extract(nofrag,
            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          lower(regexp_extract(nofrag,
            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
          regexp_extract(nofrag,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path0,
          COALESCE(array_to_string(list_sort(list_filter(
            string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
            pp -> pp != '' AND NOT regexp_matches(pp,
              '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref|mc_cid|mc_eid)(=|$)')
            )), '&'), '') AS cq
          FROM p),
        c AS (SELECT doc_id, url,
          CASE WHEN scheme = '' THEN url ELSE scheme || '://' ||
            (CASE WHEN scheme = 'http'
              THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https'
              THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END) ||
            (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
            (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) END
            AS canon_url
          FROM q)
        SELECT doc_id, url, canon_url,
          (row_number() OVER (PARTITION BY canon_url ORDER BY doc_id)
            = 1) AS is_rep
        FROM c ORDER BY doc_id""")),
    // curation: top-50 word 2-grams by document frequency (vocabulary
    // induction / boilerplate-phrase report; deterministic tie-break)
    QuerySpec("q54_vocab", (s, d) =>
      Curation.topNgrams(t(s, d, "documents"), "text", n = 2, k = 50,
        hashPrefilter = true),
    // q54: same distinct-shingle unit as the dedup family
    Some(s"""SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
          SELECT doc_id, unnest(${shingleSql(2)}) AS gram
          FROM documents)
        GROUP BY gram ORDER BY n_docs DESC, gram LIMIT 50""")),
    // curation: corpus token document frequencies + per-doc rare-token
    // ratio (OOV/garble profiling; text never shuffles, hashes do)
    QuerySpec("q53_token_df", (s, d) =>
      Curation.tokenDfStats(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
    // q53: same md5-prefix token hash both sides, so even
    // hash-collision merges reproduce
    Some(s"""WITH thin AS (SELECT DISTINCT doc_id,
          CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) AS th
          FROM (SELECT doc_id, unnest(list_distinct($toksSql)) AS tk
            FROM documents)),
        dft AS (SELECT th, COUNT(*) AS df FROM thin GROUP BY th)
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
          CAST(SUM(df) AS BIGINT) AS sum_df,
          CAST(CASE WHEN COUNT(*) > 0
            THEN (SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) * 1000000)
              // COUNT(*) ELSE 0 END AS BIGINT) AS rare_ppm
        FROM thin t JOIN dft USING (th)
        GROUP BY t.doc_id ORDER BY t.doc_id""")),
    // curation: sliding-window passage chunking (embedding/RAG
    // preprocessing; 64-token windows, 48-token stride)
    QuerySpec("q52_chunk", (s, d) =>
      Curation.chunkPassages(t(s, d, "documents"), "doc_id", "text",
        winTokens = 64, stepTokens = 48)
        .orderBy("doc_id", "chunk_id"),
    // q52: identical integer window arithmetic; both engines' list
    // slices are clamp-at-end
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        nc AS (SELECT doc_id, toks,
          CASE WHEN len(toks) <= 64 THEN 1
            ELSE (len(toks) - 64 + 47) // 48 + 1 END AS n_chunks
          FROM t),
        ex AS (SELECT doc_id, toks,
          unnest(generate_series(0, n_chunks - 1)) AS chunk_id
          FROM nc)
        SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
          CAST(len(toks[chunk_id*48 + 1 : chunk_id*48 + 64]) AS BIGINT)
            AS n_chunk_tokens,
          COALESCE(array_to_string(
            toks[chunk_id*48 + 1 : chunk_id*48 + 64], ' '), '')
            AS chunk_text
        FROM ex ORDER BY doc_id, chunk_id""")),
    // curation: per-language token-count distribution profile (exact
    // rank-based percentiles over thin rows — the monitoring table)
    QuerySpec("q50_profile", (s, d) =>
      Curation.corpusProfile(
        t(s, d, "documents").withColumn("n_toks",
          TextAnalysis.tokenCount(col("text"))),
        "lang", "n_toks")
        .orderBy("lang"),
    // q50: identical integer rank arithmetic; value-at-rank is
    // deterministic under ties
    Some(s"""WITH thin AS (SELECT lang,
          CAST(len($toksSql) AS BIGINT) AS v FROM documents),
        r AS (SELECT lang, v,
          CAST(row_number() OVER (PARTITION BY lang ORDER BY v)
            AS BIGINT) AS rn,
          CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
          FROM thin)
        SELECT lang, max(n) AS n_rows,
          CAST(sum(v) AS BIGINT) AS total,
          min(v) AS v_min, max(v) AS v_max,
          max(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN v END) AS p50,
          max(CASE WHEN rn = (90 * (n - 1)) // 100 + 1 THEN v END) AS p90,
          max(CASE WHEN rn = (99 * (n - 1)) // 100 + 1 THEN v END) AS p99
        FROM r GROUP BY lang ORDER BY lang""")),
    // curation: log2-bucket distribution profile — the unbounded-domain
    // monitoring variant (exact count/sum/min/max, percentile upper
    // bounds with the ≤2× log-bucket guarantee)
    QuerySpec("q67_profile_approx", (s, d) =>
      Curation.corpusProfileApprox(
        t(s, d, "documents").withColumn("n_toks",
          TextAnalysis.tokenCount(col("text"))),
        "lang", "n_toks")
        .orderBy("lang"),
    // q67: same log2 bucketing (DuckDB's bin() length = bit length,
    // so length(bin(v))-1 = floor(log2 v) with no float log), same
    // integer rank arithmetic, same bucket upper bounds
    Some(s"""WITH thin AS (SELECT lang,
          CAST(len($toksSql) AS BIGINT) AS v FROM documents),
        bk AS (SELECT lang, v,
          CASE WHEN v < 0 THEN -2 WHEN v = 0 THEN -1
            ELSE length(bin(v)) - 1 END AS b FROM thin),
        h AS (SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS c,
          CAST(SUM(v) AS BIGINT) AS s, MIN(v) AS mn, MAX(v) AS mx
          FROM bk GROUP BY 1, 2),
        r AS (SELECT *,
          CAST(SUM(c) OVER (PARTITION BY lang ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum,
          CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n,
          CASE WHEN b = -2 THEN CAST(-1 AS BIGINT)
            WHEN b = -1 THEN CAST(0 AS BIGINT)
            ELSE (CAST(1 AS BIGINT) << CAST(b + 1 AS INT)) - 1 END AS ub
          FROM h)
        SELECT lang, max(n) AS n_rows, CAST(sum(s) AS BIGINT) AS total,
          min(mn) AS v_min, max(mx) AS v_max,
          min(CASE WHEN cum >= (50 * (n - 1)) // 100 + 1 THEN ub END)
            AS p50_ub,
          min(CASE WHEN cum >= (90 * (n - 1)) // 100 + 1 THEN ub END)
            AS p90_ub,
          min(CASE WHEN cum >= (99 * (n - 1)) // 100 + 1 THEN ub END)
            AS p99_ub
        FROM r GROUP BY lang ORDER BY lang""")),
    // curation: unsupervised bigram-fluency score (the integer-exact
    // CCNet-perplexity analogue: corpus-conditional mean transition
    // probability per document)
    QuerySpec("q68_bigram_fluency", (s, d) =>
      Curation.bigramFluency(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          col("rare_bigram_ppm"), col("fluency_ppm"))
        .orderBy("doc_id"),
    // q68: same md5-prefix token hashes, same integer DIV arithmetic —
    // both count tables and the per-doc mean reproduce exactly
    Some(s"""WITH t AS (SELECT doc_id, list_transform($toksSql,
          tk -> CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT)) AS hs
          FROM documents),
        pr AS (SELECT doc_id, hs[i] AS ph, hs[i + 1] AS ch
          FROM (SELECT doc_id, hs,
              unnest(generate_series(1, len(hs) - 1)) AS i
            FROM t WHERE len(hs) >= 2)),
        bc AS (SELECT ph, ch, CAST(COUNT(*) AS BIGINT) AS bcnt
          FROM pr GROUP BY 1, 2),
        pc AS (SELECT ph, CAST(COUNT(*) AS BIGINT) AS pcnt
          FROM pr GROUP BY 1),
        sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
            CAST(SUM((bcnt * 1000000) // (pcnt + 8)) AS BIGINT) AS s,
            CAST(SUM(CASE WHEN bcnt <= 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS nr
          FROM pr JOIN bc USING (ph, ch) JOIN pc USING (ph)
          GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
          CAST(CASE WHEN COALESCE(n_bigrams, 0) > 0
            THEN (nr * 1000000) // n_bigrams ELSE 0 END AS BIGINT)
            AS rare_bigram_ppm,
          CAST(CASE WHEN COALESCE(n_bigrams, 0) > 0
            THEN s // n_bigrams ELSE 0 END AS BIGINT) AS fluency_ppm
        FROM documents d LEFT JOIN sc USING (doc_id)
        ORDER BY doc_id""")),
    // curation: CCNet head/middle/tail buckets — per-language
    // descending-fluency layout cut into thirds by token mass
    // (Wenzek et al. 2020), the bigram fluency score standing in for
    // the KenLM perplexity; sharded running sums, no per-language
    // window task
    QuerySpec("q88_ccnet_buckets", (s, d) =>
      Curation.perplexityBuckets(
        Curation.bigramFluency(
          t(s, d, "documents").select(col("doc_id"), col("lang"),
            col("text")),
          "doc_id", "text")
          .withColumn("n_toks", TextAnalysis.tokenCount(col("text"))),
        "doc_id", "lang", "fluency_ppm", "n_toks")
        .orderBy("doc_id"),
    // q88: q68's fluency pipeline verbatim, then the CCNet cut — the
    // per-language token-mass running sum over (fluency desc, doc_id)
    // and the integer start·3 tercile comparison reproduce exactly
    Some(s"""WITH t AS (SELECT doc_id, list_transform($toksSql,
          tk -> CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT)) AS hs
          FROM documents),
        pr AS (SELECT doc_id, hs[i] AS ph, hs[i + 1] AS ch
          FROM (SELECT doc_id, hs,
              unnest(generate_series(1, len(hs) - 1)) AS i
            FROM t WHERE len(hs) >= 2)),
        bc AS (SELECT ph, ch, CAST(COUNT(*) AS BIGINT) AS bcnt
          FROM pr GROUP BY 1, 2),
        pc AS (SELECT ph, CAST(COUNT(*) AS BIGINT) AS pcnt
          FROM pr GROUP BY 1),
        sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
            CAST(SUM((bcnt * 1000000) // (pcnt + 8)) AS BIGINT) AS s
          FROM pr JOIN bc USING (ph, ch) JOIN pc USING (ph)
          GROUP BY doc_id),
        f AS (SELECT d.doc_id, d.lang,
            CAST(len($toksSql) AS BIGINT) AS n_tokens,
            CAST(CASE WHEN COALESCE(n_bigrams, 0) > 0
              THEN s // n_bigrams ELSE 0 END AS BIGINT) AS fluency_ppm
          FROM documents d LEFT JOIN sc USING (doc_id)),
        r AS (SELECT *,
            CAST(SUM(n_tokens) OVER (PARTITION BY lang
              ORDER BY fluency_ppm DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_tok,
            CAST(SUM(n_tokens) OVER (PARTITION BY lang) AS BIGINT)
              AS total_tok
          FROM f)
        SELECT doc_id, lang, n_tokens, fluency_ppm, start_tok, total_tok,
          CASE WHEN start_tok * 3 < total_tok THEN 'head'
            WHEN start_tok * 3 < 2 * total_tok THEN 'middle'
            ELSE 'tail' END AS bucket
        FROM r ORDER BY doc_id""")),
    // curation: per-host document cap (C4/RefinedWeb-style anti-
    // domination gate) — keep the 5 longest docs per host, exact
    // sharded ranks, ties by doc_id
    QuerySpec("q71_host_cap", (s, d) => {
      val did = col("doc_id").cast("long")
      val host = concat(col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com"))
      Curation.keepTopNPerStratum(
        t(s, d, "documents")
          .select(col("doc_id"), host.as("host"), col("n_chars")),
        "doc_id", "host", "n_chars", n = 5L)
        .orderBy("doc_id")
    },
    // q71: same host synthesis as q41; rank = row_number over
    // (score desc, id) per host — identical tie-break contract
    Some("""WITH h AS (SELECT doc_id, concat(source, '-',
          CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR),
          '.example.com') AS host, n_chars FROM documents),
        r AS (SELECT *,
          CAST(row_number() OVER (PARTITION BY host
            ORDER BY n_chars DESC, doc_id) AS BIGINT) AS stratum_rank,
          CAST(count(*) OVER (PARTITION BY host) AS BIGINT) AS stratum_n
          FROM h)
        SELECT doc_id, host, n_chars, stratum_rank, stratum_n,
          stratum_rank <= 5 AS kept
        FROM r ORDER BY doc_id""")),
    // curation: classifier evaluation — exact tie-aware rank AUC of
    // doc length against the is-English label, per source (the gate
    // check a quality classifier passes before it may cut the corpus)
    QuerySpec("q72_rank_auc", (s, d) =>
      Curation.rankAuc(
        t(s, d, "documents")
          .withColumn("is_en", col("lang") === "en"),
        "is_en", "n_chars", strataCols = Seq("source"))
        .orderBy("source"),
    // q72: the same distinct-score histogram construction; HUGEINT
    // carries the numerator (DuckDB's native 128-bit twin of the
    // Spark side's decimal(38,0)), final integral // then BIGINT
    Some("""WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS s,
          (lang = 'en') AS lb FROM documents
          WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        hist AS (SELECT source, s,
          CAST(SUM(CASE WHEN lb THEN 1 ELSE 0 END) AS BIGINT) AS p,
          CAST(SUM(CASE WHEN lb THEN 0 ELSE 1 END) AS BIGINT) AS m
          FROM d GROUP BY source, s),
        cum AS (SELECT *, SUM(m) OVER (PARTITION BY source ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m AS mb
          FROM hist),
        agg AS (SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos,
          CAST(SUM(m) AS BIGINT) AS n_neg,
          SUM(CAST(p AS HUGEINT) * (2 * mb + m)) AS num2
          FROM cum GROUP BY source)
        SELECT source, n_pos, n_neg,
          CASE WHEN n_pos > 0 AND n_neg > 0 THEN
            CAST((num2 * 1000000) //
              (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
          ELSE NULL END AS auc_ppm
        FROM agg ORDER BY source""")),
    // sampling: deterministic EXACT-k per-stratum sample (eval-set
    // carving: exactly 40 docs per language by md5-hash order, strata
    // smaller than k keep everything) — global rank via the sharded
    // window, no per-stratum window partition
    QuerySpec("q113_strat_sample", (s, d) =>
      Curation.stratifiedSampleExact(
          t(s, d, "documents").select(col("doc_id").cast("long")
            .as("doc_id"), col("lang")),
          "doc_id", "lang", k = 40)
        .select(col("doc_id"), col("lang"), col("sample_rank"))
        .orderBy("lang", "sample_rank"),
    // q113: the oracle ranks with a plain per-language window over the
    // same md5 sample hash — pinning that the sharded global rank
    // equals the single-window rank
    Some("""WITH h AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'),
            1, 8)) AS BIGINT) AS hh FROM documents),
        r AS (SELECT doc_id, lang,
          CAST(row_number() OVER (PARTITION BY lang
            ORDER BY hh, doc_id) AS BIGINT) AS sample_rank FROM h)
        SELECT doc_id, lang, sample_rank FROM r
        WHERE sample_rank <= 40 ORDER BY lang, sample_rank""")),
    // URL-quality features: depth / digit-heavy slugs / dynamic-param
    // counts / tracking params — the pre-fetch URL gate signals; the
    // plant spans no-path, deep-path, date-slug, tracking,
    // fragment-bearing and '?'-inside-fragment shapes (the last one
    // must yield ZERO params — a fragment '?' is not a query)
    QuerySpec("q114_url_features", (s, d) => {
      val did = col("doc_id").cast("long")
      val v = pmod(did, lit(6))
      val ds = did.cast("string")
      val url = when(v === 0, concat(lit("http://"), col("source"),
          lit(".example.com/a/b/c/page"), ds, lit(".html")))
        .when(v === 1, concat(lit("https://"), col("source"),
          lit(".Example.COM/p?id="), ds, lit("&utm_source=feed&x=1")))
        .when(v === 2, concat(lit("http://"), col("source"),
          lit(".example.com/2024/01/"), ds))
        .when(v === 3, concat(lit("http://"), col("source"),
          lit(".example.com")))
        .when(v === 4, concat(lit("http://"), col("source"),
          lit(".example.com/search?q=a&page=2&fbclid=zz#frag")))
        .otherwise(concat(lit("http://"), col("source"),
          lit(".example.com/page"), ds, lit("#sec?utm_source=x")))
      Curation.urlFeatures(
          t(s, d, "documents").select(did.as("doc_id"), url.as("url")),
          "url")
        .select(col("doc_id"), col("url_host"), col("path_depth"),
          col("path_digit_ppm"), col("n_params"), col("has_tracking"),
          col("url_len"))
        .orderBy("doc_id")
    },
    // q114: the same URL plant re-built in SQL; features re-derived
    // with the identical regexes (over the fragment-stripped view,
    // like the Scala side) and length-minus-replace arithmetic
    Some("""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS did, source
          FROM documents),
        u AS (SELECT did AS doc_id,
          CASE did % 6
            WHEN 0 THEN 'http://' || source || '.example.com/a/b/c/page'
              || CAST(did AS VARCHAR) || '.html'
            WHEN 1 THEN 'https://' || source || '.Example.COM/p?id='
              || CAST(did AS VARCHAR) || '&utm_source=feed&x=1'
            WHEN 2 THEN 'http://' || source || '.example.com/2024/01/'
              || CAST(did AS VARCHAR)
            WHEN 3 THEN 'http://' || source || '.example.com'
            WHEN 4 THEN 'http://' || source
              || '.example.com/search?q=a&page=2&fbclid=zz#frag'
            ELSE 'http://' || source || '.example.com/page'
              || CAST(did AS VARCHAR) || '#sec?utm_source=x'
          END AS url FROM p),
        nf AS (SELECT doc_id, url,
          regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        f AS (SELECT doc_id, url,
          lower(regexp_extract(nofrag,
            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS url_host,
          regexp_extract(nofrag,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
          list_filter(string_split(
            regexp_extract(nofrag, '\?(.*)$', 1), '&'),
            q -> q != '') AS params FROM nf)
        SELECT doc_id, url_host,
          CAST(length(path) - length(replace(path, '/', '')) AS BIGINT)
            AS path_depth,
          CAST(CASE WHEN length(path) = 0 THEN 0
            ELSE ((length(path) -
              length(regexp_replace(path, '[0-9]', '', 'g'))) * 1000000)
              // length(path) END AS BIGINT) AS path_digit_ppm,
          CAST(len(params) AS BIGINT) AS n_params,
          len(list_filter(params, q -> regexp_matches(q,
            '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref|mc_cid|mc_eid)(=|$)')))
            > 0 AS has_tracking,
          CAST(length(url) AS BIGINT) AS url_len
        FROM f ORDER BY doc_id""")),
    // crawl index: SURT sort keys (host labels reversed — one host =
    // one contiguous key range). Plant spans: uppercase www host +
    // default :443 + unsorted query, http :80 default port, deep
    // subdomain, schemeless fallback, www2 + NON-default port kept,
    // trailing-dot FQDN, mixed-case path+query lowering, and a
    // tracking param that SURT keeps (unlike canonicalUrl)
    QuerySpec("q117_surt", (s, d) => {
      val did = col("doc_id").cast("long")
      val v = pmod(did, lit(8))
      val ds = did.cast("string")
      val url = when(v === 0, concat(lit("https://WWW.News."), col("source"),
          lit(".COM:443/Path/Article"), ds, lit("?b=2&a=1")))
        .when(v === 1, lit("http://example.com:80/"))
        .when(v === 2, concat(lit("http://sub.blog."), col("source"),
          lit(".org/p/"), ds))
        .when(v === 3, concat(lit("not a url "), ds))
        .when(v === 4, concat(lit("http://www2."), col("source"),
          lit(".net:8080/x?z=1#frag")))
        .when(v === 5, concat(lit("https://"), col("source"),
          lit(".com./a"), ds))
        .when(v === 6, lit("HTTP://EXAMPLE.COM/MiXeD/CaSe?Q=V"))
        .otherwise(concat(lit("https://"), col("source"),
          lit(".example.com/dup?utm_source=x&b=1")))
      t(s, d, "documents").select(did.as("doc_id"), url.as("url"))
        .withColumn("surt_key", Curation.surtKey(col("url")))
        .orderBy("doc_id")
    },
    // q117: the same URL plant re-built in SQL; the SURT key re-derived
    // with the identical regexes + list_reverse/list_sort in place of
    // Spark's reverse/array_sort
    Some("""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS did, source
          FROM documents),
        u AS (SELECT did AS doc_id,
          CASE did % 8
            WHEN 0 THEN 'https://WWW.News.' || source || '.COM:443'
              || '/Path/Article' || CAST(did AS VARCHAR) || '?b=2&a=1'
            WHEN 1 THEN 'http://example.com:80/'
            WHEN 2 THEN 'http://sub.blog.' || source || '.org/p/'
              || CAST(did AS VARCHAR)
            WHEN 3 THEN 'not a url ' || CAST(did AS VARCHAR)
            WHEN 4 THEN 'http://www2.' || source || '.net:8080/x?z=1#frag'
            WHEN 5 THEN 'https://' || source || '.com./a'
              || CAST(did AS VARCHAR)
            WHEN 6 THEN 'HTTP://EXAMPLE.COM/MiXeD/CaSe?Q=V'
            ELSE 'https://' || source || '.example.com/dup?utm_source=x&b=1'
          END AS url FROM p),
        nf AS (SELECT doc_id, url,
          regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        f AS (SELECT doc_id, url, nofrag,
          lower(regexp_extract(nofrag,
            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          lower(regexp_extract(nofrag,
            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
          lower(regexp_extract(nofrag,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1)) AS path0,
          lower(regexp_extract(nofrag, '\?(.*)$', 1)) AS query0 FROM nf),
        h AS (SELECT doc_id, url, scheme, path0, query0,
          regexp_replace(regexp_replace(
            CASE scheme
              WHEN 'http' THEN regexp_replace(hostport, ':80$', '')
              WHEN 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END,
            '\.$', ''), '^www[0-9]*\.', '') AS host FROM f),
        k AS (SELECT doc_id, url, scheme,
          array_to_string(list_reverse(string_split(host, '.')), ',')
            AS revhost,
          CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
          coalesce(array_to_string(list_sort(list_filter(
            string_split(query0, '&'), q -> q != '')), '&'), '') AS canonq
          FROM h)
        SELECT doc_id, url,
          CASE WHEN scheme = '' THEN url
            ELSE revhost || ')' || path ||
              CASE WHEN canonq = '' THEN '' ELSE '?' || canonq END
          END AS surt_key
        FROM k ORDER BY doc_id""")),
    // internationalized domains: punycode/ACE hosts decoded to Unicode
    // (native IdnToUnicode expression) + the UTS#39 single-label
    // mixed-script homograph flag. Plant spans: German umlaut label,
    // Han TLD label, plain ASCII (fast path), the Cyrillic-а "аpple"
    // homograph (the one that must flag), and a second Latin-script
    // decode that must NOT flag
    QuerySpec("q120_idn", (s, d) => {
      val did = col("doc_id").cast("long")
      val k = pmod(did, lit(5))
      val host = concat(col("source"), lit("."),
        when(k === 0, lit("www.xn--mnchen-3ya.example.com"))
          .when(k === 1, lit("xn--fiqs8s.cn"))
          .when(k === 2, lit("plain.example.com"))
          .when(k === 3, lit("xn--pple-43d.com"))
          .otherwise(lit("xn--bcher-kva.org")))
      t(s, d, "documents").select(did.as("doc_id"), host.as("host"))
        .withColumn("host_unicode",
          graft.functions.IdnToUnicode(col("host")))
        .withColumn("mixed_script",
          Curation.mixedScriptHost(col("host_unicode")))
        .orderBy("doc_id")
    },
    // q120: DuckDB has no punycode decoder, so the oracle pins the
    // expected Unicode forms as literals (the decode pairs are the
    // canonical RFC 3492 examples, independently checked in
    // FunctionsSpec against the JDK); mixed_script = exactly the
    // Cyrillic-а homograph variant
    Some(("""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
          CAST(doc_id AS BIGINT) % 5 AS k FROM documents)
        SELECT doc_id,
          source || '.' || CASE k
            WHEN 0 THEN 'www.xn--mnchen-3ya.example.com'
            WHEN 1 THEN 'xn--fiqs8s.cn'
            WHEN 2 THEN 'plain.example.com'
            WHEN 3 THEN 'xn--pple-43d.com'
            ELSE 'xn--bcher-kva.org' END AS host,
          source || '.' || CASE k
            WHEN 0 THEN 'www.m""" + "ü" + """nchen.example.com'
            WHEN 1 THEN '""" + "中国" + """.cn'
            WHEN 2 THEN 'plain.example.com'
            WHEN 3 THEN '""" + "а" + """pple.com'
            ELSE 'b""" + "ü" + """cher.org' END AS host_unicode,
          k = 3 AS mixed_script
        FROM p ORDER BY doc_id"""))),
    // classifier calibration: exact F1 sweep over every observed score
    // threshold + the argmax cut — the step between rankAuc (q73:
    // "the ranking is good") and gating the corpus ("cut HERE").
    // Plant: score = (7919·id mod 1000)·1000 ppm; label = score plus
    // bounded md5 noise clears 900000 — correlated but imperfect, so
    // the sweep has a real interior maximum
    QuerySpec("q124_f1_threshold", (s, d) => {
      val did = col("doc_id").cast("long")
      val score = pmod(did * 7919, lit(1000)) * 1000
      val noise = pmod(graft.functions.Md5Prefix32(
        concat(did.cast("string"), lit(":lab"))), lit(400000))
      Curation.f1Sweep(
        t(s, d, "documents").select(score.as("score_ppm"),
          (score + noise >= 900000L).cast("int").as("label")),
        "score_ppm", "label")
    },
    // q124: same plant, same histogram-then-cumulative sweep, HUGEINT
    // floor division for the ppm ratios; best = max f1, tie to the
    // highest threshold
    Some("""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
        s AS (SELECT (did * 7919) % 1000 * 1000 AS score,
          CASE WHEN (did * 7919) % 1000 * 1000
            + (CAST(('0x' || substr(md5(CAST(did AS VARCHAR) || ':lab'),
                1, 8)) AS BIGINT) % 400000) >= 900000
            THEN 1 ELSE 0 END AS lab FROM d),
        h AS (SELECT score, sum(lab) AS p_s, sum(1 - lab) AS m_s
          FROM s GROUP BY score),
        c AS (SELECT score,
            sum(p_s) OVER (ORDER BY score DESC) AS tp,
            sum(m_s) OVER (ORDER BY score DESC) AS fp FROM h),
        t AS (SELECT sum(lab) AS ptot FROM s),
        f AS (SELECT score AS threshold, tp, fp, t.ptot - tp AS fn,
            (CAST(tp AS HUGEINT) * 1000000) // (tp + fp)
              AS precision_ppm,
            (CAST(tp AS HUGEINT) * 1000000) // t.ptot AS recall_ppm,
            (2 * CAST(tp AS HUGEINT) * 1000000) // (tp + fp + t.ptot)
              AS f1_ppm
          FROM c, t)
        SELECT CAST(threshold AS BIGINT) AS threshold,
          CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
          CAST(fn AS BIGINT) AS fn,
          CAST(precision_ppm AS BIGINT) AS precision_ppm,
          CAST(recall_ppm AS BIGINT) AS recall_ppm,
          CAST(f1_ppm AS BIGINT) AS f1_ppm,
          row_number() OVER (ORDER BY f1_ppm DESC, threshold DESC) = 1
            AS is_best
        FROM f ORDER BY threshold""")),
    // weight-proportional sampling: sequential Poisson (k smallest
    // (u+1)/w priorities) — token-mass-weighted carving with zero
    // rand(); the float priority is ONE IEEE division of exact-double
    // integers, so the sample is bit-reproducible across engines
    QuerySpec("q125_weighted_sample", (s, d) =>
      Curation.weightedSample(
          t(s, d, "documents").select(col("doc_id").cast("long")
            .as("doc_id"), coalesce(col("n_chars"), lit(0L)).as("w")),
          "doc_id", "w", k = 50)
        .select(col("doc_id"), col("w"), col("sample_rank"))
        .orderBy("sample_rank"),
    // q125: same hash, same single IEEE double division — the oracle
    // pins that the float priority order is engine-identical
    Some("""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(coalesce(n_chars, 0) AS BIGINT) AS w FROM documents),
        p AS (SELECT doc_id, w,
            (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
              || ':wps'), 1, 8)) AS BIGINT) + 1.0) / w AS pri
          FROM d WHERE w > 0),
        r AS (SELECT doc_id, w, CAST(row_number()
            OVER (ORDER BY pri, doc_id) AS BIGINT) AS sample_rank
          FROM p)
        SELECT doc_id, w, sample_rank FROM r
        WHERE sample_rank <= 50 ORDER BY sample_rank""")),
    // Luhn-validated card redaction: a bare 13-19-digit regex is
    // mostly false positives; the checksum gate redacts only real
    // card shapes. Plant spans: spaced valid Visa, the SAME number
    // off by one (Luhn fail — must stay), compact valid Amex, dashed
    // valid Discover, a 12-digit too-short run, and a 24-digit run
    // (every interior cut fails the word boundary — no partial match)
    QuerySpec("q127_cc_redact", (s, d) => {
      val did = col("doc_id").cast("long")
      val k = pmod(did, lit(6))
      val txt = when(k === 0, lit("call 4539 1488 0343 6467 now"))
        .when(k === 1, lit("call 4539 1488 0343 6468 now"))
        .when(k === 2, lit("amex 378282246310005 ok"))
        .when(k === 3, lit("disc 6011-1111-1111-1117 end"))
        .when(k === 4, lit("short 601111111111 end"))
        .otherwise(lit("run 123456789012345678901234 x"))
      t(s, d, "documents").select(did.as("doc_id"), txt.as("text"))
        .withColumn("cc_redacted", Curation.ccRedact(col("text")))
        .withColumn("n_cc",
          size(Curation.ccValidSpans(col("text"))).cast("long"))
        .orderBy("doc_id")
    },
    // q127: the oracle pins each planted shape's redaction as
    // literals (q120/q126 protocol; the Luhn math and the general
    // multi-candidate fold are pinned by OpsSpec against a scalar
    // reference — the four planted numbers are the published test
    // vectors, checksum-verified out of band)
    Some("""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(doc_id AS BIGINT) % 6 AS k FROM documents)
        SELECT doc_id,
          CASE k WHEN 0 THEN 'call 4539 1488 0343 6467 now'
            WHEN 1 THEN 'call 4539 1488 0343 6468 now'
            WHEN 2 THEN 'amex 378282246310005 ok'
            WHEN 3 THEN 'disc 6011-1111-1111-1117 end'
            WHEN 4 THEN 'short 601111111111 end'
            ELSE 'run 123456789012345678901234 x' END AS text,
          CASE k WHEN 0 THEN 'call <CC> now'
            WHEN 1 THEN 'call 4539 1488 0343 6468 now'
            WHEN 2 THEN 'amex <CC> ok'
            WHEN 3 THEN 'disc <CC> end'
            WHEN 4 THEN 'short 601111111111 end'
            ELSE 'run 123456789012345678901234 x' END AS cc_redacted,
          CAST(CASE WHEN k IN (0, 2, 3) THEN 1 ELSE 0 END AS BIGINT)
            AS n_cc
        FROM p ORDER BY doc_id""")),
    // clustering-quality metrics: pairwise P/R/F1 + B-cubed (integer
    // ppm, one floor per group) grading one partition of the corpus
    // against another — here the lang partition scored against source
    // as reference (the dedup-clustering report card, exercised on
    // real columns)
    QuerySpec("q130_cluster_eval", (s, d) => {
      val docs = t(s, d, "documents")
      Curation.clusterEval(
        docs.select(col("doc_id"), col("lang")),
        docs.select(col("doc_id"), col("source")),
        "doc_id", "lang", "source")
    },
    // q130: identical contingency arithmetic — HUGEINT floor division
    // staged exactly like the Spark side (one floor per cluster/class,
    // C(n,2) = n(n-1)//2)
    Some("""WITH j AS (SELECT doc_id, lang AS c, source AS t
          FROM documents),
        cells AS (SELECT c, t, COUNT(*) AS n_ct FROM j GROUP BY c, t),
        perc AS (SELECT c, SUM(n_ct) AS n_c,
            SUM(n_ct * (n_ct - 1) // 2) AS tp_c,
            SUM(n_ct * n_ct) AS sq_c FROM cells GROUP BY c),
        pert AS (SELECT t, SUM(n_ct) AS n_t,
            SUM(n_ct * n_ct) AS sq_t FROM cells GROUP BY t),
        a AS (SELECT SUM(n_c) AS n_items, COUNT(*) AS n_clusters,
            SUM(tp_c) AS pair_tp,
            SUM(n_c * (n_c - 1) // 2) AS pred_pairs,
            SUM(sq_c * 1000000 // n_c) AS bp_sum FROM perc),
        b AS (SELECT COUNT(*) AS n_classes,
            SUM(n_t * (n_t - 1) // 2) AS truth_pairs,
            SUM(sq_t * 1000000 // n_t) AS br_sum FROM pert)
        SELECT CAST(n_items AS BIGINT) AS n_items,
          CAST(n_clusters AS BIGINT) AS n_clusters,
          CAST(n_classes AS BIGINT) AS n_classes,
          CAST(pair_tp AS BIGINT) AS pair_tp,
          CAST(pred_pairs AS BIGINT) AS pred_pairs,
          CAST(truth_pairs AS BIGINT) AS truth_pairs,
          CAST(CASE WHEN pred_pairs > 0
            THEN pair_tp * 1000000 // pred_pairs END AS BIGINT)
            AS pair_precision_ppm,
          CAST(CASE WHEN truth_pairs > 0
            THEN pair_tp * 1000000 // truth_pairs END AS BIGINT)
            AS pair_recall_ppm,
          CAST(CASE WHEN pred_pairs + truth_pairs > 0
            THEN pair_tp * 2000000 // (pred_pairs + truth_pairs)
            END AS BIGINT) AS pair_f1_ppm,
          CAST(CASE WHEN n_items > 0 THEN bp_sum // n_items
            END AS BIGINT) AS bcubed_precision_ppm,
          CAST(CASE WHEN n_items > 0 THEN br_sum // n_items
            END AS BIGINT) AS bcubed_recall_ppm
        FROM a, b""")),
    // mixture design: exact water-filling allocation of a 15k-token
    // budget across languages toward target weights (de's 35% target
    // exceeds its supply -> capped, surplus redistributes; es absent
    // from the target map -> zero); closed form, stratum-histogram
    // windows only
    QuerySpec("q132_mix_waterfill", (s, d) =>
      Curation.mixWaterFill(
        t(s, d, "documents").select(col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_toks")),
        "lang", "n_toks",
        Map("en" -> 250000L, "de" -> 350000L, "fr" -> 200000L,
          "zh" -> 200000L),
        budget = 15000L).orderBy("stratum"),
    // q132: the oracle replays the quantized-ratio sort, the HUGEINT
    // cross-multiplication prefix test, and the same floor divisions
    Some(s"""WITH sup AS (SELECT lang AS stratum,
          CAST(SUM(len($toksSql)) AS BIGINT) AS supply
          FROM documents GROUP BY lang),
        w AS (SELECT stratum, supply,
          CASE stratum WHEN 'en' THEN 250000 WHEN 'de' THEN 350000
            WHEN 'fr' THEN 200000 WHEN 'zh' THEN 200000
            ELSE 0 END AS weight_ppm FROM sup),
        k AS (SELECT *, CASE WHEN weight_ppm > 0
          THEN CAST(supply AS HUGEINT) * 1000000000000 // weight_ppm
          ELSE CAST('1000000000000000000000000000000' AS HUGEINT)
          END AS r FROM w),
        st AS (SELECT *, COALESCE(SUM(supply) OVER (ORDER BY r, stratum
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS sb,
          SUM(weight_ppm) OVER (ORDER BY r, stratum
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wf
          FROM k),
        t2 AS (SELECT *, CASE WHEN weight_ppm > 0 AND
          CAST(supply AS HUGEINT) * wf <=
          CAST(weight_ppm AS HUGEINT) * (15000 - sb)
          THEN 1 ELSE 0 END AS t FROM st),
        c AS (SELECT *, MIN(t) OVER (ORDER BY r, stratum
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
          AS capped FROM t2),
        g AS (SELECT *,
          COALESCE(SUM(CASE WHEN capped THEN supply END) OVER (), 0)
            AS scap,
          COALESCE(SUM(CASE WHEN NOT capped THEN weight_ppm END)
            OVER (), 0) AS wunc,
          SUM(supply) OVER () AS stot FROM c),
        a AS (SELECT stratum, supply,
          CAST(weight_ppm AS BIGINT) AS weight_ppm,
          CAST(CASE WHEN stot <= 15000 THEN supply
            WHEN capped THEN supply
            WHEN wunc > 0 THEN CAST(weight_ppm AS HUGEINT) *
              greatest(0, 15000 - scap) // wunc
            ELSE 0 END AS BIGINT) AS alloc FROM g)
        SELECT stratum, supply, weight_ppm, alloc,
          CAST(CASE WHEN supply > 0
            THEN CAST(alloc AS HUGEINT) * 1000000 // supply
            ELSE 0 END AS BIGINT) AS rate_ppm,
          alloc = supply AS capped
        FROM a ORDER BY stratum""")),
    // file skipping: relational per-shard Bloom index — 20 present +
    // 20 absent probe keys report candidate-shard counts and the
    // no-false-negative hit flag (present keys MUST surface their
    // true shard; absent keys measure the fp rate)
    QuerySpec("q133_bloom_index", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(lit("doc:"), col("doc_id")).as("key"),
        pmod(col("doc_id"), lit(8)).cast("long").as("shard"))
      val idx = Curation.bloomShardIndex(docs, "shard", "key", 4096)
      val probes = docs.where(col("doc_id") < 20)
        .select(col("key"), col("shard").as("true_shard"))
        .unionByName(docs.where(col("doc_id") < 20)
          .select(concat(lit("missing:"), col("doc_id")).as("key"),
            lit(null).cast("long").as("true_shard")))
      val cands = Curation.bloomShardLookup(idx, probes, "key", 4096)
      probes.join(cands, Seq("key"), "left")
        .groupBy(col("key"), col("true_shard"))
        .agg(count(col("shard")).as("n_cand"),
          max(when(col("shard") === col("true_shard"), 1L)
            .otherwise(0L)).as("hit"))
        .select(col("key"), col("n_cand"), col("hit"))
        .orderBy("key")
    },
    // q133: full relational re-derivation — same md5-prefix hash, same
    // Fibonacci probe pair, 32-bit words via bit_or, same two-probe
    // lookup joins
    Some("""WITH docs AS (SELECT doc_id, 'doc:' || doc_id AS key,
          doc_id % 8 AS shard FROM documents),
        hx AS (SELECT shard,
          CAST(('0x' || substr(md5(key), 1, 8)) AS BIGINT) AS h
          FROM docs),
        pos AS (SELECT shard,
          unnest([h & 4095, ((h * 40503) >> 13) & 4095]) AS p FROM hx),
        idx AS (SELECT shard, p >> 5 AS word_idx,
          bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INT)) AS word
          FROM pos GROUP BY shard, p >> 5),
        pr0 AS (SELECT 'doc:' || doc_id AS key,
            CAST(doc_id % 8 AS BIGINT) AS true_shard
          FROM documents WHERE doc_id < 20
          UNION ALL SELECT 'missing:' || doc_id, NULL
          FROM documents WHERE doc_id < 20),
        ph AS (SELECT key, true_shard,
          CAST(('0x' || substr(md5(key), 1, 8)) AS BIGINT) AS h
          FROM pr0),
        pw AS (SELECT key, true_shard,
          (h & 4095) >> 5 AS w1,
          CAST(1 AS BIGINT) << CAST(h & 31 AS INT) AS b1,
          (((h * 40503) >> 13) & 4095) >> 5 AS w2,
          CAST(1 AS BIGINT) <<
            CAST(((h * 40503) >> 13) & 31 AS INT) AS b2
          FROM ph),
        c1 AS (SELECT pw.key, pw.true_shard, i.shard, pw.w2, pw.b2
          FROM pw JOIN idx i
          ON i.word_idx = pw.w1 AND (i.word & pw.b1) != 0),
        c2 AS (SELECT c1.key, c1.true_shard, c1.shard
          FROM c1 JOIN idx i ON i.shard = c1.shard
          AND i.word_idx = c1.w2 AND (i.word & c1.b2) != 0)
        SELECT p.key, CAST(COUNT(c.shard) AS BIGINT) AS n_cand,
          CAST(COALESCE(MAX(CASE WHEN c.shard = p.true_shard
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS hit
        FROM pr0 p LEFT JOIN c2 c ON c.key = p.key
        GROUP BY p.key, p.true_shard ORDER BY p.key""")),
    // homoglyph spoof gate: hosts fold to their UTS#39-subset skeleton
    // and hit a trusted list — Cyrillic paypal/google/apple and Greek
    // amazon plants flag, the EXACT trusted spelling and clean hosts
    // pass (k=3 pins the skeleton-equal-but-identical case)
    QuerySpec("q135_homoglyph", (s, d) => {
      val did = col("doc_id").cast("long")
      val k = pmod(did, lit(6))
      val host = when(k === 0, lit("pаypal.com"))
        .when(k === 1, lit("gооgle.com"))
        .when(k === 2, lit("amazοn.com"))
        .when(k === 3, lit("paypal.com"))
        .when(k === 5, lit("аррӏе.com"))
        .otherwise(concat(lit("host"), did, lit(".com")))
      val hosts = t(s, d, "documents").select(did.as("doc_id"),
        host.as("host"))
      Curation.spoofedHosts(hosts, "host",
          Seq("paypal.com", "google.com", "amazon.com", "apple.com"))
        .select(col("doc_id"), col("host"), col("skeleton"),
          col("spoof_of"), col("spoofed"))
        .orderBy("doc_id")
    },
    // q135: the oracle folds with the IDENTICAL translate map (the
    // Scala constants interpolate into the SQL) and replays the
    // trusted-list join + exact-spelling exemption
    Some {
      val from = graft.ops.Curation.ConfusableFrom
      val to = graft.ops.Curation.ConfusableTo
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
          doc_id % 6 AS k FROM documents),
        h AS (SELECT doc_id, CASE k
          WHEN 0 THEN 'pаypal.com' WHEN 1 THEN 'gооgle.com'
          WHEN 2 THEN 'amazοn.com' WHEN 3 THEN 'paypal.com'
          WHEN 5 THEN 'аррӏе.com'
          ELSE 'host' || doc_id || '.com' END AS host FROM d),
        sk AS (SELECT doc_id, host,
          translate(lower(host), '$from', '$to') AS skeleton FROM h),
        tr AS (SELECT tr, translate(lower(tr), '$from', '$to') AS skel
          FROM (VALUES ('paypal.com'), ('google.com'), ('amazon.com'),
            ('apple.com')) t(tr)),
        j AS (SELECT sk.doc_id, sk.host, sk.skeleton,
          CASE WHEN tr.tr IS NOT NULL AND lower(sk.host) != tr.tr
            THEN tr.tr END AS spoof_of
          FROM sk LEFT JOIN tr ON sk.skeleton = tr.skel)
        SELECT doc_id, host, skeleton, spoof_of,
          spoof_of IS NOT NULL AS spoofed
        FROM j ORDER BY doc_id"""
    }),
    // chunk-overlap near-dup pairs: CDC's payoff — insertion-robust
    // shared-span detection over chunk-hash sets, df-capped join
    QuerySpec("q168_chunk_neardup", (s, d) =>
      Curation.chunkNearDupPairs(
          t(s, d, "documents").select(
            col("doc_id").cast("long").as("doc_id"), col("text")),
          "doc_id", "text", minJaccard = 0.05, maxChunkDf = 64)
        .orderBy("a", "b"),
    // q168: same chunk chain + df cap + set-Jaccard staging
    Some(s"""WITH $cdcChunksCtesSql,
        thin AS (SELECT DISTINCT id, chunk_hash FROM chk),
        sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz
          FROM thin GROUP BY 1),
        dfc AS (SELECT chunk_hash FROM (SELECT chunk_hash,
            COUNT(*) AS dd FROM thin GROUP BY 1) WHERE dd <= 64),
        kept AS (SELECT thin.* FROM thin JOIN dfc USING (chunk_hash)),
        it AS (SELECT l.id AS a, r.id AS b,
            CAST(COUNT(*) AS BIGINT) AS inter
          FROM kept l JOIN kept r ON l.chunk_hash = r.chunk_hash
            AND l.id < r.id
          GROUP BY 1, 2),
        scj AS (SELECT a, b, inter,
            CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS j
          FROM it JOIN sizes sa ON sa.id = a
            JOIN sizes sb ON sb.id = b)
        SELECT a, b, inter, round(j, 6) AS jaccard FROM scj
        WHERE j >= 0.05 ORDER BY a, b""")),
    // storage-dedup ratio: CDC chunks → exact hash dedup → one
    // accounting row (the "how much would chunk-level dedup save")
    QuerySpec("q166_chunk_dedup", (s, d) => {
      val ch = Curation.cdcChunks(
        t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text")
        .localCheckpoint() // two aggregation branches below
      val a1 = ch.agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_hash")).as("n_unique"),
        sum(col("chunk_len")).as("total_tokens"))
      val a2 = ch.select("chunk_hash", "chunk_len").distinct()
        .agg(sum(col("chunk_len")).as("unique_tokens"))
      a1.crossJoin(a2).select(col("n_chunks"), col("n_unique"),
        col("total_tokens"), col("unique_tokens"),
        call_function("div",
          (col("total_tokens") - col("unique_tokens")) * lit(1000000L),
          col("total_tokens")).as("savings_ppm"))
    },
    // q166: same chunk chain + the dedup-ratio accounting
    Some(s"""WITH $cdcChunksCtesSql,
        a1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
            CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS n_unique,
            CAST(SUM(chunk_len) AS BIGINT) AS total_tokens
          FROM chk),
        a2 AS (SELECT CAST(SUM(chunk_len) AS BIGINT) AS unique_tokens
          FROM (SELECT DISTINCT chunk_hash, chunk_len FROM chk))
        SELECT n_chunks, n_unique, total_tokens, unique_tokens,
          CAST(((total_tokens - unique_tokens) * 1000000)
            // total_tokens AS BIGINT) AS savings_ppm
        FROM a1, a2""")),
    // storage dedup: content-defined chunking — boundaries from a
    // 4-token window hash mod 16; chunk rows with portable hashes
    QuerySpec("q165_cdc_chunks", (s, d) =>
      Curation.cdcChunks(
          t(s, d, "documents").select(
            col("doc_id").cast("long").as("doc_id"), col("text")),
          "doc_id", "text")
        .orderBy("id", "chunk_idx"),
    // q165: same window-hash boundaries + slice/md5 staging
    Some(s"""WITH $cdcChunksCtesSql
        SELECT id, chunk_idx, start, chunk_len, chunk_hash
        FROM chk ORDER BY id, chunk_idx""")),
    // targeted selection: Moore-Lewis cross-entropy difference — rank
    // by in-domain (source=src0) vs general bigram likelihood ratio
    QuerySpec("q163_moore_lewis", (s, d) => {
      val docs = t(s, d, "documents")
      Curation.mooreLewis(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"))
        .orderBy("doc_id")
    },
    // q163: q68's bigram-hash staging twice (general = all docs,
    // in-domain = source src0), identical round-6 ln-ratio points
    Some(s"""WITH t AS (SELECT doc_id, source, list_transform($toksSql,
          tk -> CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT)) AS hs
          FROM documents),
        pr AS (SELECT doc_id, source, hs[i] AS ph, hs[i + 1] AS ch
          FROM (SELECT doc_id, source, hs,
              unnest(generate_series(1, len(hs) - 1)) AS i
            FROM t WHERE len(hs) >= 2)),
        bcg AS (SELECT ph, ch, CAST(COUNT(*) AS BIGINT) AS bcg
          FROM pr GROUP BY 1, 2),
        pcg AS (SELECT ph, CAST(COUNT(*) AS BIGINT) AS pcg
          FROM pr GROUP BY 1),
        bct AS (SELECT ph, ch, CAST(COUNT(*) AS BIGINT) AS bct
          FROM pr WHERE source = 'src0' GROUP BY 1, 2),
        pct AS (SELECT ph, CAST(COUNT(*) AS BIGINT) AS pct
          FROM pr WHERE source = 'src0' GROUP BY 1),
        sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
            round(SUM(round(
              ln((COALESCE(bct, 0) + 1.0) /
                (COALESCE(pct, 0) + 65536.0)) -
              ln((COALESCE(bcg, 0) + 1.0) /
                (COALESCE(pcg, 0) + 65536.0)), 6)), 6) AS s
          FROM pr LEFT JOIN bct USING (ph, ch)
            LEFT JOIN pct USING (ph)
            JOIN bcg USING (ph, ch) JOIN pcg USING (ph)
          GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
          CASE WHEN COALESCE(n_bigrams, 0) > 0
            THEN round(s / n_bigrams, 6) END AS celd
        FROM documents d LEFT JOIN sc USING (doc_id)
        ORDER BY d.doc_id""")),
    // suffix-array exact-substring scrub (the --sa-scrub curation
    // stage): scrub every token inside a >=8-token span occurring at
    // least TWICE anywhere — ANY-repeat semantics, so the planted
    // per-doc-unique span repeated twice WITHIN one document is
    // scrubbed (q55's cross-doc form would keep it). Spark runs the
    // real SA machinery (doubling + LCP walk); the oracle replays the
    // n-gram-window occurrence-count form, equal by the
    // dropDuplicatedSpans window-union proof applied to occurrence
    // counts
    QuerySpec("q179_sa_scrub", (s, d) => {
      val did = col("doc_id").cast("long")
      val intra = concat(
        lit("intra span alpha beta gamma delta epsilon zeta d"),
        did.cast("string"))
      val aug = concat_ws(" ",
        when(pmod(did, lit(13)) === 5, lit(PlantCookie)),
        col("text"),
        when(pmod(did, lit(11)) === 3,
          concat_ws(" ", intra, lit("mid"), intra)))
      val docs = t(s, d, "documents").select(col("doc_id"),
        aug.as("text"))
      Curation.dropDuplicatedSpansSa(docs, "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("removed_ppm"), md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    // q179: q55's window-mask chain with two swaps — gram TEXT (the
    // SA compares content, no hash) and OCCURRENCE counts (count(*),
    // within-doc repeats included) instead of distinct-doc counts
    Some(s"""WITH corpus AS (SELECT doc_id,
          (CASE WHEN CAST(doc_id AS BIGINT) % 13 = 5
            THEN '$PlantCookie ' ELSE '' END) || text ||
          (CASE WHEN CAST(doc_id AS BIGINT) % 11 = 3
            THEN ' intra span alpha beta gamma delta epsilon zeta d'
              || CAST(CAST(doc_id AS BIGINT) AS VARCHAR) || ' mid '
              || 'intra span alpha beta gamma delta epsilon zeta d'
              || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
            ELSE '' END) AS text
          FROM documents),
        t AS (SELECT doc_id, text, $toksSql AS toks FROM corpus),
        g AS (SELECT doc_id, i - 1 AS pos,
            array_to_string(toks[i : i + 7], ' ') AS gs
          FROM (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - 7)) AS i
            FROM t WHERE len(toks) >= 8)),
        dup AS (SELECT gs FROM (SELECT gs, count(*) AS c
            FROM g GROUP BY gs) WHERE c >= 2),
        fp AS (SELECT doc_id, list(pos) AS fps
          FROM g JOIN dup USING (gs) GROUP BY doc_id),
        k AS (SELECT t.doc_id, text, toks,
            list_filter(range(0, len(toks)), j -> len(list_filter(
              coalesce(fps, CAST([] AS BIGINT[])),
              p -> p <= j AND j < p + 8)) = 0) AS keep
          FROM t LEFT JOIN fp ON t.doc_id = fp.doc_id)
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(toks) - len(keep) AS BIGINT) AS n_removed,
          CAST(CASE WHEN len(toks) > 0
            THEN ((len(toks) - len(keep)) * 1000000) // len(toks)
            ELSE 0 END AS BIGINT) AS removed_ppm,
          md5(CASE WHEN len(keep) = len(toks) THEN text
            ELSE coalesce(array_to_string(list_transform(keep,
              j -> toks[j + 1]), ' '), '') END) AS clean_md5
        FROM k ORDER BY doc_id""")),
    // semantic split leakage: the EMBEDDING twin of q65's lexical
    // audit — near-dup vector pairs crossing deterministic split
    // boundaries (one audit shape, two similarity modalities)
    QuerySpec("q173_semantic_leakage", (s, d) => {
      val pairs = Dedup.embeddingNearDupPairs(t(s, d, "embeddings"),
        "vec_id", "embedding", threshold = 0.2, planes = 4)
      Curation.splitLeakageAuditFromPairs(pairs,
          Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .orderBy("split_lo", "split_hi")
    },
    // q173: q29's shared embedding-pair chain + q65's split staging
    Some {
      def slotSql(e: String) =
        s"""CAST(('0x' || substr(md5(CAST($e AS VARCHAR) || ':split'),
          1, 8)) AS BIGINT) % 10000"""
      s"""WITH ${embedNearDupCtes(4, 64)},
        e2 AS (SELECT a, b FROM pairs WHERE cosine >= 0.2),
        sl AS (SELECT a, b, ${slotSql("a")} AS qa, ${slotSql("b")} AS qb
          FROM e2),
        sp AS (SELECT
            (CASE WHEN qa < 8000 THEN 'train' WHEN qa < 9000 THEN 'val'
              ELSE 'test' END) AS sa,
            (CASE WHEN qb < 8000 THEN 'train' WHEN qb < 9000 THEN 'val'
              ELSE 'test' END) AS sb
          FROM sl)
        SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
          CAST(count(*) AS BIGINT) AS n_pairs,
          least(sa, sb) != greatest(sa, sb) AS leaks
        FROM sp GROUP BY 1, 2 ORDER BY 1, 2"""
    }),
    // eval: Cohen's kappa — chance-corrected agreement between two
    // deterministic quality gates, per source
    QuerySpec("q171_kappa", (s, d) =>
      Curation.cohensKappa(
          t(s, d, "documents")
            .withColumn("long_doc", col("n_chars") >= 300)
            .withColumn("tok_rich",
              TextAnalysis.tokenCount(col("text")) >= 55),
          "long_doc", "tok_rich", strataCols = Seq("source"))
        .orderBy("source"),
    // q171: closed-form kappa counts + the sign-first staging
    Some(s"""WITH b AS (SELECT source, (n_chars >= 300) AS a,
          (len($toksSql) >= 55) AS bb FROM documents),
        c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(SUM(CASE WHEN bb THEN 1 ELSE 0 END) AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN a AND bb THEN 1 ELSE 0 END) AS BIGINT)
              AS n11,
            CAST(SUM(CASE WHEN NOT a AND NOT bb THEN 1 ELSE 0 END)
              AS BIGINT) AS n00
          FROM b GROUP BY 1)
        SELECT source, n,
          CAST(((n11 + n00) * 1000000) // n AS BIGINT) AS po_ppm,
          CAST(CASE
            WHEN (n*n - na*nb - (n-na)*(n-nb)) = 0 THEN NULL
            WHEN (n*(n11+n00) - na*nb - (n-na)*(n-nb)) >= 0
              THEN ((n*(n11+n00) - na*nb - (n-na)*(n-nb)) * 1000000)
                // (n*n - na*nb - (n-na)*(n-nb))
            ELSE -((-(n*(n11+n00) - na*nb - (n-na)*(n-nb)) * 1000000)
                // (n*n - na*nb - (n-na)*(n-nb))) END AS BIGINT)
            AS kappa_ppm
        FROM c ORDER BY source""")),
    // corpus concentration: exact Gini over per-host document counts
    // — "how dominated is the crawl by its biggest hosts"
    QuerySpec("q172_host_gini", (s, d) => {
      val did = col("doc_id").cast("long")
      val host = concat(col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com"))
      val hw = t(s, d, "documents").select(host.as("host"))
        .groupBy("host").agg(count(lit(1)).cast("long").as("w"))
      Curation.giniConcentration(hw, "host", "w")
    },
    // q172: same rank construction (ROW_NUMBER over (w, host)) +
    // the non-negative single-floor Gini staging
    Some("""WITH hw AS (SELECT source || '-' ||
            CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR) ||
            '.example.com' AS host, CAST(COUNT(*) AS BIGINT) AS w
          FROM documents GROUP BY 1),
        r AS (SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY w, host)
            AS BIGINT) AS i FROM hw)
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(w) AS BIGINT) AS total,
          CAST(((2 * SUM(CAST(i AS HUGEINT) * w) -
            (COUNT(*) + 1) * SUM(w)) * 1000000)
            // (COUNT(*) * SUM(w)) AS BIGINT) AS gini_ppm,
          CAST((SUM(CAST(w AS HUGEINT) * w) * 1000000)
            // (SUM(w) * SUM(w)) AS BIGINT) AS hhi_ppm
        FROM r""")),
    // eval: expected calibration error per source — does the
    // length-derived confidence MEAN its probability of is_en
    QuerySpec("q170_calibration", (s, d) => {
      val docs = t(s, d, "documents")
      val mx = docs.agg(max(col("n_chars")).cast("long").as("_mx"))
      Curation.calibrationError(
          docs.crossJoin(broadcast(mx))
            .withColumn("conf_ppm",
              expr("(CAST(n_chars AS BIGINT) * 1000000) div _mx"))
            .withColumn("is_en", col("lang") === "en"),
          "is_en", "conf_ppm", bins = 10, strataCols = Seq("source"))
        .orderBy("source")
    },
    // q170: identical binning + telescoped one-floor ECE staging
    Some("""WITH mx AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS m
          FROM documents),
        b0 AS (SELECT source, (lang = 'en') AS lb,
            (CAST(n_chars AS BIGINT) * 1000000) // m AS cf
          FROM documents, mx),
        b1 AS (SELECT source, lb, cf, (cf * 10) // 1000001 AS bin
          FROM b0),
        pb AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN lb THEN 1 ELSE 0 END) AS BIGINT) AS sl,
            CAST(SUM(cf) AS BIGINT) AS sc
          FROM b1 GROUP BY 1, 2),
        pg AS (SELECT source, nb, abs(1000000 * sl - sc) AS gap
          FROM pb)
        SELECT source, CAST(SUM(nb) AS BIGINT) AS n,
          CAST(COUNT(*) AS BIGINT) AS n_bins_hit,
          CAST(SUM(gap) // SUM(nb) AS BIGINT) AS ece_ppm,
          CAST(MAX(gap // nb) AS BIGINT) AS max_bin_gap_ppm
        FROM pg GROUP BY source ORDER BY source""")),
    // curation: Public-Suffix-List registrable-domain extraction —
    // the publicsuffix.org algorithm (normal/wildcard/exception rules,
    // exception-beats-all then longest-match then implicit "*") over
    // per-depth broadcast rule joins; the key per-site caps and
    // politeness budgets group on
    QuerySpec("q89_reg_domain", (s, d) => {
      val did = col("doc_id").cast("long")
      val m = pmod(did, lit(6))
      val sub = pmod(did, lit(3)).cast("string")
      val host =
        when(m === 0, concat(lit("a"), sub, lit(".example.com")))
          .when(m === 1, concat(lit("b"), sub, lit(".foo.co.uk")))
          .when(m === 2, concat(lit("c"), sub, lit(".weird.ck")))
          .when(m === 3, lit("www.ck"))
          .when(m === 4, lit("com"))
          .otherwise(concat(lit("d"), sub, lit(".github.io")))
      Curation.registrableDomain(
        t(s, d, "documents").select(col("doc_id"), host.as("host")),
        "host",
        rules = Seq("com", "uk", "co.uk", "*.ck", "!www.ck", "io",
          "github.io"))
        .orderBy("doc_id")
    },
    // q89: the PSL algorithm re-derived relationally — candidate
    // suffixes join the rule VALUES table; exception MAX beats the
    // longest normal/wildcard match, COALESCE supplies the implicit
    // "*" default; both engines cut the same label slices
    Some("""WITH h AS (SELECT doc_id, CASE CAST(doc_id AS BIGINT) % 6
          WHEN 0 THEN 'a' || CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR)
            || '.example.com'
          WHEN 1 THEN 'b' || CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR)
            || '.foo.co.uk'
          WHEN 2 THEN 'c' || CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR)
            || '.weird.ck'
          WHEN 3 THEN 'www.ck'
          WHEN 4 THEN 'com'
          ELSE 'd' || CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR)
            || '.github.io' END AS host
          FROM documents),
        rules(key, rlen, kind) AS (VALUES
          ('com', 1, 'norm'), ('uk', 1, 'norm'), ('co.uk', 2, 'norm'),
          ('ck', 1, 'wild'), ('www.ck', 2, 'exc'), ('io', 1, 'norm'),
          ('github.io', 2, 'norm')),
        lab AS (SELECT doc_id, host, string_split(host, '.') AS ls,
          len(string_split(host, '.')) AS n FROM h),
        cand AS (SELECT doc_id, n, i,
            array_to_string(ls[n - i + 1 : n], '.') AS suf
          FROM (SELECT doc_id, ls, n,
              unnest(generate_series(1, least(n, 5))) AS i FROM lab)),
        m AS (SELECT c.doc_id,
            MAX(CASE WHEN r.kind = 'exc' THEN c.i - 1 END) AS exc_ps,
            MAX(CASE WHEN r.kind = 'norm' THEN c.i
              WHEN r.kind = 'wild' AND c.n >= c.i + 1 THEN c.i + 1 END)
              AS best_ps
          FROM cand c JOIN rules r ON c.suf = r.key AND r.rlen = c.i
          GROUP BY c.doc_id),
        ps AS (SELECT l.doc_id, l.host, l.ls, l.n,
            COALESCE(m.exc_ps, m.best_ps, 1) AS p
          FROM lab l LEFT JOIN m USING (doc_id))
        SELECT doc_id, host,
          CASE WHEN n >= p
            THEN array_to_string(ls[n - p + 1 : n], '.') END
            AS public_suffix,
          CASE WHEN n > p
            THEN array_to_string(ls[n - p : n], '.') END AS reg_domain
        FROM ps ORDER BY doc_id""")),
    // curation: collision-proof exact-substring scrub — the q55
    // semantics confirmed on the gram TEXT, so the result is exact
    // string-level span dedup at any corpus size (the 32-bit portable
    // hash q55 compares on saturates at 10^12 grams). The oracle
    // computes the string semantics DIRECTLY (no hashes at all):
    // matching it proves the xxhash64-prefilter + string-confirm plan
    // equals pure string semantics.
    QuerySpec("q96_span_dedup_confirmed", (s, d) => {
      val did = col("doc_id").cast("long")
      val aug = concat_ws(" ",
        when(pmod(did, lit(13)) === 5, lit(PlantCookie)),
        col("text"),
        when(pmod(did, lit(7)) === 2, lit(PlantSubscribe)))
      val docs = t(s, d, "documents").select(col("doc_id"),
        aug.as("text"))
      Curation.dropDuplicatedSpansConfirmed(docs, "doc_id", "text",
        n = 8, minDocs = 2)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("removed_ppm"), md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    // q96: pure STRING-level duplicated-gram semantics — no hash
    // anywhere in the oracle. The Spark side prefilters on xxhash64
    // and confirms on the gram text; equality here proves the
    // prefilter+confirm plan computes exact string semantics.
    Some(s"""WITH corpus AS (SELECT doc_id,
          (CASE WHEN CAST(doc_id AS BIGINT) % 13 = 5
            THEN '$PlantCookie ' ELSE '' END) || text ||
          (CASE WHEN CAST(doc_id AS BIGINT) % 7 = 2
            THEN ' $PlantSubscribe' ELSE '' END) AS text
          FROM documents),
        t AS (SELECT doc_id, text, $toksSql AS toks FROM corpus),
        g AS (SELECT doc_id, i - 1 AS pos,
            array_to_string(toks[i : i + 7], ' ') AS gs
          FROM (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - 7)) AS i
            FROM t WHERE len(toks) >= 8)),
        dup AS (SELECT gs FROM (SELECT gs, count(DISTINCT doc_id) AS c
            FROM g GROUP BY gs) WHERE c >= 2),
        fp AS (SELECT doc_id, list(pos) AS fps
          FROM g JOIN dup USING (gs) GROUP BY doc_id),
        k AS (SELECT t.doc_id, text, toks,
            list_filter(range(0, len(toks)), j -> len(list_filter(
              coalesce(fps, CAST([] AS BIGINT[])),
              p -> p <= j AND j < p + 8)) = 0) AS keep
          FROM t LEFT JOIN fp ON t.doc_id = fp.doc_id)
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(toks) - len(keep) AS BIGINT) AS n_removed,
          CAST(CASE WHEN len(toks) > 0
            THEN ((len(toks) - len(keep)) * 1000000) // len(toks)
            ELSE 0 END AS BIGINT) AS removed_ppm,
          md5(CASE WHEN len(keep) = len(toks) THEN text
            ELSE coalesce(array_to_string(list_transform(keep,
              j -> toks[j + 1]), ' '), '') END) AS clean_md5
        FROM k ORDER BY doc_id""")),
    // curation: DSIR importance resampling (Xie et al. 2023) — hashed
    // n-gram (uni+bi) bucket weights = Laplace-smoothed target/raw
    // probability ratio in integer ppm; target sample = the src0
    // domain; deterministic Bernoulli keep at 1.2x scale
    QuerySpec("q100_dsir", (s, d) => {
      val docs = t(s, d, "documents")
      val w = Curation.dsirWeights(docs.filter(col("source") === "src0"),
        docs, "doc_id", "text", buckets = 1 << 16)
      Curation.dsirResample(docs, w, "doc_id", "text",
        buckets = 1 << 16, scalePpm = 1200000L)
        .select(col("doc_id"), col("n_features"),
          col("importance_ppm"), col("kept"))
        .orderBy("doc_id")
    },
    // q100: the same hashed uni+bi feature stream, dense smoothed
    // weight table (two truncating DIVs mirrored), mean-weight score
    // and the md5-slot Bernoulli keep — every step integer-exact
    Some(s"""WITH t AS (SELECT doc_id, source, list_transform($toksSql,
          tk -> CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT)) AS hs
          FROM documents),
        feat AS (
          SELECT doc_id, source, unnest(hs) % 65536 AS bucket FROM t
          UNION ALL
          SELECT doc_id, source, (hs[i] * 1000003 + hs[i + 1]) % 65536
          FROM (SELECT doc_id, source, hs,
              unnest(generate_series(1, len(hs) - 1)) AS i
            FROM t WHERE len(hs) >= 2)),
        tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
          FROM feat WHERE source = 'src0' GROUP BY 1),
        rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr
          FROM feat GROUP BY 1),
        tot AS (SELECT
          (SELECT COUNT(*) FROM feat WHERE source = 'src0') AS nt,
          (SELECT COUNT(*) FROM feat) AS nr),
        wt AS (SELECT b.range AS bucket,
            LEAST(64000000, ((COALESCE(tc.ct, 0) + 1) *
              (((nr + 65536) * 1000000) // (nt + 65536)))
              // (COALESCE(rc.cr, 0) + 1)) AS w_ppm
          FROM range(65536) b
          LEFT JOIN tc ON tc.bucket = b.range
          LEFT JOIN rc ON rc.bucket = b.range
          CROSS JOIN tot),
        sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf,
            CAST(SUM(w_ppm) AS BIGINT) AS ws
          FROM feat JOIN wt USING (bucket) GROUP BY 1)
        SELECT d.doc_id, COALESCE(nf, 0) AS n_features,
          CAST(CASE WHEN COALESCE(nf, 0) > 0 THEN ws // nf
            ELSE 0 END AS BIGINT) AS importance_ppm,
          (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
              || ':dsir'), 1, 8)) AS BIGINT) % 10000) * 100 <
            LEAST(1000000, (CASE WHEN COALESCE(nf, 0) > 0
              THEN ws // nf ELSE 0 END) * 1200000 // 1000000) AS kept
        FROM documents d LEFT JOIN sc USING (doc_id)
        ORDER BY d.doc_id""")),
    // curation: the C4 cleaning pass (terminal-punctuation line keep,
    // ≥3-word lines, javascript-line drop; page-level lorem-ipsum /
    // curly-brace / min-sentence gate) — planted lines exercise every
    // rule; pure per-row Columns, no shuffle
    QuerySpec("q91_c4_clean", (s, d) => {
      val did = col("doc_id").cast("long")
      val planted = concat(col("text"),
        lit("\nshort line\nThis planted line has five words here." +
          "\nEnable javascript to view this page today.\n   " +
          "\nAnother good sentence with plenty of words in it!"),
        when(pmod(did, lit(7)) === 0,
          lit("\nLorem Ipsum dolor sit amet.")).otherwise(lit("")),
        when(pmod(did, lit(11)) === 3,
          lit("\nfunction f() { return 1; }")).otherwise(lit("")))
      Curation.c4Clean(
        t(s, d, "documents").select(col("doc_id"), planted.as("text")),
        "doc_id", "text")
        .withColumn("clean_md5", md5(col("clean_text")))
        .drop("clean_text")
        .orderBy("doc_id")
    },
    // q91: the same line predicate as a DuckDB list_filter lambda and
    // the same page gate re-derived over the planted text; sentence
    // count = terminal-punct occurrences in the CLEANED text
    Some("""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS id,
          text || chr(10) || 'short line' || chr(10)
            || 'This planted line has five words here.' || chr(10)
            || 'Enable javascript to view this page today.' || chr(10)
            || '   ' || chr(10)
            || 'Another good sentence with plenty of words in it!'
            || CASE WHEN CAST(doc_id AS BIGINT) % 7 = 0
                 THEN chr(10) || 'Lorem Ipsum dolor sit amet.'
                 ELSE '' END
            || CASE WHEN CAST(doc_id AS BIGINT) % 11 = 3
                 THEN chr(10) || 'function f() { return 1; }'
                 ELSE '' END AS t
          FROM documents),
        l AS (SELECT id, t,
          list_filter(string_split(t, chr(10)), x ->
            regexp_matches(trim(x), '[.!?"]$')
            AND len(regexp_split_to_array(trim(x), '\s+')) >= 3
            AND NOT contains(lower(trim(x)), 'javascript')) AS kl,
          len(string_split(t, chr(10))) AS nl FROM b),
        c AS (SELECT id, t, nl, len(kl) AS nk,
          array_to_string(list_transform(kl, x -> trim(x)), chr(10))
            AS clean FROM l),
        s AS (SELECT id, t, nk, nl, clean,
          CAST(length(clean)
            - length(regexp_replace(clean, '[.!?]', '', 'g'))
            AS BIGINT) AS ns FROM c)
        SELECT id AS doc_id,
          CAST(nk AS BIGINT) AS n_lines_kept,
          CAST(nl - nk AS BIGINT) AS n_lines_dropped,
          ns AS n_sentences,
          (ns >= 5 AND NOT contains(lower(t), 'lorem ipsum')
            AND NOT contains(t, '{')) AS kept,
          md5(clean) AS clean_md5
        FROM s ORDER BY doc_id""")),
    // crawl analytics: snapshot-churn diff — per URL new / gone /
    // changed / unchanged between two synthesized crawl snapshots
    // (prev lacks id%10==0, cur lacks id%10==1, id%5==2 re-renders);
    // thin (url, md5) full-outer join, page bytes never move
    QuerySpec("q92_snapshot_diff", (s, d) => {
      val did = col("doc_id").cast("long")
      val url = concat(lit("http://s.example.com/u"),
        col("doc_id").cast("string"))
      val docs = t(s, d, "documents")
      val prev = docs.filter(pmod(did, lit(10)) =!= 0)
        .select(url.as("url"), md5(col("text")).as("h"))
      val cur = docs.filter(pmod(did, lit(10)) =!= 1)
        .select(url.as("url"),
          md5(when(pmod(did, lit(5)) === 2,
            concat(col("text"), lit(" re-rendered")))
            .otherwise(col("text"))).as("h"))
      Curation.snapshotDiff(prev, cur, "url", "h")
        .orderBy("url")
    },
    // q92: the same thin-row full-outer join re-derived in SQL over
    // the identical snapshot plants
    Some("""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS id,
          'http://s.example.com/u' || CAST(doc_id AS VARCHAR) AS url,
          text FROM documents),
        p AS (SELECT url, md5(text) AS prev_hash FROM b
          WHERE id % 10 <> 0),
        c AS (SELECT url, md5(CASE WHEN id % 5 = 2
            THEN text || ' re-rendered' ELSE text END) AS cur_hash
          FROM b WHERE id % 10 <> 1)
        SELECT COALESCE(p.url, c.url) AS url, prev_hash, cur_hash,
          CASE WHEN prev_hash IS NULL THEN 'new'
            WHEN cur_hash IS NULL THEN 'gone'
            WHEN prev_hash = cur_hash THEN 'unchanged'
            ELSE 'changed' END AS status
        FROM p FULL OUTER JOIN c ON p.url = c.url
        ORDER BY url""")),
    // curation: per-HOST boilerplate line scrub (site templates — nav
    // menus / footers repeating across a host's pages — removed by
    // document-frequency threshold; capped + accounted template sets;
    // untouched docs keep their original text byte-for-byte)
    QuerySpec("q79_host_boilerplate", (s, d) => {
      val did = col("doc_id").cast("long")
      val host = concat(col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com"))
      val t0 = concat(lit("NAV MENU "), host, lit("\n"), col("text"),
        lit("\nCOPYRIGHT "), host)
      Curation.hostBoilerplateScrub(
        t(s, d, "documents")
          .select(col("doc_id"), host.as("host"), t0.as("text")),
        "doc_id", "host", "text")
        .orderBy("doc_id")
    },
    // q79: same df-threshold + top-64 cap + md5 line keys; the kept
    // list is rebuilt only when something was removed, mirroring the
    // Spark side's original-text preservation
    Some(s"""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS id,
          $linkHostSql AS host, text FROM documents),
        d AS (SELECT id, host, 'NAV MENU ' || host || chr(10) || text
          || chr(10) || 'COPYRIGHT ' || host AS t FROM b),
        lh AS (SELECT id, host, unnest(list_distinct(list_transform(
          string_split(t, chr(10)), l -> md5(l)))) AS lhash FROM d),
        c AS (SELECT host, lhash, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM lh GROUP BY 1, 2),
        hd AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS hn
          FROM d GROUP BY 1),
        blr AS (SELECT c.host, lhash, cnt,
          ROW_NUMBER() OVER (PARTITION BY c.host
            ORDER BY cnt DESC, lhash) AS rn,
          COUNT(*) OVER (PARTITION BY c.host) AS nbl
          FROM c JOIN hd ON hd.host = c.host
          WHERE cnt * 1000000 >= 600000 * hn AND cnt >= 2),
        bs AS (SELECT host, list(lhash) AS bls,
          GREATEST(0, MAX(nbl) - 64) AS nbd
          FROM blr WHERE rn <= 64 GROUP BY host),
        f AS (SELECT id, d.host AS host, t,
          COALESCE(nbd, 0) AS nbd,
          list_filter(string_split(t, chr(10)),
            l -> NOT list_contains(COALESCE(bls, []::VARCHAR[]), md5(l)))
            AS kept
          FROM d LEFT JOIN bs ON bs.host = d.host)
        SELECT id AS doc_id, host,
          CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
          CAST(len(string_split(t, chr(10))) - len(kept) AS BIGINT)
            AS n_removed,
          CAST(nbd AS BIGINT) AS n_bl_dropped,
          CASE WHEN len(string_split(t, chr(10))) = len(kept) THEN t
            ELSE array_to_string(kept, chr(10)) END AS clean_text
        FROM f ORDER BY doc_id""")),
    // curation: host extraction + per-host corpus stats (the host-level
    // grouping a domain-blocklist / per-host quality filter runs on)
    QuerySpec("q41_host_stats", (s, d) => {
      val did = col("doc_id").cast("long")
      val url = concat(lit("https://"), col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com/doc/"),
        col("doc_id").cast("string"))
      t(s, d, "documents")
        .withColumn("host", Curation.hostOf(url))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("host")
    },
    Some("""WITH u AS (SELECT *, concat('https://', source, '-',
          CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR),
          '.example.com/doc/', CAST(doc_id AS VARCHAR)) AS url
          FROM documents)
        SELECT
          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
            AS host,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(list_filter(
            regexp_split_to_array(trim(text), '\s+'), t -> t != '')))
            AS BIGINT) AS total_tokens,
          CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM u GROUP BY 1 ORDER BY 1""")),
    // curation: corpus-level exact-substring scrub — tokens covered by
    // a cross-document duplicated word 8-gram are removed (Lee et al.
    // 2022 at n-gram granularity). Two boilerplate sentences are
    // PLANTED (appended for doc_id%7==2, prepended for %13==5); the
    // word-salad context makes boundary-straddling grams unique, so
    // the expected removal is exactly the planted spans.
    QuerySpec("q55_span_dedup", (s, d) => {
      val did = col("doc_id").cast("long")
      val aug = concat_ws(" ",
        when(pmod(did, lit(13)) === 5, lit(PlantCookie)),
        col("text"),
        when(pmod(did, lit(7)) === 2, lit(PlantSubscribe)))
      val docs = t(s, d, "documents").select(col("doc_id"),
        aug.as("text"))
      Curation.dropDuplicatedSpans(docs, "doc_id", "text",
        n = 8, minDocs = 2)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("removed_ppm"), md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    // q55: same planted spans, same 8-gram unit and md5-prefix hash as
    // the Spark side; covered-token mask recomputed with list lambdas
    Some(s"""WITH corpus AS (SELECT doc_id,
          (CASE WHEN CAST(doc_id AS BIGINT) % 13 = 5
            THEN '$PlantCookie ' ELSE '' END) || text ||
          (CASE WHEN CAST(doc_id AS BIGINT) % 7 = 2
            THEN ' $PlantSubscribe' ELSE '' END) AS text
          FROM documents),
        t AS (SELECT doc_id, text, $toksSql AS toks FROM corpus),
        g AS (SELECT doc_id, i - 1 AS pos,
            CAST(('0x' || substr(md5(array_to_string(toks[i : i + 7],
              ' ')), 1, 8)) AS BIGINT) AS gh
          FROM (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - 7)) AS i
            FROM t WHERE len(toks) >= 8)),
        dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS c
            FROM g GROUP BY gh) WHERE c >= 2),
        fp AS (SELECT doc_id, list(pos) AS fps
          FROM g JOIN dup USING (gh) GROUP BY doc_id),
        k AS (SELECT t.doc_id, text, toks,
            list_filter(range(0, len(toks)), j -> len(list_filter(
              coalesce(fps, CAST([] AS BIGINT[])),
              p -> p <= j AND j < p + 8)) = 0) AS keep
          FROM t LEFT JOIN fp ON t.doc_id = fp.doc_id)
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(toks) - len(keep) AS BIGINT) AS n_removed,
          CAST(CASE WHEN len(toks) > 0
            THEN ((len(toks) - len(keep)) * 1000000) // len(toks)
            ELSE 0 END AS BIGINT) AS removed_ppm,
          md5(CASE WHEN len(keep) = len(toks) THEN text
            ELSE coalesce(array_to_string(list_transform(keep,
              j -> toks[j + 1]), ' '), '') END) AS clean_md5
        FROM k ORDER BY doc_id""")),
    // curation: within-document repeated-line removal (first occurrence
    // kept) — the intra-doc half of a RefinedWeb-style line dedup.
    // Nav/cookie lines are planted to repeat inside the synthesized doc.
    QuerySpec("q56_line_dedup", (s, d) => {
      val did = col("doc_id").cast("long")
      val nav = lit("home about contact navigation")
      val aug = concat_ws("\n",
        nav,
        substring(col("text"), 1, 80),
        when(pmod(did, lit(3)) === 0, nav),
        substring(col("text"), 81, 80),
        when(pmod(did, lit(4)) === 1, lit("accept cookies")),
        when(pmod(did, lit(4)) === 1, lit("accept cookies")))
      Curation.dedupLinesWithinDoc(
        t(s, d, "documents").select(col("doc_id"), aug.as("text")),
        "text")
        .select(col("doc_id"), col("n_lines"), col("n_line_dupes"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    // q56: identical synthesized lines; keep = first occurrence of the
    // trimmed line (1-based list_position == own position)
    Some("""WITH aug AS (SELECT doc_id,
          'home about contact navigation' || chr(10) ||
          substr(text, 1, 80) || chr(10) ||
          (CASE WHEN CAST(doc_id AS BIGINT) % 3 = 0
            THEN 'home about contact navigation' || chr(10)
            ELSE '' END) ||
          substr(text, 81, 80) ||
          (CASE WHEN CAST(doc_id AS BIGINT) % 4 = 1
            THEN chr(10) || 'accept cookies' || chr(10) ||
              'accept cookies' ELSE '' END) AS text
          FROM documents),
        lx AS (SELECT doc_id, list_filter(list_transform(
            string_split(text, chr(10)), x -> trim(x)), x -> x != '')
            AS lines FROM aug),
        k AS (SELECT doc_id, lines,
            list_filter(range(0, len(lines)),
              i -> list_position(lines, lines[i + 1]) = i + 1) AS keep
          FROM lx)
        SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(lines) - len(keep) AS BIGINT) AS n_line_dupes,
          md5(coalesce(array_to_string(list_transform(keep,
            i -> lines[i + 1]), chr(10)), '')) AS clean_md5
        FROM k ORDER BY doc_id""")),
    // curation: hashed bag-of-tokens linear classifier — TRAINED
    // relationally on the hash-split train docs (weak label:
    // lang == 'en'), then scores the whole corpus. The fastText/CCNet
    // quality-model pattern with integer-ppm document-frequency odds
    // as weights, so training AND serving are engine-exact.
    QuerySpec("q57_token_clf", (s, d) => {
      val docs = t(s, d, "documents")
      val train = docs
        .withColumn("_split", Curation.hashSplit(col("doc_id"),
          Seq("train" -> 8, "val" -> 1, "test" -> 1)))
        .filter(col("_split") === "train")
        .withColumn("label", col("lang") === "en")
      val w = Curation.tokenClassWeights(train, "doc_id", "text",
        "label", buckets = 1 << 16)
      Curation.scoreByTokenWeights(docs, w, "doc_id", "text",
        buckets = 1 << 16)
        .select(col("doc_id"), col("n_tokens_scored"), col("score_sum"),
          col("score_mean_ppm"), col("pred"))
        .orderBy("doc_id")
    },
    // q57: identical split slot, bucket hash, integer-ppm DF odds and
    // neutral-500000 scoring; // == Spark DIV on these non-negatives
    Some(s"""WITH $clfSqlCtes
        SELECT d.doc_id,
          CAST(COALESCE(n, 0) AS BIGINT) AS n_tokens_scored,
          CAST(COALESCE(ss, 0) AS BIGINT) AS score_sum,
          CAST(CASE WHEN COALESCE(n, 0) > 0 THEN ss // n ELSE 0 END
            AS BIGINT) AS score_mean_ppm,
          COALESCE(CASE WHEN COALESCE(n, 0) > 0 THEN ss // n ELSE 0 END
            > 500000, FALSE) AS pred
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        ORDER BY d.doc_id""")),
    // curation: domain-blocklist URL filtering — an entry blocks the
    // domain and every subdomain via the bounded host-suffix set (no
    // endsWith theta-join). Both the zero-shuffle literal path and the
    // blocklist-table join path are emitted; the oracle pins both.
    QuerySpec("q58_blocklist", (s, d) => {
      val did = col("doc_id").cast("long")
      val url = concat(lit("https://"), col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example"),
        pmod(did, lit(3)).cast("string"), lit(".com/doc/"),
        col("doc_id").cast("string"))
      val docs = t(s, d, "documents").select(col("doc_id"),
        url.as("url"))
      import s.implicits._
      Curation.markBlockedByDomainList(
        docs.withColumn("blocked_lit",
          Curation.blockedByDomains(col("url"), BlockedDomains)),
        "doc_id", "url", BlockedDomains.toDF("domain"))
        .select(col("doc_id"), col("url"), col("blocked_lit"),
          col("blocked"))
        .orderBy("doc_id")
    },
    // q58: same synthesized URLs; blocked = any host suffix in the
    // blocklist (both output columns pin both Spark paths)
    Some {
      val inList = BlockedDomains.map(x => s"'$x'").mkString(", ")
      s"""WITH u AS (SELECT doc_id, 'https://' || source || '-' ||
          CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR) || '.example' ||
          CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR) || '.com/doc/' ||
          CAST(doc_id AS VARCHAR) AS url FROM documents),
        h AS (SELECT doc_id, url, lower(regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host FROM u),
        b AS (SELECT doc_id, url,
            len(list_filter(list_transform(
              generate_series(1, len(string_split(host, '.'))),
              i -> array_to_string(string_split(host, '.')[i:], '.')),
              sfx -> sfx IN ($inList))) > 0 AS blocked
          FROM h)
        SELECT doc_id, url, blocked AS blocked_lit, blocked
        FROM b ORDER BY doc_id"""
    }),
    // curation: ADAPTIVE host blocklist — the production URL-filter
    // maintenance loop in one relational plan. Spam vocabulary is
    // PLANTED on five sources; only two are seed-labeled bad in
    // training; the classifier learns the spam tokens from the seeds,
    // its scores GENERALIZE to the other three spammy sources, and
    // host-mean scoring induces a blocklist covering all five (the
    // host mean averages per-doc boundary noise away). The oracle
    // retrains, rescores and re-derives the blocklist in SQL.
    QuerySpec("q61_host_blocklist", (s, d) => {
      val did = col("doc_id").cast("long")
      val corpus = t(s, d, "documents").select(col("doc_id"),
        col("source"),
        when(col("source").isin(SpamSources: _*),
          concat(col("text"), lit(" " + SpamPhrase)))
          .otherwise(col("text")).as("text"))
      val train = corpus
        .withColumn("_split", Curation.hashSplit(col("doc_id"),
          Seq("train" -> 8, "val" -> 1, "test" -> 1)))
        .filter(col("_split") === "train")
        .withColumn("label", col("source").isin(SeedBadSources: _*))
      val w = Curation.tokenClassWeights(train, "doc_id", "text",
        "label", buckets = 1 << 16)
      val url = concat(lit("https://"), col("source"), lit("-"),
        pmod(did, lit(3)).cast("string"), lit(".example.com/doc/"),
        col("doc_id").cast("string"))
      val scored = Curation.scoreByTokenWeights(corpus, w, "doc_id",
          "text", buckets = 1 << 16)
        .withColumn("url", url)
      val bl = Curation.induceHostBlocklistByScore(scored, "url",
        col("score_mean_ppm"), minDocs = 3L, minMeanPpm = BlockMeanPpm)
      Curation.markBlockedByDomainList(scored, "doc_id", "url",
        bl.select(col("domain")))
        .select(col("doc_id"), Curation.hostOf(col("url")).as("host"),
          col("score_mean_ppm"), col("blocked"))
        .orderBy("doc_id")
    },
    // q61: same planted spam; retrain + rescore via the shared
    // classifier CTEs over the planted corpus, re-derive the host-mean
    // blocklist; the synthesized hosts are never suffixes of each
    // other, so the Spark side's suffix semantics reduce to equality
    Some {
      val srcIn = SpamSources.map(x => s"'$x'").mkString(", ")
      val seedIn = SeedBadSources.map(x => s"'$x'").mkString(", ")
      s"""WITH corpus AS (SELECT doc_id, source,
          CASE WHEN source IN ($srcIn)
            THEN text || ' $SpamPhrase' ELSE text END AS text
          FROM documents),
        ${clfSqlCtesOver("corpus", s"source IN ($seedIn)")},
        scored AS (SELECT c.doc_id, c.source,
            CAST(CASE WHEN COALESCE(n, 0) > 0 THEN ss // n ELSE 0 END
              AS BIGINT) AS smp
          FROM corpus c LEFT JOIN agg ON c.doc_id = agg.doc_id),
        u AS (SELECT doc_id, smp,
            source || '-' || CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR)
              || '.example.com' AS host
          FROM scored),
        bl AS (SELECT host FROM (
            SELECT host, COUNT(*) AS nd, SUM(smp) AS ssum
            FROM u GROUP BY host)
          WHERE nd >= 3 AND ssum // nd >= $BlockMeanPpm)
        SELECT u.doc_id, u.host, u.smp AS score_mean_ppm,
          (bl.host IS NOT NULL) AS blocked
        FROM u LEFT JOIN bl USING (host) ORDER BY u.doc_id"""
    }),
    // curation: rank-based quality gate — keep the best 30% of each
    // language by token count (the distribution-adaptive alternative
    // to a hard score threshold); exact integer ranks, ties by id
    QuerySpec("q64_top_quantile", (s, d) =>
      Curation.keepTopQuantile(
        t(s, d, "documents")
          .withColumn("n_toks",
            TextAnalysis.tokenCount(col("text")).cast("long"))
          .select(col("doc_id"), col("lang"), col("n_toks")),
        "doc_id", "lang", "n_toks", keepPpm = 300000L)
        .orderBy("doc_id"),
    // q64: identical integer rank inequality ((rank−1)·1e6 < ppm·n)
    Some(s"""WITH thin AS (SELECT doc_id, lang,
          CAST(len($toksSql) AS BIGINT) AS n_toks FROM documents),
        r AS (SELECT *, CAST(row_number() OVER (
            PARTITION BY lang ORDER BY n_toks DESC, doc_id) AS BIGINT)
            AS stratum_rank,
          CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS stratum_n
          FROM thin)
        SELECT doc_id, lang, n_toks, stratum_rank, stratum_n,
          (stratum_rank - 1) * 1000000 < 300000 * stratum_n AS kept
        FROM r ORDER BY doc_id""")),
    // curation: eval-integrity audit — MinHash-LSH near-dup pairs that
    // straddle the train/val/test hash split (cross-split rows = test
    // leakage the dedup-before-split discipline must eliminate)
    // maxBucket=64: the audit's candidate generation rides the same
    // big-bucket guard as q28 — at 10× generated scale the uncapped
    // form's bucket fan-out grew ~quadratically in template-sharing
    // dup-group count (BenchScale measured 14×); the cap is mirrored
    // in the oracle CTE chain, so the guard itself stays verified
    QuerySpec("q65_split_leakage", (s, d) =>
      Curation.splitLeakageAudit(t(s, d, "documents"), "doc_id", "text",
        Seq("train" -> 8, "val" -> 1, "test" -> 1), maxBucket = 64)
        .orderBy("split_lo", "split_hi"),
    // q65: same LSH candidate pairs + split slots; cross-split rows
    // are the leakage
    Some {
      def slotSql(e: String) =
        s"""CAST(('0x' || substr(md5(CAST($e AS VARCHAR) || ':split'),
          1, 8)) AS BIGINT) % 10000"""
      s"""WITH ${lshPairsCtesOver(3, maxBucket = 64)},
        e AS (SELECT a, b FROM pairs WHERE est_jaccard >= 0.5),
        sl AS (SELECT a, b, ${slotSql("a")} AS qa, ${slotSql("b")} AS qb
          FROM e),
        sp AS (SELECT
            (CASE WHEN qa < 8000 THEN 'train' WHEN qa < 9000 THEN 'val'
              ELSE 'test' END) AS sa,
            (CASE WHEN qb < 8000 THEN 'train' WHEN qb < 9000 THEN 'val'
              ELSE 'test' END) AS sb
          FROM sl)
        SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
          CAST(count(*) AS BIGINT) AS n_pairs,
          least(sa, sb) != greatest(sa, sb) AS leaks
        FROM sp GROUP BY 1, 2 ORDER BY 1, 2"""
    }),
    // curation: per-URL latest-snapshot (as-of) selection — the
    // keep-newest-crawl dedup over multi-snapshot web corpora, with a
    // historical cutoff (point-in-time reconstruction). Snapshots are
    // synthesized: 50 URL keys × pseudo-random crawl hours; cutoff at
    // hour 800 (boundary inclusive); ties break by ascending doc_id.
    QuerySpec("q60_snapshot", (s, d) => {
      val did = col("doc_id").cast("long")
      val key = concat(lit("https://example.com/page/"),
        pmod(did, lit(50)).cast("string"))
      val ts = timestamp_seconds(
        lit(1600000000L) + pmod(did * 37L, lit(1000L)) * 3600L)
      val snaps = t(s, d, "documents")
        .select(col("doc_id"), key.as("url_key"), ts.as("warc_ts"))
      Curation.latestSnapshotAsOf(snaps, "url_key", "warc_ts",
        timestamp_seconds(lit(1600000000L + 800L * 3600L)), "doc_id")
        .select(col("doc_id"), col("url_key"),
          unix_micros(col("warc_ts")).as("ts_us"))
        .orderBy("url_key", "doc_id")
    },
    // q60: identical integer hour arithmetic; cutoff boundary included;
    // micros computed arithmetically (no engine timestamp conversion)
    Some("""WITH t AS (SELECT doc_id,
          'https://example.com/page/'
            || CAST(CAST(doc_id AS BIGINT) % 50 AS VARCHAR) AS url_key,
          (CAST(doc_id AS BIGINT) * 37) % 1000 AS h
          FROM documents),
        f AS (SELECT *, row_number() OVER (
            PARTITION BY url_key ORDER BY h DESC, doc_id) AS rn
          FROM t WHERE h <= 800)
        SELECT doc_id, url_key,
          CAST((1600000000 + h * 3600) * 1000000 AS BIGINT) AS ts_us
        FROM f WHERE rn = 1 ORDER BY url_key, doc_id"""))
  )
}
