package graft
package catalog

import graft.ops.{Dedup, SimSearch, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table readers, synthesized inputs and DuckDB SQL fragments that
  * queries of more than one family use.
  */
private[catalog] object Shared {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** [[t]] rebalanced to session parallelism — for queries whose first
    * stage is a CPU-heavy per-row text kernel (shingling, winnowing,
    * the curation gate). The sf test tables are single-row-group
    * parquet, so their scan is ONE task no matter how
    * maxPartitionBytes is set, serializing the kernel on an artifact
    * of the tiny fixture files; a production pages table arrives in
    * thousands of row groups and this exchange is a no-op-sized
    * rebalance of one linear pass.
    */
  def tSpread(s: SparkSession, dir: String, name: String): DataFrame =
    t(s, dir, name).repartition(s.sparkContext.defaultParallelism)

  /** DuckDB cosine over two double-list expressions. */
  def cosSql(ae: String, be: String): String =
    s"""list_sum(list_transform(generate_series(1, len($ae)),
        i -> $ae[i] * $be[i])) /
      (sqrt(list_sum(list_transform(generate_series(1, len($ae)),
        i -> $ae[i] * $ae[i]))) *
       sqrt(list_sum(list_transform(generate_series(1, len($be)),
        i -> $be[i] * $be[i]))))"""

  /** Shared IVF CTE chain (q42/q51): v = double embeddings, cents = 16
    * deterministically sampled centroids, sims = all cosines, cell =
    * the argmax-cosine assignment (min index on ties — same rule as
    * SimSearch.ivfCellRanking).
    */
  lazy val ivfCellSqlCtes: String =
    s"""v AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      cents AS (SELECT ci, e FROM (
        SELECT row_number() OVER (
            ORDER BY md5(concat(CAST(vec_id AS VARCHAR), ':42')),
              CAST(vec_id AS VARCHAR)) - 1 AS ci, e
        FROM v) WHERE ci < 16),
      sims AS (SELECT v.vec_id, c.ci, ${cosSql("v.e", "c.e")} AS s
        FROM v CROSS JOIN cents c),
      cell AS (SELECT vec_id, min(ci) AS cell FROM (
        SELECT *, max(s) OVER (PARTITION BY vec_id) AS mx FROM sims)
        WHERE s = mx GROUP BY vec_id)"""

  lazy val toksSql =
    """list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t != '')"""

  def tokHashSql(width: Int) =
    s"CAST(('0x' || substr(md5(t), 1, $width)) AS BIGINT)"

  /** DuckDB twin of TextAnalysis.stopwordHits: tokenize once, count
    * list membership (same split regex, same IN list).
    */
  def stopHitsSql(words: Seq[String], textExpr: String): String = {
    val inList = words.map(w => s"'${sqlLit(w)}'").mkString(", ")
    s"len(list_filter(regexp_split_to_array($textExpr, '\\s+'), " +
      s"t -> t IN ($inList)))"
  }

  def pickCol(did: Column, vals: Seq[String], shift: Int): Column =
    vals.zipWithIndex.foldRight(lit("")) { case ((v, i), els) =>
      when(pmod(did + shift, lit(vals.length)) === i, lit(v)).otherwise(els)
    }

  /** Deterministic host-level link table for q73/q74: each document
    * contributes one edge from its q41-style host
    * (`source-(id%7).example.com`) to a pseudo-randomly chosen other
    * host (`src{(7id+3)%20}-{(3id+1)%7}.example.com`) — 140 nodes,
    * multi-edges and dangling hosts included, so degree stats and
    * PageRank exercise their full contract.
    */
  def webEdges(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("long")
    t(s, d, "documents").select(
      concat(col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"),
        lit(".example.com")).as("src"),
      concat(lit("src"),
        pmod(did * 7L + 3L, lit(20)).cast("string"), lit("-"),
        pmod(did * 3L + 1L, lit(7)).cast("string"),
        lit(".example.com")).as("dst"))
  }

  /** Synthesized hreflang pages for q105/q106: docs grouped in
    * translation triples g = doc_id/3 with langs en/de/fr by doc_id%3;
    * every non-omitting page (doc_id%7 != 0) declares all three
    * language alternates — tag quote style/attribute order varies by
    * doc_id%2, href absolute vs path-absolute by doc_id%4 — plus an
    * x-default pointing at the en member. Every page also carries a
    * stylesheet link and an alternate-WITHOUT-hreflang RSS link that
    * the extractor must ignore. Every 7th doc declares nothing and
    * must still cluster through its siblings' references.
    */
  def hreflangPages(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("long")
    // integer division: Column./ is double division
    val g = ((did - pmod(did, lit(3))) / 3L).cast("long")
    val gs = g.cast("string")
    val lang = element_at(array(lit("en"), lit("de"), lit("fr")),
      (pmod(did, lit(3)) + 1).cast("int"))
    val host = concat(lit("t"), pmod(g, lit(13)).cast("string"),
      lit(".example.com"))
    val url = concat(lit("http://"), host, lit("/"), lang, lit("/p"),
      gs, lit(".html"))
    def tag(l: String): Column = {
      val href = when(pmod(did, lit(4)) === 0,
          concat(lit(s"/$l/p"), gs, lit(".html")))
        .otherwise(concat(lit("http://"), host, lit(s"/$l/p"), gs,
          lit(".html")))
      when(pmod(did, lit(2)) === 0,
        concat(lit(s"""<link rel="alternate" hreflang="$l" href=""""),
          href, lit("\">")))
        .otherwise(concat(lit("<link href='"), href,
          lit(s"' hreflang='$l' rel='alternate'>")))
    }
    val xdef = concat(
      lit("<link rel=\"alternate\" hreflang=\"x-default\" href=\"http://"),
      host, lit("/en/p"), gs, lit(".html\">"))
    val links = when(pmod(did, lit(7)) === 0, lit(""))
      .otherwise(concat(tag("en"), tag("de"), tag("fr"), xdef))
    val html = concat(
      lit("<html><head><link rel=\"stylesheet\" href=\"/s.css\">" +
        "<link rel=\"alternate\" type=\"application/rss+xml\" " +
        "href=\"/feed.xml\">"),
      links, lit("</head><body>x</body></html>"))
    t(s, d, "documents").select(url.as("url"), html.as("html"))
  }

  /** Deterministic synthesized pages-with-links table for q75/q76:
    * each document becomes one page at
    * `http://{source}-{id%7}.example.com/docs/d{id}.html` whose HTML
    * carries four-to-five anchor tags exercising the whole
    * [[graft.extract.LinkExtractor]] contract — an absolute
    * double-quoted href, a single-quoted relative href with dot
    * segments and a fragment, a root-relative href, an href-less named
    * anchor, and (id%3==0) an UNQUOTED scheme-relative rel=nofollow
    * href in an uppercase tag. The oracle re-derives every expected
    * row from the same modular formulas — the Spark side must actually
    * parse and resolve.
    */
  def linkPages(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("long")
    def m(k: Long, a: Long, mod: Long): Column =
      pmod(did * k + a, lit(mod)).cast("string")
    val host = concat(col("source"), lit("-"), m(1, 0, 7),
      lit(".example.com"))
    val url = concat(lit("http://"), host, lit("/docs/d"),
      col("doc_id").cast("string"), lit(".html"))
    val a1 = concat(lit("<a href=\"http://src"), m(7, 3, 20), lit("-"),
      m(3, 1, 7), lit(".example.com/p"), m(1, 0, 13),
      lit(".html\">news item "), m(1, 0, 10), lit("</a>"))
    val a2 = concat(lit("<a class='m' href='../sub/page"), m(5, 2, 17),
      lit(".html#sec"), m(1, 0, 3), lit("'>relative <b>link</b> "),
      m(1, 0, 10), lit("</a>"))
    val a3 = concat(lit("<a href=\"/idx/"), m(1, 0, 5),
      lit("\">section index</a>"))
    val a4 = lit("<a name=\"top\">no link here</a>")
    val a5 = when(pmod(did, lit(3)) === 0,
      concat(lit("<A rel=\"nofollow\" href=//cdn-"), m(1, 0, 4),
        lit(".example.net/lib.js>cdn asset</A>"))).otherwise(lit(""))
    t(s, d, "documents").select(url.as("url"),
      concat(lit("<html><head><title>d"), col("doc_id").cast("string"),
        lit("</title></head><body>\n<p>page body filler</p>\n"),
        a1, lit("\n"), a2, lit("\n"), a3, lit("\n"), a4, lit("\n"),
        a5, lit("\n</body></html>")).as("html"))
  }

  /** DuckDB fragments for the q75/q76 oracles: page url and host from
    * the [[linkPages]] formulas.
    */
  lazy val linkHostSql: String =
    """source || '-' || CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR)
      || '.example.com'"""

  /** SQL twin of [[webEdges]]. */
  lazy val webEdgesSql: String =
    """SELECT concat(source, '-',
        CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR),
        '.example.com') AS src,
      concat('src',
        CAST((CAST(doc_id AS BIGINT) * 7 + 3) % 20 AS VARCHAR), '-',
        CAST((CAST(doc_id AS BIGINT) * 3 + 1) % 7 AS VARCHAR),
        '.example.com') AS dst
      FROM documents"""

  /** q74 oracle: the same 3 PageRank rounds unrolled as chained CTEs —
    * one (contributions, rank-update) pair per iteration, identical
    * integer arithmetic (`//` == Spark DIV on non-negative operands;
    * DuckDB SUM(BIGINT) widens to HUGEINT, matching the Spark side's
    * decimal(38,0) numerator).
    */
  def prRoundsSql(n: Int): String =
    (1 to n).map { i =>
      s""", c$i AS (SELECT e.dst AS node,
          SUM(r.rank_ppb // d.outdeg) AS s
          FROM e JOIN dg d ON d.src = e.src
          JOIN r${i - 1} r ON r.node = e.src
          GROUP BY e.dst),
        r$i AS (SELECT nd.node, CAST(150000000 +
            (850000 * COALESCE(c.s, 0)) // 1000000 AS BIGINT)
            AS rank_ppb
          FROM nd LEFT JOIN c$i c ON c.node = nd.node)"""
    }.mkString

  /** Shingle-array SQL (mirrors Dedup.shingles + empty filter). */
  def shingleSql(n: Int): String =
    s"""list_filter(list_distinct(list_transform(
      generate_series(0, greatest(len($toksSql) - $n, 0)),
      i -> array_to_string(($toksSql)[i+1:i+$n], ' '))), s -> length(s) > 0)"""

  def minhashSqlColsOver(k: Int, unitsSql: String): String =
    Dedup.minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform($unitsSql, t -> ($a * ${tokHashSql(8)} + $b) % ${Dedup.MinhashP}))" +
        s" AS m$i"
    }.mkString(", ")

  /** Banded MinHash-LSH candidate pairs as SQL CTEs (mirrors
    * Dedup.minhashLshPairs with k=16, bands=8): yields CTE `pairs`
    * with columns (a, b, est_jaccard). shingleN mirrors the Spark
    * parameter (1 = unigram tokens). `maxBucket > 0`
    * replicates Dedup.minhashLshPairs' big-bucket cap (a window count
    * per (band, bucket), oversized buckets contribute no pairs) so the
    * cap itself is oracle-verified, not just unit-tested.
    */
  def lshPairsCtesOver(shingleN: Int, maxBucket: Int = 0,
      src: String = "documents"): String = {
    val units = if (shingleN <= 1) toksSql else shingleSql(shingleN)
    val sigArr = (0 until 16).map(i => s"m$i").mkString("[", ", ", "]")
    val capCte =
      if (maxBucket <= 0) "capped AS (SELECT * FROM banded)"
      else s"""capped AS (SELECT id, sig, band, bucket FROM (
          SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
          FROM banded) WHERE bsz <= $maxBucket)"""
    s"""sig0 AS (SELECT doc_id AS id, ${minhashSqlColsOver(16, units)} FROM $src),
      sig AS (SELECT id, $sigArr AS sig FROM sig0),
      banded AS (
        SELECT id, sig, r.range AS band,
          md5(array_to_string(list_transform(
            sig[r.range*2+1 : r.range*2+2], x -> CAST(x AS VARCHAR)), ','))
            AS bucket
        FROM sig CROSS JOIN range(8) r),
      $capCte,
      pairs AS (
        SELECT DISTINCT l.id AS a, r.id AS b,
          CAST(list_sum(list_transform(generate_series(1, 16),
            i -> CASE WHEN l.sig[i] = r.sig[i] THEN 1 ELSE 0 END))
            AS DOUBLE) / 16 AS est_jaccard
        FROM capped l JOIN capped r
          ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id)"""
  }

  def sqlLit(s: String): String = s.replace("'", "''")

  /** Hyperplane literal as a DuckDB DOUBLE list. Each coefficient goes
    * through CAST('<Double.toString>' AS DOUBLE): a bare decimal literal
    * would be DECIMAL-typed in DuckDB, and Double.toString is the
    * shortest round-trip form, so the parsed value is bit-identical to
    * the Spark lit(d).
    */
  def planeListSql(p: Seq[Double]): String =
    p.map(d => s"CAST('$d' AS DOUBLE)").mkString("[", ",", "]")

  /** q29 oracle CTEs: the SAME driver-side seeded hyperplanes as
    * SimSearch.hyperplaneBucket (planes(4, 64, 42)), dot products as a
    * left-to-right list_reduce fold (bit-identical to the Spark
    * aggregate() fold — the bucket SIGN has no rounding tolerance),
    * cosine as in the proven q17 twin.
    */
  def embedNearDupCtes(nPlanes: Int, dim: Int): String = {
    val planeRows = SimSearch.planes(nPlanes, dim).zipWithIndex
      .map { case (p, i) => s"($i, ${planeListSql(p)})" }.mkString(", ")
    s"""v AS (SELECT vec_id AS id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        planes(pi, pv) AS (VALUES $planeRows),
        dots AS (SELECT v.id, v.e, p.pi,
          list_reduce(list_transform(generate_series(1, $dim),
            i -> v.e[i] * p.pv[i]), (acc, x) -> acc + x) AS dot
          FROM v CROSS JOIN planes p),
        b AS (SELECT id, e,
          CAST(SUM(CASE WHEN dot > 0 THEN (1 << pi) ELSE 0 END) AS BIGINT)
            AS bucket
          FROM dots GROUP BY id, e),
        pairs AS (SELECT l.id AS a, r.id AS b,
          list_sum(list_transform(generate_series(1, $dim),
            i -> l.e[i] * r.e[i])) /
          (sqrt(list_sum(list_transform(generate_series(1, $dim),
            i -> l.e[i] * l.e[i]))) *
           sqrt(list_sum(list_transform(generate_series(1, $dim),
            i -> r.e[i] * r.e[i])))) AS cosine
          FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id)"""
  }

  def pickSql(vals: Seq[String], shift: Int): String = {
    val whens = vals.zipWithIndex.map { case (v, i) =>
      s"WHEN (CAST(doc_id AS BIGINT) + $shift) % ${vals.length} = $i " +
        s"THEN '${sqlLit(v)}'"
    }
    s"(CASE ${whens.mkString(" ")} ELSE '' END)"
  }

  /** DuckDB twin of TextAnalysis.langId: (inner script-count columns,
    * decision CASE over them + the stopword vote). Same ranges, same
    * family order, same tie-breaks — generated from the same constants.
    */
  def langIdSqlParts: (String, String) = {
    val scCols = TextAnalysis.ScriptRanges.map { case (k, r) =>
      s"(length(text) - length(regexp_replace(text, '$r', '', 'g'))) AS s_$k"
    }.mkString(", ")
    val hits = TextAnalysis.StopLists.map { case (lang, words) =>
      lang -> stopHitsSql(words, "lower(text)")
    }
    val mx = s"greatest(${hits.map(_._2).mkString(", ")})"
    val latinBranches = hits.map { case (lang, h) =>
      s"WHEN ($h) = $mx THEN '$lang'"
    }.mkString(" ")
    val latin = s"CASE WHEN $mx = 0 THEN 'und' $latinBranches " +
      s"ELSE '${TextAnalysis.StopLists.last._1}' END"
    val fams = Seq("cjk" -> "(s_han + s_kana)", "ko" -> "s_hangul",
      "ru" -> "s_cyrillic", "ar" -> "s_arabic", "el" -> "s_greek",
      "he" -> "s_hebrew", "hi" -> "s_devanagari", "th" -> "s_thai")
    val mxS = s"greatest(${fams.map(_._2).mkString(", ")})"
    val total = fams.map(_._2).mkString(" + ")
    val pickBranches = fams.map { case (f, c) =>
      val v =
        if (f == "cjk") "(CASE WHEN s_kana > 0 THEN 'ja' ELSE 'zh' END)"
        else s"'$f'"
      s"WHEN $c = $mxS THEN $v"
    }.mkString(" ")
    val caseExpr = s"(CASE WHEN text IS NULL THEN 'und' " +
      s"WHEN ($total) * 2 > length(text) " +
      s"THEN (CASE $pickBranches ELSE 'und' END) ELSE ($latin) END)"
    (scCols, caseExpr)
  }
}
