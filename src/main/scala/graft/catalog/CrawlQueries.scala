package graft
package catalog

import graft.extract.{CharsetSniffer, ErrorPages, LinkExtractor, MetaExtractor}
import graft.ops.{Curation, Robots, WebGraph}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Shared._

/** Crawl-side operators: robots rules, sitemaps, feeds, recrawl
  * scheduling, WARC records, and link, meta, charset and error-page
  * extraction.
  */
object CrawlQueries {
  private val linkUrlSql: String =
    s"""'http://' || $linkHostSql || '/docs/d'
      || CAST(doc_id AS VARCHAR) || '.html'"""

  /** q75 oracle: the four expected link rows per document, re-derived
    * from the [[Shared.linkPages]] plant (positions skip the href-less tag at
    * 3; the nofollow row exists only for id%3==0).
    */
  private lazy val q75Sql: String = {
    val id = "CAST(doc_id AS BIGINT)"
    s"""WITH p AS (SELECT $id AS id, $linkUrlSql AS url,
        'http://' || $linkHostSql AS hroot FROM documents),
      l AS (
        SELECT url, 0 AS link_pos,
          'http://src' || CAST((id*7+3) % 20 AS VARCHAR) || '-'
            || CAST((id*3+1) % 7 AS VARCHAR) || '.example.com/p'
            || CAST(id % 13 AS VARCHAR) || '.html' AS href_raw,
          'http://src' || CAST((id*7+3) % 20 AS VARCHAR) || '-'
            || CAST((id*3+1) % 7 AS VARCHAR) || '.example.com/p'
            || CAST(id % 13 AS VARCHAR) || '.html' AS href_abs,
          'news item ' || CAST(id % 10 AS VARCHAR) AS anchor,
          FALSE AS nofollow FROM p
        UNION ALL
        SELECT url, 1,
          '../sub/page' || CAST((id*5+2) % 17 AS VARCHAR) || '.html#sec'
            || CAST(id % 3 AS VARCHAR),
          hroot || '/sub/page' || CAST((id*5+2) % 17 AS VARCHAR)
            || '.html',
          'relative link ' || CAST(id % 10 AS VARCHAR), FALSE FROM p
        UNION ALL
        SELECT url, 2, '/idx/' || CAST(id % 5 AS VARCHAR),
          hroot || '/idx/' || CAST(id % 5 AS VARCHAR),
          'section index', FALSE FROM p
        UNION ALL
        SELECT url, 4,
          '//cdn-' || CAST(id % 4 AS VARCHAR) || '.example.net/lib.js',
          'http://cdn-' || CAST(id % 4 AS VARCHAR)
            || '.example.net/lib.js',
          'cdn asset', TRUE FROM p WHERE id % 3 = 0)
      SELECT url, link_pos, href_raw, href_abs, anchor, nofollow
      FROM l ORDER BY url, link_pos"""
  }

  def specs: Seq[QuerySpec] = Seq(
    // source: WARC-style archive round trip — documents serialized as
    // a multi-file WARC subset archive, then re-read through the
    // SPLITTABLE lineSep text scan and the Content-Length-bounded
    // parser; output is the CDX-style digest row (url, length, md5).
    // The oracle computes the same rows directly from documents, so
    // writer, record splitter and parser must all be exact
    QuerySpec("q77_warc", (s, d) => {
      val did = col("doc_id").cast("long")
      val url = concat(lit("http://"), col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com/docs/d"),
        col("doc_id").cast("string"), lit(".html"))
      val payload = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val dir = s"${sys.props("java.io.tmpdir")}/graft_warc_q77_" +
        java.lang.Integer.toHexString(d.hashCode)
      graft.io.Warc.writeWarc(
        t(s, d, "documents").select(url.as("url"), payload.as("payload"))
          .repartition(4, col("url")),
        "url", "payload", dir)
      graft.io.Warc.readWarc(s, dir)
        .select(col("url"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("url")
    },
    // q77: the round trip must reproduce exactly what a direct scan of
    // documents yields — url formula, payload char length, payload md5
    Some(s"""SELECT $linkUrlSql AS url,
        CAST(length('<html><body><p>' || text || '</p></body></html>')
          AS BIGINT) AS content_length,
        md5('<html><body><p>' || text || '</p></body></html>')
          AS payload_md5
        FROM documents ORDER BY url""")),
    // extraction: hyperlink extraction from raw page HTML (WAT-record
    // surface) — href parse across quote styles + RFC 3986 reference
    // resolution with dot-segment removal; the oracle re-derives every
    // expected row from the synthesis formulas, so the Spark side must
    // actually parse and resolve
    QuerySpec("q75_link_extract", (s, d) =>
      LinkExtractor.extractLinks(linkPages(s, d), "url", "html")
        .orderBy("url", "link_pos"),
    Some(q75Sql)),
    // crawl politeness: robots.txt parsing (group-exact * selection,
    // shared headers, empty-rule no-ops) + URL admission (longest
    // prefix wins, Allow beats Disallow on ties). The robots files are
    // synthesized per host with decoy groups for other agents; the
    // oracle knows the planted decisions, so the Spark side must
    // genuinely parse the files and apply RFC 9309 precedence
    QuerySpec("q80_robots", (s, d) => {
      val did = col("doc_id").cast("long")
      val host = concat(col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com"))
      val docs = t(s, d, "documents")
      val hosts = docs.select(host.as("host"),
        pmod(did, lit(7)).cast("string").as("k")).distinct()
      val robots = hosts.select(col("host"), concat(
        lit("User-agent: googlebot\nDisallow: /\n\nUser-agent: *\n" +
          "Disallow: /private\nAllow: /private/pub\nDisallow: /tmp"),
        col("k"),
        lit("\nDisallow:\n\nUser-agent: other\nDisallow: /docs\n"))
        .as("txt"))
      val urls = docs
        .select(host.as("h"), did.as("id"))
        .select(explode(array(
          concat(lit("http://"), col("h"), lit("/docs/d"),
            col("id").cast("string"), lit(".html")),
          concat(lit("http://"), col("h"), lit("/private/f"),
            pmod(col("id"), lit(5)).cast("string")),
          concat(lit("http://"), col("h"), lit("/private/pub/x"),
            pmod(col("id"), lit(5)).cast("string")),
          concat(lit("http://"), col("h"), lit("/tmp"),
            pmod(col("id"), lit(3)).cast("string"), lit("/y"))))
          .as("url"))
      Robots.allowedByRobots(urls, "url",
          Robots.parseRobots(robots, "host", "txt"))
        .orderBy("url")
    },
    // q80: the planted admission decisions re-derived from the
    // synthesis formulas — /docs allowed (decoy groups must not
    // apply), /private disallowed, /private/pub allowed by the longer
    // Allow, /tmp{m} disallowed only on the host whose rule digit
    // matches
    Some(s"""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id,
          $linkHostSql AS h,
          CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR) AS k
          FROM documents),
        l AS (
          SELECT 'http://' || h || '/docs/d' || CAST(id AS VARCHAR)
              || '.html' AS url,
            TRUE AS allowed, '' AS matched_prefix FROM p
          UNION ALL SELECT 'http://' || h || '/private/f'
              || CAST(id % 5 AS VARCHAR),
            FALSE, '/private' FROM p
          UNION ALL SELECT 'http://' || h || '/private/pub/x'
              || CAST(id % 5 AS VARCHAR),
            TRUE, '/private/pub' FROM p
          UNION ALL SELECT 'http://' || h || '/tmp'
              || CAST(id % 3 AS VARCHAR) || '/y',
            CAST(id % 3 AS VARCHAR) <> k,
            CASE WHEN CAST(id % 3 AS VARCHAR) = k
              THEN '/tmp' || k ELSE '' END FROM p)
        SELECT url, allowed, matched_prefix FROM l ORDER BY url""")),
    // extraction: WAT-style page metadata (title with markup/entities,
    // meta description across attribute orders + quote styles,
    // keywords, Open Graph, canonical link resolved against <base>,
    // robots noindex/nofollow directives). The oracle re-derives every
    // field from the synthesis formulas, so the Spark side must
    // actually parse the tags and resolve the canonical URL
    QuerySpec("q81_page_meta", (s, d) => {
      val did = col("doc_id").cast("long")
      def m(mod: Long): Column = pmod(did, lit(mod))
      def ms(mod: Long): Column = m(mod).cast("string")
      val host = concat(col("source"), lit("-"), ms(7),
        lit(".example.com"))
      val url = concat(lit("http://"), host, lit("/docs/d"),
        col("doc_id").cast("string"), lit(".html"))
      val baseTag = when(m(5) === 0, concat(
        lit("<base href=\"http://base"), ms(3),
        lit(".example.org/dir/sub/\">"))).otherwise(lit(""))
      val desc = when(m(2) === 0, concat(
          lit("<meta name=\"description\" content=\"Summary &lt;"),
          ms(10), lit("&gt; of doc "), did.cast("string"), lit("\">")))
        .otherwise(concat(lit("<meta content='Alt summary "), ms(10),
          lit("' name='description'>")))
      val kw = when(m(3) === 0, concat(
        lit("<meta name=\"keywords\" content=\"k"), ms(4), lit(", k"),
        ms(6), lit("\">"))).otherwise(lit(""))
      val og1 = when(m(2) === 0, concat(
        lit("<meta property=\"og:title\" content=\"OG d"),
        did.cast("string"), lit("\">"))).otherwise(lit(""))
      val canon = when(m(4) === 0, concat(
          lit("<link rel=\"canonical\" href=\"http://canon.example.com/c"),
          ms(10), lit("\">")))
        .when(m(4) === 1, concat(lit("<link href='../c/p"), ms(5),
          lit("' rel='canonical'>")))
        .when(m(4) === 2, concat(
          lit("<link rel=\"canonical\" href=\"/canon/"), ms(7),
          lit("\">")))
        .otherwise(lit(""))
      val rob = when(m(6) === 0,
          lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(m(6) === 1, lit("<meta name=\"robots\" content=\"NOINDEX\">"))
        .otherwise(lit(""))
      val html = concat(lit("<html><head><title> Doc &amp; d"),
        col("doc_id").cast("string"), lit(" <b>x</b> </title>"),
        baseTag, desc, kw, og1,
        lit("<meta property=\"og:type\" content=\"article\">"),
        canon, rob, lit("</head><body><p>body</p></body></html>"))
      MetaExtractor.pageMeta(
        t(s, d, "documents").select(url.as("url"), html.as("html")),
        "url", "html")
        .withColumn("n_meta_tags", col("n_meta_tags").cast("long"))
        .orderBy("url")
    },
    // q81: every metadata field re-derived from the synthesis formulas
    // (title entity-decode + markup strip, description across attr
    // orders/quote styles, canonical resolution incl. the <base href>
    // shift and ../ dot-segment removal, robots directive tokens)
    Some(s"""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id,
          $linkUrlSql AS url, $linkHostSql AS h FROM documents)
        SELECT url,
          'Doc & d' || CAST(id AS VARCHAR) || ' x' AS title,
          CASE WHEN id % 2 = 0 THEN 'Summary <' || CAST(id % 10 AS VARCHAR)
              || '> of doc ' || CAST(id AS VARCHAR)
            ELSE 'Alt summary ' || CAST(id % 10 AS VARCHAR) END
            AS description,
          CASE WHEN id % 3 = 0 THEN 'k' || CAST(id % 4 AS VARCHAR)
              || ', k' || CAST(id % 6 AS VARCHAR)
            ELSE '' END AS keywords,
          CASE WHEN id % 2 = 0 THEN 'OG d' || CAST(id AS VARCHAR)
            ELSE '' END AS og_title,
          'article' AS og_type,
          CASE CAST(id % 4 AS INTEGER)
            WHEN 0 THEN 'http://canon.example.com/c'
              || CAST(id % 10 AS VARCHAR)
            WHEN 1 THEN '../c/p' || CAST(id % 5 AS VARCHAR)
            WHEN 2 THEN '/canon/' || CAST(id % 7 AS VARCHAR)
            ELSE '' END AS canonical_raw,
          CASE CAST(id % 4 AS INTEGER)
            WHEN 0 THEN 'http://canon.example.com/c'
              || CAST(id % 10 AS VARCHAR)
            WHEN 1 THEN CASE WHEN id % 5 = 0
              THEN 'http://base' || CAST(id % 3 AS VARCHAR)
                || '.example.org/dir/c/p' || CAST(id % 5 AS VARCHAR)
              ELSE 'http://' || h || '/c/p' || CAST(id % 5 AS VARCHAR)
              END
            WHEN 2 THEN CASE WHEN id % 5 = 0
              THEN 'http://base' || CAST(id % 3 AS VARCHAR)
                || '.example.org/canon/' || CAST(id % 7 AS VARCHAR)
              ELSE 'http://' || h || '/canon/' || CAST(id % 7 AS VARCHAR)
              END
            ELSE '' END AS canonical_abs,
          CASE WHEN id % 5 = 0 THEN 'http://base'
              || CAST(id % 3 AS VARCHAR) || '.example.org/dir/sub/'
            ELSE '' END AS base_href,
          id % 6 IN (0, 1) AS noindex,
          id % 6 = 0 AS nofollow_meta,
          CAST(2 + (CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN id % 6 < 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_meta_tags
        FROM p ORDER BY url""")),
    // extraction: JSON-LD (schema.org) structured data — one row per
    // ld+json script block in document order: Article headline /
    // datePublished / author (object AND plain-string forms), Product
    // offer price, @graph entity count, malformed-JSON blocks as
    // valid=false rows, non-ld scripts ignored. The oracle re-derives
    // every field and block position from the synthesis formulas, so
    // the Spark side must genuinely find the typed script tags and
    // parse the JSON
    QuerySpec("q104_jsonld", (s, d) => {
      val did = col("doc_id").cast("long")
      def m(mod: Long): Column = pmod(did, lit(mod))
      def ms(mod: Long): Column = m(mod).cast("string")
      val host = concat(col("source"), lit("-"), ms(7),
        lit(".example.com"))
      val url = concat(lit("http://"), host, lit("/docs/d"),
        col("doc_id").cast("string"), lit(".html"))
      val authorJson = when(m(4) === 0,
          concat(lit("\"Plain "), ms(5), lit("\"")))
        .otherwise(concat(lit("{\"@type\":\"Person\",\"name\":\"Author "),
          ms(5), lit("\"}")))
      val blockA = concat(
        when(m(2) === 0, lit("<script type=\"application/ld+json\">"))
          .otherwise(lit("<script async type='application/ld+json' id='ld'>")),
        lit("{\"@context\":\"https://schema.org\",\"@type\":\"Article\"," +
          "\"headline\":\"Doc "),
        did.cast("string"),
        lit(" headline\",\"datePublished\":\"2024-0"),
        (m(9) + 1).cast("string"),
        lit("-15\",\"author\":"), authorJson, lit("}</script>"))
      val blockB = when(m(3) === 0, concat(
        lit("<script type=\"application/ld+json\">{\"@type\":\"Product\"," +
          "\"name\":\"P"), ms(7),
        lit("\",\"offers\":{\"@type\":\"Offer\",\"price\":\""), ms(100),
        lit(".99\"}}</script>"))).otherwise(lit(""))
      val blockC = when(m(5) === 0, lit(
        "<script type=\"application/ld+json\">{\"@context\":" +
          "\"https://schema.org\",\"@graph\":[{\"@type\":\"WebPage\"}," +
          "{\"@type\":\"BreadcrumbList\"}]}</script>")).otherwise(lit(""))
      val blockD = when(m(11) === 0, lit(
        "<script type=\"application/ld+json\">{\"@type\":\"Broken\"," +
          "</script>")).otherwise(lit(""))
      val html = concat(
        lit("<html><head><script>var x=1;</script>" +
          "<script type=\"text/javascript\">ignore()</script>"),
        blockA, blockB, blockC, blockD,
        lit("</head><body>b</body></html>"))
      MetaExtractor.jsonLd(
        t(s, d, "documents").select(url.as("url"), html.as("html")),
        "url", "html")
        .orderBy("url", "block_pos")
    },
    // q104: every field + block position re-derived from the plant
    // formulas; block order on the page is A (always), B (id%3=0),
    // C (id%5=0), D (id%11=0)
    Some(s"""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id,
          $linkUrlSql AS url FROM documents),
        a AS (SELECT url, 0 AS block_pos, TRUE AS valid,
          'Article' AS ld_type,
          'Doc ' || CAST(id AS VARCHAR) || ' headline' AS headline,
          CAST(NULL AS VARCHAR) AS name,
          CASE WHEN id % 4 = 0 THEN 'Plain ' || CAST(id % 5 AS VARCHAR)
            ELSE 'Author ' || CAST(id % 5 AS VARCHAR) END AS author_name,
          '2024-0' || CAST(id % 9 + 1 AS VARCHAR) || '-15'
            AS date_published,
          CAST(NULL AS VARCHAR) AS price, CAST(1 AS BIGINT) AS n_entities
          FROM p),
        bq AS (SELECT url, 1 AS block_pos, TRUE AS valid,
          'Product' AS ld_type, CAST(NULL AS VARCHAR) AS headline,
          'P' || CAST(id % 7 AS VARCHAR) AS name,
          CAST(NULL AS VARCHAR) AS author_name,
          CAST(NULL AS VARCHAR) AS date_published,
          CAST(id % 100 AS VARCHAR) || '.99' AS price,
          CAST(1 AS BIGINT) AS n_entities
          FROM p WHERE id % 3 = 0),
        cq AS (SELECT url,
          1 + (CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END) AS block_pos,
          TRUE AS valid, 'WebPage' AS ld_type,
          CAST(NULL AS VARCHAR) AS headline, CAST(NULL AS VARCHAR) AS name,
          CAST(NULL AS VARCHAR) AS author_name,
          CAST(NULL AS VARCHAR) AS date_published,
          CAST(NULL AS VARCHAR) AS price, CAST(2 AS BIGINT) AS n_entities
          FROM p WHERE id % 5 = 0),
        dq AS (SELECT url,
          1 + (CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END) AS block_pos,
          FALSE AS valid, CAST(NULL AS VARCHAR) AS ld_type,
          CAST(NULL AS VARCHAR) AS headline, CAST(NULL AS VARCHAR) AS name,
          CAST(NULL AS VARCHAR) AS author_name,
          CAST(NULL AS VARCHAR) AS date_published,
          CAST(NULL AS VARCHAR) AS price, CAST(0 AS BIGINT) AS n_entities
          FROM p WHERE id % 11 = 0)
        SELECT url, CAST(block_pos AS INTEGER) AS block_pos, valid,
          ld_type, headline, name, author_name, date_published, price,
          n_entities
        FROM (SELECT * FROM a UNION ALL SELECT * FROM bq
          UNION ALL SELECT * FROM cq UNION ALL SELECT * FROM dq)
        ORDER BY url, block_pos""")),
    // extraction: hreflang alternate links — publisher-declared
    // translation graph rows across tag/quote/attribute-order and
    // relative/absolute href variants; alternate links WITHOUT
    // hreflang (RSS feed, stylesheet) ignored. The oracle re-derives
    // the RESOLVED absolute urls, so all plant variants must normalize
    // to the same output
    QuerySpec("q105_hreflang", (s, d) =>
      MetaExtractor.hreflangLinks(hreflangPages(s, d), "url", "html")
        .orderBy("url", "link_pos"),
    // q105: resolved-absolute rows re-derived from the plant — every
    // tag/quote/relative-href variant must normalize to these
    Some("""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents
          WHERE CAST(doc_id AS BIGINT) % 7 <> 0),
        u AS (SELECT d, d // 3 AS g,
          CASE CAST(d % 3 AS INTEGER) WHEN 0 THEN 'en' WHEN 1 THEN 'de'
            ELSE 'fr' END AS l FROM b),
        u2 AS (SELECT d, g, l,
          'http://t' || CAST(g % 13 AS VARCHAR) || '.example.com' AS base
          FROM u)
        SELECT base || '/' || l || '/p' || CAST(g AS VARCHAR) || '.html'
            AS url,
          CAST(v.pos AS INTEGER) AS link_pos, v.hl AS hreflang,
          base || '/' || v.tl || '/p' || CAST(g AS VARCHAR) || '.html'
            AS href_abs
        FROM u2 CROSS JOIN (VALUES (0, 'en', 'en'), (1, 'de', 'de'),
          (2, 'fr', 'fr'), (3, 'x-default', 'en')) v(pos, hl, tl)
        ORDER BY url, link_pos""")),
    // crawl scheduling: the frontier composition — candidate URLs
    // gated by robots.txt admission (q80 machinery), prioritized by
    // host PageRank (q74 machinery), politeness-capped to the top 3
    // per host via the sharded rank (q71 machinery, no per-host single
    // window task). The oracle re-derives admission by construction
    // and re-runs the rank + row_number in SQL
    QuerySpec("q83_crawl_frontier", (s, d) => {
      val did = col("doc_id").cast("long")
      val host = concat(col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com"))
      val docs = t(s, d, "documents")
      val hosts = docs.select(host.as("host"),
        pmod(did, lit(7)).cast("string").as("k")).distinct()
      val robots = hosts.select(col("host"), concat(
        lit("User-agent: googlebot\nDisallow: /\n\nUser-agent: *\n" +
          "Disallow: /private\nAllow: /private/pub\nDisallow: /tmp"),
        col("k"),
        lit("\nDisallow:\n\nUser-agent: other\nDisallow: /docs\n"))
        .as("txt"))
      val urls = docs
        .select(host.as("h"), did.as("id"))
        .select(explode(array(
          concat(lit("http://"), col("h"), lit("/docs/d"),
            col("id").cast("string"), lit(".html")),
          concat(lit("http://"), col("h"), lit("/private/f"),
            pmod(col("id"), lit(5)).cast("string")),
          concat(lit("http://"), col("h"), lit("/private/pub/x"),
            pmod(col("id"), lit(5)).cast("string")),
          concat(lit("http://"), col("h"), lit("/tmp"),
            pmod(col("id"), lit(3)).cast("string"), lit("/y"))))
          .as("url"))
        .distinct()
      val admitted = Robots.allowedByRobots(urls, "url",
          Robots.parseRobots(robots, "host", "txt"))
        .filter(col("allowed")).select(col("url"))
      val ranked = WebGraph.pageRank(webEdges(s, d), "src", "dst",
        iterations = 2)
      val scored = admitted
        .withColumn("host", Curation.matchHost(col("url")))
        .join(ranked.select(col("node").as("host"),
          col("rank_ppb").cast("long").as("rank_ppb")), "host")
      Curation.keepTopNPerStratum(scored, "url", "host", "rank_ppb",
          n = 3L)
        .filter(col("kept"))
        .select(col("url"), col("host"), col("rank_ppb"),
          col("stratum_rank"))
        .orderBy("host", "stratum_rank")
    },
    // q83: admission by construction (q80's planted decisions), host
    // rank re-run with the q74 CTE chain, politeness cap via
    // row_number — the Spark side must parse robots, run PageRank and
    // rank shard-safely to agree
    Some(s"""WITH e AS ($webEdgesSql),
        nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
          FROM e GROUP BY src),
        r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_ppb
          FROM nd)${prRoundsSql(2)},
        p AS (SELECT CAST(doc_id AS BIGINT) AS id,
          $linkHostSql AS h FROM documents),
        u AS (
          SELECT DISTINCT 'http://' || h || '/docs/d'
            || CAST(id AS VARCHAR) || '.html' AS url, h AS host FROM p
          UNION
          SELECT DISTINCT 'http://' || h || '/private/pub/x'
            || CAST(id % 5 AS VARCHAR), h FROM p
          UNION
          SELECT DISTINCT 'http://' || h || '/tmp'
            || CAST(id % 3 AS VARCHAR) || '/y', h FROM p
          WHERE id % 3 <> id % 7),
        sc AS (SELECT u.url, u.host,
          CAST(r2.rank_ppb AS BIGINT) AS rank_ppb
          FROM u JOIN r2 ON r2.node = u.host),
        rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY host
          ORDER BY rank_ppb DESC, url) AS BIGINT) AS stratum_rank
          FROM sc)
        SELECT url, host, rank_ppb, stratum_rank FROM rk
        WHERE stratum_rank <= 3 ORDER BY host, stratum_rank""")),
    // crawl seeding: sitemap-XML parsing (urlset subset) — loc-less
    // blocks dropped with their positions preserved as audit gaps,
    // lastmod verbatim-trimmed, priority → integer ppm with the spec's
    // 0.5 default. Case-mixed tags + padded values exercise the
    // (?is)/trim contract
    QuerySpec("q84_sitemap", (s, d) => {
      val did = col("doc_id").cast("long")
      val host = concat(col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com"))
      val k = pmod(did, lit(7)).cast("string")
      // host-determined (one sitemap per host): month digit = k+1
      val km = (pmod(did, lit(7)) + 1).cast("string")
      val hosts = t(s, d, "documents")
        .select(host.as("host"), k.as("k"), km.as("km"))
        .distinct()
      val xml = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset " +
          "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "<url><loc> http://"), col("host"), lit("/docs/a"),
        col("k"), lit(".html </loc><lastmod>2026-0"), col("km"),
        lit("-01</lastmod><priority>0."), col("k"),
        lit("</priority></url>\n<url><LOC>http://"), col("host"),
        lit("/docs/b"), col("k"),
        lit(".html</LOC></url>\n<url><loc></loc></url>\n" +
          "<url><!-- no loc --></url>\n<url><loc>http://"),
        col("host"),
        lit("/c</loc><lastmod> 2025-12-31 </lastmod></url>\n</urlset>"))
      Robots.parseSitemap(
          hosts.select(col("host"), xml.as("xml")), "host", "xml")
        .withColumn("entry_pos", col("entry_pos").cast("long"))
        .orderBy("host", "entry_pos")
    },
    // q84: the three surviving blocks per host by construction
    // (positions 0/1/4 — the loc-less blocks leave audit gaps);
    // priority 0.k → k·100000 ppm, default 500000
    Some("""WITH h AS (SELECT DISTINCT concat(source, '-',
          CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR),
          '.example.com') AS host,
          CAST(doc_id AS BIGINT) % 7 AS k FROM documents),
        r AS (
          SELECT host, CAST(0 AS BIGINT) AS entry_pos,
            'http://' || host || '/docs/a' || CAST(k AS VARCHAR)
              || '.html' AS loc,
            '2026-0' || CAST(k + 1 AS VARCHAR) || '-01' AS lastmod,
            CAST(k * 100000 AS BIGINT) AS priority_ppm FROM h
          UNION ALL
          SELECT host, 1, 'http://' || host || '/docs/b'
              || CAST(k AS VARCHAR) || '.html',
            '', 500000 FROM h
          UNION ALL
          SELECT host, 4, 'http://' || host || '/c',
            '2025-12-31', 500000 FROM h)
        SELECT host, entry_pos, loc, lastmod, priority_ppm FROM r
        ORDER BY host, entry_pos""")),
    // crawl discovery: RSS 2.0 / Atom feed parsing — per-host feeds
    // (RSS on even hosts, Atom on odd), CDATA + markup titles, items
    // without links dropped with position gaps, Atom alternate-link
    // selection skipping rel=self, published falling back to updated.
    // The oracle re-derives every row from the plant formulas
    QuerySpec("q107_feeds", (s, d) => {
      val did = col("doc_id").cast("long")
      val host = concat(col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com"))
      val hosts = t(s, d, "documents")
        .select(host.as("host"), pmod(did, lit(7)).as("k"))
        .distinct()
        .withColumn("ks", col("k").cast("string"))
        .withColumn("k1", (col("k") + 1).cast("string"))
      val rssXml = concat(
        lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
          "<title>Feed</title><link>http://"), col("host"),
        lit("/</link>\n<item><title><![CDATA[First <b>story</b> "),
        col("ks"), lit("]]></title><link> http://"), col("host"),
        lit("/news/a-"), col("ks"),
        lit(".html </link><pubDate>Mon, 0"), col("k1"),
        lit(" Jan 2026 10:00:00 GMT</pubDate></item>\n" +
          "<item><title>No link item</title><pubDate>x</pubDate>" +
          "</item>\n<item><link>http://"), col("host"),
        lit("/news/b-"), col("ks"),
        lit(".html</link></item>\n</channel></rss>"))
      val atomXml = concat(
        lit("<?xml version=\"1.0\"?>" +
          "<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
          "<title>AF</title><link rel=\"self\" href=\"http://"),
        col("host"),
        lit("/feed\"/>\n<entry><title>Entry one "), col("ks"),
        lit("</title><link rel=\"self\" href=\"http://"), col("host"),
        lit("/feed#1\"/><link rel=\"alternate\" href=\"http://"),
        col("host"), lit("/posts/p-"), col("ks"),
        lit(".html\"/><published>2026-02-0"), col("k1"),
        lit("</published></entry>\n<entry><title>E2</title>" +
          "<link href='http://"), col("host"), lit("/posts/q-"),
        col("ks"), lit(".html'/><updated>2026-03-0"), col("k1"),
        lit("</updated></entry>\n<entry><title>No link</title>" +
          "<published>z</published></entry>\n</feed>"))
      val xml = when(pmod(col("k"), lit(2)) === 0, rssXml)
        .otherwise(atomXml)
      Robots.parseFeed(
          hosts.select(col("host"), xml.as("xml")), "host", "xml")
        .orderBy("host", "entry_pos")
    },
    // q107: every feed row re-derived from the plant — RSS hosts emit
    // item 0 (full) and item 2 (bare link; 1 dropped for no link),
    // Atom hosts emit entry 0 (alternate link, published) and entry 1
    // (no-rel link, updated fallback; 2 dropped)
    Some("""WITH h AS (SELECT DISTINCT concat(source, '-',
          CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR),
          '.example.com') AS host,
          CAST(doc_id AS BIGINT) % 7 AS k FROM documents),
        r AS (
          SELECT host, 0 AS entry_pos, 'rss' AS kind,
            'http://' || host || '/news/a-' || CAST(k AS VARCHAR)
              || '.html' AS link,
            'First story ' || CAST(k AS VARCHAR) AS title,
            'Mon, 0' || CAST(k + 1 AS VARCHAR)
              || ' Jan 2026 10:00:00 GMT' AS published
          FROM h WHERE k % 2 = 0
          UNION ALL
          SELECT host, 2, 'rss',
            'http://' || host || '/news/b-' || CAST(k AS VARCHAR)
              || '.html', '', ''
          FROM h WHERE k % 2 = 0
          UNION ALL
          SELECT host, 0, 'atom',
            'http://' || host || '/posts/p-' || CAST(k AS VARCHAR)
              || '.html',
            'Entry one ' || CAST(k AS VARCHAR),
            '2026-02-0' || CAST(k + 1 AS VARCHAR)
          FROM h WHERE k % 2 = 1
          UNION ALL
          SELECT host, 1, 'atom',
            'http://' || host || '/posts/q-' || CAST(k AS VARCHAR)
              || '.html', 'E2',
            '2026-03-0' || CAST(k + 1 AS VARCHAR)
          FROM h WHERE k % 2 = 1)
        SELECT host, CAST(entry_pos AS INTEGER) AS entry_pos, kind,
          link, title, published
        FROM r ORDER BY host, entry_pos""")),
    // crawl ops: recrawl scheduling from observed snapshot churn —
    // per-url change ratio over a planted snapshot history (2-5 weekly
    // snapshots, content version bumps on (did+i)%3==0 steps, %7 urls
    // have a single snapshot = maximum-ignorance default) interpolates
    // the revisit interval; overdue days = the recrawl priority
    QuerySpec("q110_recrawl", (s, d) => {
      val did = col("doc_id").cast("long")
      val k = when(pmod(did, lit(7)) === 0, lit(1L))
        .otherwise(lit(2L) + pmod(did, lit(4)))
      val snaps = t(s, d, "documents")
        .select(concat(lit("http://"), col("source"),
            lit(".example.com/d"), col("doc_id").cast("string")).as("url"),
          did.as("did"), explode(sequence(lit(0L), k - 1)).as("i"))
        .select(col("url"),
          (pmod(col("did"), lit(30)) + col("i") * 7).as("day"),
          concat(lit("v"),
            (call_function("div", col("did") + col("i"), lit(3L)) -
              call_function("div", col("did"), lit(3L)))
              .cast("string")).as("h"))
      Robots.revisitSchedule(snaps, "url", "day", "h", nowDay = 90L,
          minDays = 2L, maxDays = 45L)
        .orderBy("url")
    },
    // q110: the oracle rebuilds the snapshot plant and re-derives the
    // change ratio with its own lag window, then the same integral
    // interval interpolation (45 - 43*ppm // 1e6, nowDay 90)
    Some("""WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS did,
          'http://' || source || '.example.com/d'
            || CAST(doc_id AS VARCHAR) AS url FROM documents),
        k AS (SELECT did, url,
          CASE WHEN did % 7 = 0 THEN 1 ELSE 2 + did % 4 END AS k
          FROM docs),
        s AS (SELECT did, url, unnest(range(0, k)) AS i FROM k),
        snap AS (SELECT url, did % 30 + i * 7 AS day,
          'v' || CAST((did + i) // 3 - did // 3 AS VARCHAR) AS h FROM s),
        st AS (SELECT url, day, h,
          lag(h) OVER (PARTITION BY url ORDER BY day, h) AS prev
            FROM snap),
        agg AS (SELECT url, count(*) AS n_snaps,
          sum(CASE WHEN prev IS NOT NULL AND h != prev
            THEN 1 ELSE 0 END) AS n_changes,
          max(day) AS last_day FROM st GROUP BY url),
        c AS (SELECT url, n_snaps, n_changes, last_day,
          CASE WHEN n_snaps < 2 THEN 500000
            ELSE (n_changes * 1000000) // (n_snaps - 1) END AS change_ppm
          FROM agg),
        f AS (SELECT url, n_snaps, n_changes, change_ppm, last_day,
          45 - (43 * change_ppm) // 1000000 AS interval_days FROM c)
        SELECT url, CAST(n_snaps AS BIGINT) AS n_snaps,
          CAST(n_changes AS BIGINT) AS n_changes,
          CAST(change_ppm AS BIGINT) AS change_ppm,
          CAST(interval_days AS BIGINT) AS interval_days,
          CAST(last_day AS BIGINT) AS last_day,
          CAST(last_day + interval_days AS BIGINT) AS next_due_day,
          CAST(greatest(0, 90 - (last_day + interval_days)) AS BIGINT)
            AS overdue_days
        FROM f ORDER BY url""")),
    // crawl politeness: Crawl-delay parsing (the non-RFC directive a
    // polite fetch scheduler budgets on) + per-host hourly fetch
    // budget. Plant spans: no delay, first-wins double delay, a
    // non-numeric value, a foreign (googlebot-only) group, a
    // fractional value, an explicit 0, and a delay BEFORE any group
    // header (all ignored except the valid in-group firsts)
    QuerySpec("q115_crawl_delay", (s, d) => {
      val did = col("doc_id").cast("long")
      val k = pmod(did, lit(7))
      val host = concat(col("source"), lit("-"), k.cast("string"),
        lit(".example.com"))
      val txt = when(k === 0, lit("User-agent: *\nDisallow: /a\n"))
        .when(k === 1,
          lit("User-agent: *\nCrawl-delay: 10\nCrawl-delay: 99\n"))
        .when(k === 2, lit("User-agent: *\nCrawl-delay: abc\n"))
        .when(k === 3, lit("User-agent: googlebot\nCrawl-delay: 3\n\n" +
          "User-agent: *\nDisallow: /y\n"))
        .when(k === 4, lit("User-agent: *\nCrawl-delay: 2.5\n"))
        .when(k === 5, lit("User-agent: *\nCrawl-delay: 0\n"))
        .otherwise(lit("Crawl-delay: 7\nUser-agent: *\nDisallow: /z\n"))
      t(s, d, "documents").select(host.as("host"), txt.as("txt"))
        .distinct()
        .select(col("host"),
          Robots.crawlDelay(col("txt")).as("crawl_delay"),
          Robots.fetchBudget(Robots.crawlDelay(col("txt")), 3600L, 5L)
            .as("fetches_per_hour"))
        .orderBy("host")
    },
    // q115: expected delay/budget re-derived from the plant formula
    // (valid in-group firsts: k=1 -> 10, k=4 -> 2 via leading digits,
    // k=5 -> declared 0; everything else -1; budget = 3600 div
    // max(delay if > 0 else default 5))
    Some("""WITH h AS (SELECT DISTINCT source || '-'
          || CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR)
          || '.example.com' AS host,
          CAST(doc_id AS BIGINT) % 7 AS k FROM documents)
        SELECT host,
          CAST(CASE k WHEN 1 THEN 10 WHEN 4 THEN 2 WHEN 5 THEN 0
            ELSE -1 END AS BIGINT) AS crawl_delay,
          CAST(CASE k WHEN 1 THEN 360 WHEN 4 THEN 1800
            ELSE 720 END AS BIGINT) AS fetches_per_hour
        FROM h ORDER BY host""")),
    // crawl discovery: RSS/Atom feed AUTODISCOVERY from page HTML —
    // the step that finds parseFeed's (q107) inputs. Plant per page:
    // stylesheet link (no), absolute rss feed (yes), hreflang
    // alternate (no), attribute-order-swapped single-quoted atom feed
    // with a RELATIVE href (yes, resolved), hrefless feed link
    // (dropped) — positions keep the gaps
    QuerySpec("q116_feed_discovery", (s, d) => {
      val did = col("doc_id").cast("long")
      val url = concat(lit("http://"), col("source"),
        lit(".example.com/blog/post"), did.cast("string"), lit(".html"))
      val html = concat(
        lit("<html><head><link rel=\"stylesheet\" href=\"/s.css\">" +
          "<link rel=\"alternate\" type=\"application/rss+xml\" " +
          "href=\"/feed.xml\">" +
          "<link rel=\"alternate\" hreflang=\"de\" href=\"/de/p.html\">" +
          "<link type='application/atom+xml' rel='alternate' " +
          "href='atom"), did.cast("string"),
        lit(".xml'><link rel=\"alternate\" " +
          "type=\"application/rss+xml\"></head></html>"))
      MetaExtractor.feedLinks(
          t(s, d, "documents").select(url.as("url"), html.as("html")),
          "url", "html")
        .orderBy("url", "link_pos")
    },
    // q116: the two surviving feed rows per page re-derived from the
    // plant (positions 1 and 3 — the stylesheet, hreflang and hrefless
    // tags leave gaps; the atom href resolves relative to /blog/)
    Some("""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS did, source
          FROM documents),
        u AS (SELECT
          'http://' || source || '.example.com/blog/post'
            || CAST(did AS VARCHAR) || '.html' AS url,
          'http://' || source || '.example.com' AS origin,
          'http://' || source || '.example.com/blog/' AS dir,
          did FROM p),
        r AS (
          SELECT url, 1 AS link_pos, 'rss' AS kind,
            origin || '/feed.xml' AS feed_url FROM u
          UNION ALL
          SELECT url, 3, 'atom',
            dir || 'atom' || CAST(did AS VARCHAR) || '.xml' FROM u)
        SELECT url, CAST(link_pos AS INTEGER) AS link_pos, kind, feed_url
        FROM r ORDER BY url, link_pos""")),
    // crawl discovery: robots.txt Sitemap: directives — the
    // autodiscovery step that feeds the sitemap parser (q84) its fetch
    // frontier. Cross-group semantics: a directive inside a FOREIGN
    // agent's group still applies (unlike Allow/Crawl-delay). Plant
    // spans: in-group, two directives (both kept, in order), foreign
    // group, commented-out + relative value (both dropped), case
    // variant with padding, and no directive at all
    QuerySpec("q119_sitemap_directive", (s, d) => {
      val did = col("doc_id").cast("long")
      val k = pmod(did, lit(6))
      val host = concat(col("source"), lit("-"), k.cast("string"),
        lit(".example.com"))
      val txt = when(k === 0, concat(
          lit("User-agent: *\nDisallow: /a\nSitemap: https://"), host,
          lit("/s.xml\n")))
        .when(k === 1, concat(lit("Sitemap: https://"), host,
          lit("/a.xml\nUser-agent: *\nDisallow: /b\nSitemap: https://"),
          host, lit("/b.xml\n")))
        .when(k === 2, concat(
          lit("User-agent: googlebot\nDisallow: /\nSitemap: http://"),
          host, lit("/g.xml\n")))
        .when(k === 3, concat(lit("# Sitemap: https://"), host,
          lit("/x.xml\nSitemap: /local.xml\n")))
        .when(k === 4, concat(lit("SITEMAP:   https://"), host,
          lit("/S2.XML  \n")))
        .otherwise(lit("User-agent: *\nDisallow: /z\n"))
      Robots.sitemapDirectives(
          t(s, d, "documents").select(host.as("host"), txt.as("txt"))
            .distinct(),
          "host", "txt")
        .orderBy("host", "map_pos")
    },
    // q119: expected directive rows re-derived from the plant (k=0
    // in-group, k=1 both in order, k=2 foreign group still applies,
    // k=3 comment + relative both dropped, k=4 case/padding, k=5 none)
    Some("""WITH h AS (SELECT DISTINCT source || '-'
          || CAST(CAST(doc_id AS BIGINT) % 6 AS VARCHAR)
          || '.example.com' AS host,
          CAST(doc_id AS BIGINT) % 6 AS k FROM documents),
        r AS (
          SELECT host, 0 AS map_pos,
            'https://' || host || '/s.xml' AS sitemap_url
          FROM h WHERE k = 0
          UNION ALL SELECT host, 0, 'https://' || host || '/a.xml'
          FROM h WHERE k = 1
          UNION ALL SELECT host, 1, 'https://' || host || '/b.xml'
          FROM h WHERE k = 1
          UNION ALL SELECT host, 0, 'http://' || host || '/g.xml'
          FROM h WHERE k = 2
          UNION ALL SELECT host, 0, 'https://' || host || '/S2.XML'
          FROM h WHERE k = 4)
        SELECT host, CAST(map_pos AS INTEGER) AS map_pos, sitemap_url
        FROM r ORDER BY host, map_pos""")),
    // RFC 9309 wildcard robots gate: `*` / trailing-`$` patterns with
    // most-octets precedence. Plant spans: star-suffix disallow, an
    // anchored Allow that outranks it, the star-leading .php$
    // extension form, /p* outranking Allow /p by one octet, a literal
    // mid-pattern $, and a no-match path
    QuerySpec("q126_robots_wildcards", (s, d) => {
      val did = col("doc_id").cast("long")
      val k = pmod(did, lit(6))
      val host = concat(col("source"), lit(".example.com"))
      val path = when(k === 0, lit("/fish/deep/x"))
        .when(k === 1, lit("/fish/ok"))
        .when(k === 2, lit("/site/index.php"))
        .when(k === 3, lit("/pq"))
        .when(k === 4, lit("/a$b/z"))
        .otherwise(lit("/zzz"))
      val urls = t(s, d, "documents").select(did.as("doc_id"),
        concat(lit("http://"), host, path).as("url"))
      val txt = "User-agent: *\nDisallow: /fish*\nAllow: /fish/ok$\n" +
        "Disallow: /*.php$\nAllow: /p\nDisallow: /p*\nDisallow: /a$b\n"
      val robots = t(s, d, "documents").select(host.as("host"))
        .distinct().withColumn("txt", lit(txt))
      Robots.allowedByRobots(urls, "url",
          Robots.parseRobots(robots, "host", "txt"),
          rfcWildcards = true)
        .select(col("doc_id"), col("url"), col("matched_prefix"),
          col("allowed"))
        .orderBy("doc_id")
    },
    // q126: DuckDB has no robots parser — the oracle re-derives every
    // planted decision shape as literals (same protocol as q119/q120;
    // the matching semantics themselves are pinned by RobotsSpec
    // against hand-worked RFC examples)
    Some("""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
          CAST(doc_id AS BIGINT) % 6 AS k FROM documents)
        SELECT doc_id,
          'http://' || source || '.example.com' || CASE k
            WHEN 0 THEN '/fish/deep/x' WHEN 1 THEN '/fish/ok'
            WHEN 2 THEN '/site/index.php' WHEN 3 THEN '/pq'
            WHEN 4 THEN '/a$b/z' ELSE '/zzz' END AS url,
          CASE k WHEN 0 THEN '/fish*' WHEN 1 THEN '/fish/ok$'
            WHEN 2 THEN '/*.php$' WHEN 3 THEN '/p*'
            WHEN 4 THEN '/a$b' ELSE '' END AS matched_prefix,
          k IN (1, 5) AS allowed
        FROM p ORDER BY doc_id""")),
    // corpus gating: soft-error-page detection (HTTP-200 "not found"
    // shells) — error tokens in the title / error phrases in the body
    // gate ONLY together with a short body (a long article ABOUT 404s
    // survives); link density reported as a ppm feature
    QuerySpec("q85_soft_errors", (s, d) => {
      val did = col("doc_id").cast("long")
      val url = concat(lit("http://"), col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com/docs/d"),
        col("doc_id").cast("string"), lit(".html"))
      val c = pmod(did, lit(9))
      // digit-fused title ("Doc n404", not "Doc 404"): ids 404/410
      // must not trip the \b404\b error token
      val title = when(c === 0, lit("404 Not Found"))
        .when(c === 1, lit("Error log archive"))
        .when(c === 2, lit("Tiny stub"))
        .otherwise(concat(lit("Doc n"), col("doc_id").cast("string")))
      val body = when(c === 0,
          lit("the page you requested does not exist"))
        .when(c === 1, repeat(lit("w "), 150))
        .when(c === 2,
          lit("just a stub here <a href=/x>x</a> <a href=/y>y</a>"))
        .otherwise(repeat(lit("tok "), (lit(20) + pmod(did, lit(30)))
          .cast("int")))
      val html = concat(lit("<html><head><title>"), title,
        lit("</title></head><body>"), body, lit("</body></html>"))
      ErrorPages.softErrorSignals(
        t(s, d, "documents").select(url.as("url"), html.as("html")),
        "url", "html")
        .orderBy("url")
    },
    // q85: every signal re-derived from the plant's four page shapes;
    // the long error-mentioning page (case 1) must NOT be flagged
    Some("""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id,
          'http://' || source || '-'
            || CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR)
            || '.example.com/docs/d' || CAST(doc_id AS VARCHAR)
            || '.html' AS url,
          CAST(doc_id AS BIGINT) % 9 AS c FROM documents),
        f AS (SELECT url,
          CAST(CASE CAST(c AS INTEGER) WHEN 0 THEN 7 WHEN 1 THEN 150
            WHEN 2 THEN 6 ELSE 20 + id % 30 END AS BIGINT) AS n_tokens,
          CAST(CASE WHEN c = 2 THEN 2 ELSE 0 END AS BIGINT) AS n_links,
          c IN (0, 1) AS title_error,
          c = 0 AS body_error,
          c = 0 AS soft_error
          FROM p)
        SELECT url, n_tokens, n_links,
          CAST((n_links * 1000000) // n_tokens AS BIGINT)
            AS link_density_ppm,
          title_error, body_error, soft_error
        FROM f ORDER BY url""")),
    // ingestion: charset sniff (BOM, meta declaration over a Latin-1
    // view, utf-8 default) + decode normalization of raw page bytes.
    // text_utf8 is oracle-compared only where DuckDB can decode (the
    // utf-8 family); the utf-16/latin-1 decode paths are pinned by
    // CharsetSnifferSpec goldens
    QuerySpec("q86_charset", (s, d) => {
      val did = col("doc_id").cast("long")
      val url = concat(lit("http://"), col("source"), lit("-"),
        pmod(did, lit(7)).cast("string"), lit(".example.com/docs/d"),
        col("doc_id").cast("string"), lit(".html"))
      val c = pmod(did, lit(5))
      val ids = col("doc_id").cast("string")
      val bin = when(c === 0, encode(concat(
          lit("<html><head><meta charset=\"UTF-8\"></head><body>ascii d"),
          ids, lit("</body></html>")), "UTF-8"))
        .when(c === 1, concat(unhex(lit("EFBBBF")),
          encode(concat(lit("<html>bom d"), ids, lit("</html>")),
            "UTF-8")))
        .when(c === 2, unhex(lit("FFFE680069002100")))
        .when(c === 3, concat(
          encode(lit("<meta http-equiv=\"Content-Type\" content=" +
            "\"text/html; charset=latin1\"><body>caf"), "UTF-8"),
          unhex(lit("E9")), encode(lit("</body>"), "UTF-8")))
        .otherwise(encode(concat(lit("<html>plain d"), ids,
          lit("</html>")), "UTF-8"))
      CharsetSniffer.decodePages(
          t(s, d, "documents").select(url.as("url"), bin.as("bin")),
          "url", "bin")
        .withColumn("text_utf8",
          when(col("charset").isin("utf-8", "utf-8-bom"), col("text"))
            .otherwise(lit("")))
        .drop("text")
        .orderBy("url")
    },
    // q86: charset labels + byte counts by construction (the DuckDB
    // blob is built with the same encode/unhex concatenation); decoded
    // text compared only where DuckDB can decode (utf-8 family)
    Some("""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id,
          CAST(doc_id AS VARCHAR) AS ids,
          'http://' || source || '-'
            || CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR)
            || '.example.com/docs/d' || CAST(doc_id AS VARCHAR)
            || '.html' AS url,
          CAST(CAST(doc_id AS BIGINT) % 5 AS INTEGER) AS c
          FROM documents),
        b AS (SELECT url, c, ids,
          CASE c
            WHEN 0 THEN encode('<html><head><meta charset="UTF-8">'
              || '</head><body>ascii d' || ids || '</body></html>')
            WHEN 1 THEN unhex('EFBBBF')
              || encode('<html>bom d' || ids || '</html>')
            WHEN 2 THEN unhex('FFFE680069002100')
            WHEN 3 THEN encode('<meta http-equiv="Content-Type" '
              || 'content="text/html; charset=latin1"><body>caf')
              || unhex('E9') || encode('</body>')
            ELSE encode('<html>plain d' || ids || '</html>')
          END AS bin FROM p)
        SELECT url,
          CASE c WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-bom'
            WHEN 2 THEN 'utf-16le' WHEN 3 THEN 'iso-8859-1'
            ELSE 'utf-8' END AS charset,
          TRUE AS charset_supported,
          CAST(octet_length(bin) AS BIGINT) AS n_bytes,
          CASE c
            WHEN 0 THEN '<html><head><meta charset="UTF-8"></head>'
              || '<body>ascii d' || ids || '</body></html>'
            WHEN 1 THEN '<html>bom d' || ids || '</html>'
            WHEN 2 THEN '' WHEN 3 THEN ''
            ELSE '<html>plain d' || ids || '</html>'
          END AS text_utf8
        FROM b ORDER BY url""")),
    // corpus hygiene composition: publisher-signal dedup BEFORE any
    // content dedup — noindex'd pages dropped (opt-out), syndicated
    // copies collapsed onto their canonical URL (self-canonical when
    // the tag is absent), min-url representative per canonical group.
    // Reuses the q81 metadata plant so the oracle re-derives
    // canonical_abs/noindex by construction
    QuerySpec("q87_canonical_collapse", (s, d) => {
      val meta = specs.find(_.name == "q81_page_meta").get.build(s, d)
      val kept = meta.filter(!col("noindex"))
        .withColumn("canonical_key",
          when(col("canonical_abs") =!= "", col("canonical_abs"))
            .otherwise(col("url")))
      val groups = kept.groupBy("canonical_key")
        .agg(min(col("url")).as("_rep"),
          count(lit(1)).cast("long").as("n_group"))
      kept.join(groups, "canonical_key")
        .select(col("url"), col("canonical_key"), col("n_group"),
          (col("url") === col("_rep")).as("is_representative"))
        .orderBy("url")
    },
    // q87: canonical_abs/noindex re-derived exactly as in q81, then
    // the collapse re-run relationally (noindex out, group by
    // canonical key, min-url representative)
    Some(s"""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS id,
          $linkUrlSql AS url, $linkHostSql AS h FROM documents),
        m AS (SELECT url, id % 6 IN (0, 1) AS noindex,
          CASE CAST(id % 4 AS INTEGER)
            WHEN 0 THEN 'http://canon.example.com/c'
              || CAST(id % 10 AS VARCHAR)
            WHEN 1 THEN CASE WHEN id % 5 = 0
              THEN 'http://base' || CAST(id % 3 AS VARCHAR)
                || '.example.org/dir/c/p' || CAST(id % 5 AS VARCHAR)
              ELSE 'http://' || h || '/c/p' || CAST(id % 5 AS VARCHAR)
              END
            WHEN 2 THEN CASE WHEN id % 5 = 0
              THEN 'http://base' || CAST(id % 3 AS VARCHAR)
                || '.example.org/canon/' || CAST(id % 7 AS VARCHAR)
              ELSE 'http://' || h || '/canon/' || CAST(id % 7 AS VARCHAR)
              END
            ELSE '' END AS canonical_abs
          FROM p),
        k AS (SELECT url, CASE WHEN canonical_abs <> ''
            THEN canonical_abs ELSE url END AS canonical_key
          FROM m WHERE NOT noindex),
        g AS (SELECT canonical_key, MIN(url) AS rep,
          CAST(COUNT(*) AS BIGINT) AS n_group FROM k GROUP BY 1)
        SELECT k.url, k.canonical_key, g.n_group,
          k.url = g.rep AS is_representative
        FROM k JOIN g ON g.canonical_key = k.canonical_key
        ORDER BY k.url"""))
  )
}
