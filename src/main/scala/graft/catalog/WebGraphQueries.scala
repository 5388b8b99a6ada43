package graft
package catalog

import graft.extract.{LinkExtractor, MetaExtractor}
import graft.ops.WebGraph
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Link-graph operators ([[graft.ops.WebGraph]]): PageRank, HITS,
  * TrustRank, redirects, hreflang clusters and the sketch-based graph stats.
  */
object WebGraphQueries {
  /** Deterministic redirect map for q90: each document is one source
    * URL `u{id}` redirecting up the decade — u(10k+j) → u(10k+j+1) for
    * j<9, u(10k+9) → f{k} (terminal) — so chains run 1..10 hops; docs
    * with id%20==7 get a SECOND edge to a terminal `dup` URL that wins
    * the min-collapse (duplicate-source determinism); docs with
    * id%25==13 plant a detached 2-cycle c{id}a ⇄ c{id}b (unresolvable).
    */
  private def redirectEdges(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("long")
    val docs = t(s, d, "documents")
    def u(n: Column): Column =
      concat(lit("http://r.example.com/u"), n.cast("string"))
    val chain = docs.select(u(did).as("src"),
      when(pmod(did, lit(10)) === 9,
        concat(lit("http://final.example.com/f"),
          expr("CAST(doc_id AS BIGINT) DIV 10").cast("string")))
        .otherwise(u(did + 1L)).as("dst"))
    val dup = docs.filter(pmod(did, lit(20)) === 7)
      .select(u(did).as("src"),
        concat(lit("http://dup.example.com/x"), did.cast("string"))
          .as("dst"))
    val cyc = docs.filter(pmod(did, lit(25)) === 13)
    def c(suffix: String): Column =
      concat(lit("http://cyc.example.com/c"), did.cast("string"),
        lit(suffix))
    chain.union(dup)
      .union(cyc.select(c("a").as("src"), c("b").as("dst")))
      .union(cyc.select(c("b").as("src"), c("a").as("dst")))
  }

  /** The q144/q145/q161 synthetic pendant graph (30-node dense core +
    * two pendant layers), shared so the Spark twins cannot drift from
    * the single hyperAnfCtesSql oracle graph.
    */
  private def hyperAnfEdges(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("long")
    val docs = t(s, d, "documents")
    def e(x: Column, y: Column) = docs.select(x.as("x"), y.as("y"))
    val a = pmod(did, lit(30))
    val b = pmod(did * 7L + 1L, lit(30))
    val c = pmod(did * 13L + 5L, lit(30))
    val p1 = pmod(did, lit(100)) + 30L
    val p2 = pmod(did, lit(200)) + 130L
    e(a, b).unionByName(e(a, c)).unionByName(e(b, c))
      .unionByName(e(a, p1)).unionByName(e(p1, p2))
  }

  /** q76 oracle: host edges re-derived from the plant (the absolute
    * link's cross-host edge plus two self-loops from the relative and
    * root-relative links; the nofollow cdn link contributes nothing),
    * then the same degree stats and 2 unrolled PageRank rounds as
    * q73/q74.
    */
  private lazy val q76Sql: String = {
    val id = "CAST(doc_id AS BIGINT)"
    s"""WITH p AS (SELECT $id AS id, $linkHostSql AS h FROM documents),
      e AS (
        SELECT h AS src,
          'src' || CAST((id*7+3) % 20 AS VARCHAR) || '-'
            || CAST((id*3+1) % 7 AS VARCHAR) || '.example.com' AS dst
          FROM p
        UNION ALL SELECT h, h FROM p
        UNION ALL SELECT h, h FROM p),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_ppb
        FROM nd)${prRoundsSql(2)},
      o AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_degree,
        CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_dst_hosts
        FROM e GROUP BY src),
      i AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_degree
        FROM e GROUP BY dst)
      SELECT nd.node,
        CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree,
        CAST(COALESCE(n_dst_hosts, 0) AS BIGINT) AS n_dst_hosts,
        CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree,
        r2.rank_ppb
      FROM nd LEFT JOIN o ON o.node = nd.node
      LEFT JOIN i ON i.node = nd.node
      JOIN r2 ON r2.node = nd.node
      ORDER BY nd.node"""
  }

  /** q78 oracle: the three non-nofollow (dst_host, src_host, anchor)
    * rows per document from the [[Shared.linkPages]] plant, aggregated the
    * classic way (window rank in SQL; the Spark side must get there
    * via min_by partial aggregation).
    */
  private lazy val q78Sql: String = {
    val id = "CAST(doc_id AS BIGINT)"
    s"""WITH p AS (SELECT $id AS id, $linkHostSql AS h FROM documents),
      l AS (
        SELECT 'src' || CAST((id*7+3) % 20 AS VARCHAR) || '-'
            || CAST((id*3+1) % 7 AS VARCHAR) || '.example.com'
            AS dst_host, h AS src_host,
          'news item ' || CAST(id % 10 AS VARCHAR) AS anchor FROM p
        UNION ALL SELECT h, h,
          'relative link ' || CAST(id % 10 AS VARCHAR) FROM p
        UNION ALL SELECT h, h, 'section index' FROM p),
      ba AS (SELECT dst_host, anchor, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM l GROUP BY 1, 2),
      tp AS (SELECT dst_host, anchor AS top_anchor,
        CAST(SUM(cnt) OVER (PARTITION BY dst_host) AS BIGINT)
          AS n_links,
        ROW_NUMBER() OVER (PARTITION BY dst_host
          ORDER BY cnt DESC, anchor) AS rn FROM ba),
      rf AS (SELECT dst_host,
        CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts
        FROM l GROUP BY 1)
      SELECT tp.dst_host, n_links, n_src_hosts, top_anchor
      FROM tp JOIN rf ON rf.dst_host = tp.dst_host
      WHERE rn = 1 ORDER BY tp.dst_host"""
  }

  /** TrustRank rounds: prRoundsSql's shape with the teleport gated on
    * the seed flag (seeds-only teleport mass, non-seeds start at 0).
    */
  private def trRoundsSql(n: Int): String =
    (1 to n).map { i =>
      s""", c$i AS (SELECT e.dst AS node,
          SUM(r.rank_ppb // d.outdeg) AS s
          FROM e JOIN dg d ON d.src = e.src
          JOIN r${i - 1} r ON r.node = e.src
          GROUP BY e.dst),
        r$i AS (SELECT sd.node, CAST(
            (CASE WHEN sd.is_seed THEN 150000000 ELSE 0 END) +
            (850000 * COALESCE(c.s, 0)) // 1000000 AS BIGINT)
            AS rank_ppb
          FROM sd LEFT JOIN c$i c ON c.node = sd.node)"""
    }.mkString

  private lazy val q99Sql: String = {
    s"""WITH e AS ($webEdgesSql),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      sd AS (SELECT node, node LIKE '%-0.example.com' AS is_seed
        FROM nd),
      dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(CASE WHEN is_seed THEN 1000000000
        ELSE 0 END AS BIGINT) AS rank_ppb FROM sd)${trRoundsSql(3)}
      SELECT node, rank_ppb FROM r3 ORDER BY node"""
  }

  private lazy val q74Sql: String = {
    val rounds = prRoundsSql(3)
    s"""WITH e AS ($webEdgesSql),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_ppb
        FROM nd)$rounds
      SELECT node, rank_ppb FROM r3 ORDER BY node"""
  }

  /** q94 oracle: HITS unrolled per round — authorities from the
    * previous hubs, hubs from the NEW authorities, each max-normalized
    * to 1e9 with integer division (HUGEINT in DuckDB, decimal(38,0)
    * on the Spark side — identical truncation).
    */
  private lazy val q94Sql: String = {
    val rounds = (1 to 2).map { i =>
      s""",
      a${i}r AS (SELECT e.dst AS node, SUM(hh.h) AS raw
        FROM e JOIN h${i - 1} hh ON e.src = hh.node GROUP BY e.dst),
      a$i AS (SELECT nd.node, CAST(COALESCE((raw * 1000000000)
          // (SELECT MAX(raw) FROM a${i}r), 0) AS BIGINT) AS a
        FROM nd LEFT JOIN a${i}r USING (node)),
      h${i}r AS (SELECT e.src AS node, SUM(aa.a) AS raw
        FROM e JOIN a$i aa ON e.dst = aa.node GROUP BY e.src),
      h$i AS (SELECT nd.node, CAST(COALESCE((raw * 1000000000)
          // (SELECT MAX(raw) FROM h${i}r), 0) AS BIGINT) AS h
        FROM nd LEFT JOIN h${i}r USING (node))"""
    }.mkString
    s"""WITH e AS ($webEdgesSql),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      h0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS h FROM nd)$rounds
      SELECT nd.node, a2.a AS auth_ppb, h2.h AS hub_ppb
      FROM nd JOIN a2 USING (node) JOIN h2 USING (node)
      ORDER BY node"""
  }

  /** q145/q161 oracle fragment: the full HyperANF sketch-round chain
    * (MATERIALIZED rounds, 60-bit hash, p=5 registers, per-node
    * estimates) ending in `allr(round, node, est)`. One definition so
    * the neighborhood-function and effective-diameter oracles cannot
    * drift.
    */
  private lazy val hyperAnfCtesSql: String = {
      val m = 32
      val alpha = 0.697
      val cc = alpha * m * m * 2305843009213693952.0d
      val estCtes = (0 to 4).map { r =>
        s"""est$r AS MATERIALIZED (SELECT $r AS round, node,
          round(CASE WHEN ($cc / z) <= 80.0 AND nn < 32
            THEN 32.0 * ln(32.0 / CAST(32 - nn AS DOUBLE))
            ELSE $cc / z END, 6) AS est
          FROM (SELECT node, COUNT(*) AS nn,
            CAST(SUM(2305843009213693952 >> rho) +
              CAST(32 - COUNT(*) AS HUGEINT) *
              CAST(2305843009213693952 AS HUGEINT) AS DOUBLE) AS z
            FROM sk$r GROUP BY node))"""
      }.mkString(",\n        ")
      val roundCtes = (1 to 4).map { r =>
        s""",
        sk$r AS MATERIALIZED (SELECT node, reg, MAX(rho) AS rho FROM (
          SELECT node, reg, rho FROM sk${r - 1}
          UNION ALL SELECT e.s AS node, k.reg, k.rho
          FROM sk${r - 1} k JOIN e ON e.t = k.node)
          GROUP BY node, reg)"""
      }.mkString
    s"""d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
          FROM documents),
        raw AS (SELECT doc_id % 30 AS x, (doc_id * 7 + 1) % 30 AS y
            FROM d
          UNION ALL SELECT doc_id % 30, (doc_id * 13 + 5) % 30 FROM d
          UNION ALL SELECT (doc_id * 7 + 1) % 30,
            (doc_id * 13 + 5) % 30 FROM d
          UNION ALL SELECT doc_id % 30, 30 + (doc_id % 100) FROM d
          UNION ALL SELECT 30 + (doc_id % 100),
            130 + (doc_id % 200) FROM d),
        und AS MATERIALIZED (SELECT DISTINCT least(x, y) AS u,
          greatest(x, y) AS v FROM raw WHERE x != y),
        e AS MATERIALIZED (SELECT u AS s, v AS t FROM und
          UNION SELECT v, u FROM und),
        nd AS (SELECT DISTINCT s AS node FROM e),
        h AS (SELECT node, CAST(('0x' ||
          substr(md5(CAST(node AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
          FROM nd),
        sk0 AS MATERIALIZED (SELECT node,
          hv // 36028797018963968 AS reg,
          CASE WHEN hv % 36028797018963968 = 0 THEN 56
            ELSE 55 - (length(bin(hv % 36028797018963968)) - 1)
            END AS rho FROM h)$roundCtes,
        $estCtes,
        allr AS (SELECT * FROM est0 UNION ALL SELECT * FROM est1
          UNION ALL SELECT * FROM est2 UNION ALL SELECT * FROM est3
          UNION ALL SELECT * FROM est4)"""
  }

  def specs: Seq[QuerySpec] = Seq(
    // web graph: host-level degree profile over a deterministic
    // synthesized link table (the fan-out stats a link-spam gate reads)
    QuerySpec("q73_web_degrees", (s, d) =>
      WebGraph.degreeStats(webEdges(s, d), "src", "dst")
        .orderBy("node"),
    // q73/q74: same synthesized edge table; `//` on non-negative
    // operands == Spark's integral DIV
    Some(s"""WITH e AS ($webEdgesSql),
        nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        o AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_degree,
          CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_dst_hosts
          FROM e GROUP BY src),
        i AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_degree
          FROM e GROUP BY dst)
        SELECT nd.node,
          CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree,
          CAST(COALESCE(n_dst_hosts, 0) AS BIGINT) AS n_dst_hosts,
          CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree
        FROM nd LEFT JOIN o ON o.node = nd.node
        LEFT JOIN i ON i.node = nd.node
        ORDER BY nd.node""")),
    // web graph: 3 rounds of exact integer-ppb damped PageRank over
    // the same host-level link table (crawl-priority / host-quality
    // centrality signal)
    QuerySpec("q74_pagerank", (s, d) =>
      WebGraph.pageRank(webEdges(s, d), "src", "dst", iterations = 3)
        .orderBy("node"),
    Some(q74Sql)),
    // web graph end-to-end: raw HTML → extracted links → host-level
    // edge table (nofollow and non-http dropped, multi-edges kept) →
    // degree stats + 2 rounds of exact integer-ppb PageRank — the full
    // crawl-analytics composition from page bytes to centrality
    QuerySpec("q76_link_graph", (s, d) => {
      val edges = LinkExtractor.hostEdges(
        LinkExtractor.extractLinks(linkPages(s, d), "url", "html"))
        .localCheckpoint()
      WebGraph.degreeStats(edges, "src", "dst")
        .join(WebGraph.pageRank(edges, "src", "dst", iterations = 2),
          Seq("node"))
        .orderBy("node")
    },
    Some(q76Sql)),
    // composition: hreflang rows → translation clusters via the star
    // contraction (min-url component label). Pages that declare no
    // alternates themselves (every 7th doc) must still cluster through
    // their siblings' references — the oracle knows the planted
    // triples, so the contraction must agree with transitive closure
    // over the declared graph
    QuerySpec("q106_translation_clusters", (s, d) =>
      WebGraph.translationClusters(
        MetaExtractor.hreflangLinks(hreflangPages(s, d), "url", "html"))
        .orderBy("url"),
    // q106: the planted triples ARE the components; label = min url
    // (the de page — lexicographic), 3 members whenever any sibling
    // declared the group
    Some("""WITH g0 AS (SELECT DISTINCT CAST(doc_id AS BIGINT) // 3 AS g
          FROM documents WHERE CAST(doc_id AS BIGINT) % 7 <> 0),
        urls AS (SELECT g,
          'http://t' || CAST(g % 13 AS VARCHAR) || '.example.com/' || l
            || '/p' || CAST(g AS VARCHAR) || '.html' AS url
          FROM g0 CROSS JOIN (SELECT unnest(['en', 'de', 'fr']) AS l))
        SELECT url, min(url) OVER (PARTITION BY g) AS cluster,
          CAST(3 AS BIGINT) AS n_members
        FROM urls ORDER BY url""")),
    // related pages without content: co-citation counts (common
    // in-linkers, the off-diagonal of A^T A) over a planted two-
    // generator link graph (40 sources x 97 pages, counts 1..11 — the
    // q71-family graph is functional, one dst per src, so it plants
    // its own), hub-capped like every bounded-blocking op
    QuerySpec("q141_cocitation", (s, d) => {
      val did = col("doc_id").cast("long")
      val docs = t(s, d, "documents")
      def e(dst: Column) = docs.select(
        concat(lit("s"), pmod(did, lit(40))).as("src"),
        concat(lit("p"), dst).as("dst"))
      val edges = e(pmod(did, lit(97)))
        .unionByName(e(pmod(did * 5L + 2L, lit(97))))
      WebGraph.coCitation(edges, "src", "dst",
          minCount = 3, maxOutDeg = 64)
        .orderBy("a", "b")
    },
    // q141: the same planted two-generator graph and the distinct-
    // edge, hub-cap, a<b self-join staging
    Some("""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
          FROM documents),
        e AS (SELECT 's' || (doc_id % 40) AS src,
            'p' || (doc_id % 97) AS dst FROM d
          UNION ALL SELECT 's' || (doc_id % 40),
            'p' || ((doc_id * 5 + 2) % 97) FROM d),
        de AS (SELECT DISTINCT src AS s, dst AS dd FROM e),
        dg AS (SELECT s, COUNT(*) AS od FROM de GROUP BY s),
        kept AS (SELECT de.s, de.dd FROM de JOIN dg USING (s)
          WHERE od <= 64)
        SELECT l.dd AS a, r.dd AS b,
          CAST(COUNT(*) AS BIGINT) AS cocitations
        FROM kept l JOIN kept r ON l.s = r.s AND l.dd < r.dd
        GROUP BY l.dd, r.dd HAVING COUNT(*) >= 3
        ORDER BY a, b""")),
    // graph density: exact triangle count + global clustering
    // coefficient via degree-ordered orientation (each doc plants a
    // 3-clique on a 30-node graph, so the count is rich and exact)
    QuerySpec("q143_triangles", (s, d) => {
      val did = col("doc_id").cast("long")
      val a = pmod(did, lit(30))
      val b = pmod(did * 7L + 1L, lit(30))
      val c = pmod(did * 13L + 5L, lit(30))
      val docs = t(s, d, "documents")
      val edges = docs.select(a.as("x"), b.as("y"))
        .unionByName(docs.select(a.as("x"), c.as("y")))
        .unionByName(docs.select(b.as("x"), c.as("y")))
      WebGraph.triangleStats(edges, "x", "y")
    },
    // q143: same canonical edges, same (deg, node) orientation, the
    // wedge join's head-rank ordering, and the closing-edge semi-join
    Some("""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
          FROM documents),
        raw AS (SELECT doc_id % 30 AS x, (doc_id * 7 + 1) % 30 AS y
            FROM d
          UNION ALL SELECT doc_id % 30, (doc_id * 13 + 5) % 30 FROM d
          UNION ALL SELECT (doc_id * 7 + 1) % 30,
            (doc_id * 13 + 5) % 30 FROM d),
        und AS (SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
          FROM raw WHERE x != y),
        deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dd
          FROM (SELECT u AS n FROM und
            UNION ALL SELECT v FROM und) GROUP BY n),
        ore AS (SELECT
            CASE WHEN du.dd <= dv.dd THEN und.u ELSE und.v END AS s,
            CASE WHEN du.dd <= dv.dd THEN und.v ELSE und.u END AS t,
            CASE WHEN du.dd <= dv.dd THEN dv.dd ELSE du.dd END AS dt
          FROM und JOIN deg du ON du.n = und.u
          JOIN deg dv ON dv.n = und.v),
        wed AS (SELECT e1.t AS w1, e2.t AS w2
          FROM ore e1 JOIN ore e2 ON e1.s = e2.s
          AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))),
        tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
          FROM wed WHERE EXISTS (SELECT 1 FROM ore
            WHERE ore.s = wed.w1 AND ore.t = wed.w2)),
        base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
          CAST(SUM(dd * (dd - 1)) // 2 AS BIGINT) AS n_wedges
          FROM deg),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und)
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
          CAST(CASE WHEN n_wedges > 0
            THEN (n_triangles * 3000000) // n_wedges
            ELSE 0 END AS BIGINT) AS global_cc_ppm
        FROM base, ne, tri""")),
    // dense-community core: 5-core of the planted graph (3-clique
    // hub layer + two pendant tail layers) — the tails peel away in
    // 3 rounds, the 30-node dense core survives intact
    QuerySpec("q144_kcore", (s, d) => {
      val did = col("doc_id").cast("long")
      val docs = t(s, d, "documents")
      def e(x: Column, y: Column) =
        docs.select(x.as("x"), y.as("y"))
      val a = pmod(did, lit(30))
      val b = pmod(did * 7L + 1L, lit(30))
      val c = pmod(did * 13L + 5L, lit(30))
      val p1 = pmod(did, lit(100)) + 30L
      val p2 = pmod(did, lit(200)) + 130L
      val edges = e(a, b).unionByName(e(a, c)).unionByName(e(b, c))
        .unionByName(e(a, p1)).unionByName(e(p1, p2))
      WebGraph.kCore(edges, "x", "y", k = 5)
        .orderBy("u", "v")
    },
    // q144: the peel unrolled 6 rounds (the instance converges in 3;
    // extra rounds are no-ops at the fixpoint, so the unroll depth
    // only needs to be AT LEAST the peeling depth)
    Some {
      // MATERIALIZED is load-bearing: each round references the
      // previous edge set four times (degree union + two IN probes),
      // and CTE inlining would re-expand the whole upstream tree
      // 4^rounds times — thousands of concurrent base-table scans
      val rounds = (1 to 6).map { i =>
        s""",
        kp$i AS MATERIALIZED (SELECT n FROM
            (SELECT n, COUNT(*) AS dd FROM
            (SELECT u AS n FROM e${i - 1} UNION ALL
             SELECT v FROM e${i - 1}) GROUP BY n) WHERE dd >= 5),
        e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
          WHERE u IN (SELECT n FROM kp$i)
            AND v IN (SELECT n FROM kp$i))"""
      }.mkString
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
          FROM documents),
        raw AS (SELECT doc_id % 30 AS x, (doc_id * 7 + 1) % 30 AS y
            FROM d
          UNION ALL SELECT doc_id % 30, (doc_id * 13 + 5) % 30 FROM d
          UNION ALL SELECT (doc_id * 7 + 1) % 30,
            (doc_id * 13 + 5) % 30 FROM d
          UNION ALL SELECT doc_id % 30, 30 + (doc_id % 100) FROM d
          UNION ALL SELECT 30 + (doc_id % 100),
            130 + (doc_id % 200) FROM d),
        e0 AS MATERIALIZED (SELECT DISTINCT least(x, y) AS u,
          greatest(x, y) AS v FROM raw WHERE x != y)$rounds
        SELECT u, v FROM e6 ORDER BY u, v"""
    }),
    // neighborhood function: HyperANF over the planted pendant graph
    // (HLL sketch per node, 4 merge rounds) — per-round mean estimated
    // ball size, the average-distance/effective-diameter input a
    // 10^12-page graph cannot BFS
    QuerySpec("q145_hyperanf", (s, d) => {
      val edges = hyperAnfEdges(s, d)
      WebGraph.hyperAnf(edges, "x", "y", p = 5, rounds = 4)
        .groupBy("round")
        .agg(count(lit(1)).cast("long").as("n_nodes"),
          sum(round(col("est") * 1000000.0, 0).cast("long"))
            .cast("long").as("sum_est_micro"))
        .withColumn("mean_est_micro",
          expr("sum_est_micro div n_nodes"))
        .orderBy("round")
    },
    // q145: sketch rounds unrolled (MATERIALIZED — q144's inlining
    // lesson), same 60-bit hash / p=5 register split, same per-node
    // estimate arithmetic with the Scala-printed constant, integer
    // micro-sums so the cross-node mean is order-free
    Some(s"""WITH $hyperAnfCtesSql
        SELECT CAST(round AS BIGINT) AS round,
          CAST(COUNT(*) AS BIGINT) AS n_nodes,
          CAST(SUM(CAST(round(est * 1000000, 0) AS BIGINT)) AS BIGINT)
            AS sum_est_micro,
          CAST(SUM(CAST(round(est * 1000000, 0) AS BIGINT)) //
            COUNT(*) AS BIGINT) AS mean_est_micro
        FROM allr GROUP BY round ORDER BY round""")),
    // host-graph centrality with link multiplicities: weighted
    // PageRank over the two-generator graph where an edge's weight is
    // its link count — ten links to a host count ten times one
    QuerySpec("q147_pagerank_weighted", (s, d) => {
      val did = col("doc_id").cast("long")
      val docs = t(s, d, "documents")
      def e(dst: Column) = docs.select(
        concat(lit("s"), pmod(did, lit(40))).as("src"),
        concat(lit("p"), dst).as("dst"))
      val edges = e(pmod(did, lit(97)))
        .unionByName(e(pmod(did * 5L + 2L, lit(97))))
        .groupBy("src", "dst").agg(count(lit(1)).cast("long").as("w"))
      WebGraph.pageRankWeighted(edges, "src", "dst", "w",
          iterations = 3)
        .select(col("node"), col("rank_ppb").cast("long")
          .as("rank_ppb"))
        .orderBy("node")
    },
    // q147: the weighted round template — HUGEINT rank×w products,
    // weight-sum denominators, same teleport constants
    Some {
      val rounds = (1 to 3).map { i =>
        s""", c$i AS (SELECT e.dst AS node,
            SUM((CAST(r.rank_ppb AS HUGEINT) * e.w) // d.outw) AS s
          FROM e JOIN dg d ON d.src = e.src
          JOIN r${i - 1} r ON r.node = e.src
          GROUP BY e.dst),
        r$i AS (SELECT nd.node, CAST(150000000 +
            (850000 * COALESCE(c.s, 0)) // 1000000 AS BIGINT)
            AS rank_ppb
          FROM nd LEFT JOIN c$i c ON c.node = nd.node)"""
      }.mkString
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
          FROM documents),
        raw AS (SELECT 's' || (doc_id % 40) AS src,
            'p' || (doc_id % 97) AS dst FROM d
          UNION ALL SELECT 's' || (doc_id % 40),
            'p' || ((doc_id * 5 + 2) % 97) FROM d),
        e AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
          FROM raw GROUP BY src, dst),
        nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        dg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw
          FROM e GROUP BY src),
        r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_ppb
          FROM nd)$rounds
        SELECT node, rank_ppb FROM r3 ORDER BY node"""
    }),
    // graph: effective diameter from the q145 neighborhood function —
    // 90% threshold of final reach, first crossing + interpolation
    QuerySpec("q161_eff_diameter", (s, d) => {
      val edges = hyperAnfEdges(s, d)
      WebGraph.effectiveDiameter(
        WebGraph.hyperAnf(edges, "x", "y", p = 5, rounds = 4))
    },
    // q161: same chain; per-round reach totals, 90% threshold of the
    // final total, first crossing + linear interpolation in milli
    Some(s"""WITH $hyperAnfCtesSql,
        per AS (SELECT CAST(round AS BIGINT) AS r,
            CAST(SUM(CAST(round(est * 1000000, 0) AS BIGINT))
              AS BIGINT) AS reach
          FROM allr GROUP BY round),
        tot AS (SELECT MAX(reach) AS total_micro FROM per),
        st AS (SELECT r, reach, lag(reach) OVER (ORDER BY r) AS prev,
            total_micro, (900000 * total_micro) // 1000000 AS thr
          FROM per, tot)
        SELECT CAST(CASE WHEN prev IS NULL THEN 0
            ELSE (r - 1) * 1000 + ((thr - prev) * 1000)
              // (reach - prev) END AS BIGINT) AS eff_diameter_milli,
          r AS crossing_round, CAST(thr AS BIGINT) AS thr_micro,
          total_micro
        FROM st WHERE reach >= thr AND (prev IS NULL OR prev < thr)
        ORDER BY r LIMIT 1""")),
    // web graph: 3 rounds of integer-exact TrustRank — the seeded
    // teleport walk (trust decays with link distance from vetted
    // seeds; link farms PageRank rewards score ~0 here). Seeds = the
    // "-0" host family of the q73/q74 link table
    QuerySpec("q99_trustrank", (s, d) => {
      val e = webEdges(s, d)
      val seeds = WebGraph.nodes(e, "src", "dst")
        .filter(col("node").endsWith("-0.example.com"))
      WebGraph.trustRank(e, "src", "dst", seeds, iterations = 3)
        .orderBy("node")
    },
    Some(q99Sql)),
    // web graph: 2 rounds of integer-exact HITS hubs/authorities over
    // the q73 host-level link table — the directory-vs-destination
    // centrality pair a link-farm gate reads alongside PageRank
    QuerySpec("q94_hits", (s, d) =>
      WebGraph.hits(webEdges(s, d), "src", "dst", iterations = 2)
        .orderBy("node"),
    Some(q94Sql)),
    // web graph: redirect-chain resolution by pointer doubling —
    // chains of up to 10 hops collapse to their terminal URL in
    // O(log maxHops) thin self-joins; planted 2-cycles and
    // duplicate-source diversions come back unresolved / min-collapsed
    QuerySpec("q90_redirects", (s, d) =>
      WebGraph.resolveRedirects(redirectEdges(s, d), "src", "dst",
        maxHops = 32)
        .orderBy("url"),
    // q90: the oracle walks the same min-collapsed redirect map with a
    // recursive CTE (per-hop sequential — fine at oracle scale; the
    // Spark side must reach the identical terminals via pointer
    // doubling); cycles exhaust the hop budget and come back NULL
    Some("""WITH RECURSIVE ids AS (
          SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
        e AS (
          SELECT 'http://r.example.com/u' || CAST(did AS VARCHAR) AS src,
            CASE WHEN did % 10 = 9
              THEN 'http://final.example.com/f'
                || CAST(did // 10 AS VARCHAR)
              ELSE 'http://r.example.com/u' || CAST(did + 1 AS VARCHAR)
            END AS dst FROM ids
          UNION ALL
          SELECT 'http://r.example.com/u' || CAST(did AS VARCHAR),
            'http://dup.example.com/x' || CAST(did AS VARCHAR)
          FROM ids WHERE did % 20 = 7
          UNION ALL
          SELECT 'http://cyc.example.com/c' || CAST(did AS VARCHAR) || 'a',
            'http://cyc.example.com/c' || CAST(did AS VARCHAR) || 'b'
          FROM ids WHERE did % 25 = 13
          UNION ALL
          SELECT 'http://cyc.example.com/c' || CAST(did AS VARCHAR) || 'b',
            'http://cyc.example.com/c' || CAST(did AS VARCHAR) || 'a'
          FROM ids WHERE did % 25 = 13),
        m AS (SELECT src, MIN(dst) AS dst FROM e GROUP BY src),
        walk(url, cur, hops) AS (
          SELECT src, dst, CAST(1 AS BIGINT) FROM m
          UNION ALL
          SELECT w.url, m2.dst, w.hops + 1
          FROM walk w JOIN m m2 ON w.cur = m2.src
          WHERE w.hops <= 32),
        term AS (SELECT w.url, w.cur AS final_url, w.hops
          FROM walk w WHERE w.hops <= 32
            AND NOT EXISTS (SELECT 1 FROM m WHERE m.src = w.cur))
        SELECT m.src AS url, t.final_url, t.hops,
          t.final_url IS NOT NULL AS resolved
        FROM m LEFT JOIN term t ON m.src = t.url
        ORDER BY url""")),
    // web graph: per-target-host anchor-text aggregation (the off-page
    // relevance signal) — inbound link count, distinct referrers, and
    // the modal anchor text via min_by partial aggregation (no per-host
    // window — a hot host stays many tasks' work)
    QuerySpec("q78_anchor_stats", (s, d) =>
      WebGraph.anchorStats(
        LinkExtractor.extractLinks(linkPages(s, d), "url", "html"))
        .orderBy("dst_host"),
    Some(q78Sql))
  )
}
