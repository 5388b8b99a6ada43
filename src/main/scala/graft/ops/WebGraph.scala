package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Host-level web-graph analytics for crawl curation: degree stats and
  * PageRank (Page et al. 1999, "The PageRank Citation Ranking") as the
  * link-centrality signal a crawl prioritizer / per-host quality
  * weighter consumes alongside [[Curation.hostStats]]-style content
  * signals.
  *
  * Scale shape: the graph lives as a thin (src, dst) edge table —
  * 10^12 pages collapse to ~10^8-10^9 hosts and a few 10^9 host-level
  * edges, so every structure here is edge- or node-sized, never
  * corpus-sized. Each PageRank iteration is two thin shuffles (ranks
  * join edges on src; contributions aggregate on dst) plus a
  * node-table left join; the rank table is localCheckpoint'ed per
  * round and the previous round's blocks are released — the same
  * iterative-fixpoint discipline as [[Dedup.canonicalize]]. The edge
  * table is reused across iterations, so a caller on a real cluster
  * should persist/bucket it by src once.
  *
  * Determinism: ranks are exact integer parts-per-billion of the
  * conventional damped walk (init 1.0, teleport 0.15, damping 0.85 —
  * the unnormalized GraphX-style variant where dangling mass decays),
  * computed with long sums and truncating division only — identical in
  * any aggregation order, at any parallelism, and in the DuckDB oracle
  * (all quantities non-negative, so truncating and floor division
  * agree).
  */
object WebGraph {

  /** Rank scale: 1.0 == 1e9 (parts-per-billion). */
  val Scale = 1000000000L
  /** Damping 0.85 and teleport 0.15 at ppm resolution. */
  val DampingPpm = 850000L

  /** Distinct node table (col `node`) of an edge list. */
  def nodes(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("node"))
      .union(edges.select(col(dstCol).as("node")))
      .distinct()

  /** Per-node degree stats: out_degree, in_degree, n_dst_hosts (distinct
    * out-neighbors) — the fan-out profile a link-spam gate reads.
    */
  def degreeStats(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val out = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("out_degree"),
        countDistinct(col(dstCol)).as("n_dst_hosts"))
    val in = edges.groupBy(col(dstCol).as("node"))
      .agg(count(lit(1)).as("in_degree"))
    nodes(edges, srcCol, dstCol)
      .join(out, Seq("node"), "left")
      .join(in, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("n_dst_hosts"), lit(0L)).as("n_dst_hosts"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** `iterations` rounds of damped PageRank over the edge list.
    * Returns (node, rank_ppb). Every node starts at [[Scale]]; one
    * round is rank' = 0.15*Scale + 0.85 * sum over in-edges of
    * rank(src)/out_degree(src), with integer division at each step
    * (exact, engine-independent). Parallel edges are honored as
    * multi-edges (each contributes), matching the oracle's SQL twin.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame =
    seededRank(edges, srcCol, dstCol,
      nodes(edges, srcCol, dstCol).withColumn("_tr_seed", lit(true)),
      iterations)

  /** `iterations` rounds of TrustRank (Gyöngyi, Garcia-Molina &
    * Pedersen, VLDB 2004, "Combating Web Spam with TrustRank") — the
    * seeded-teleport variant of [[pageRank]]: the random walk teleports
    * ONLY to a hand-vetted seed set of trusted hosts, so trust decays
    * with link distance from the seeds and link-farm clusters that
    * PageRank rewards (they cite each other) score ~0 unless a trusted
    * host links into them. The standard spam-demotion companion signal:
    * hosts with high PageRank but low TrustRank are the farm suspects.
    *
    * Determinism and scale shape are exactly [[pageRank]]'s: integer
    * ppb ranks, long/decimal sums and truncating division only, two
    * thin shuffles per round plus a broadcast of the seed flag
    * (seed sets are small by construction — they are manually vetted);
    * rank state localCheckpoint-fenced per round, previous round's
    * blocks released. Seeds start at [[Scale]], everything else at 0;
    * one round is rank' = (seed ? 0.15·Scale : 0) + 0.85 · Σ_in
    * rank(src) div outdeg(src). `seeds` is a 1-column (node) table;
    * seed nodes absent from the graph contribute nothing (they simply
    * hold their teleport mass).
    */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iterations: Int): DataFrame = {
    val seedFlag = seeds.select(col(seeds.columns.head).as("node"))
      .distinct()
      .withColumn("_tr_seed", lit(true))
    seededRank(edges, srcCol, dstCol,
      nodes(edges, srcCol, dstCol)
        .join(broadcast(seedFlag), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("_tr_seed"), lit(false)).as("_tr_seed")),
      iterations)
  }

  /** The round loop of [[pageRank]] and [[trustRank]] over a
    * (node, _tr_seed) table: seeds start at [[Scale]], everything else
    * at 0, and only seeds receive the teleport mass each round.
    */
  private def seededRank(edges: DataFrame, srcCol: String, dstCol: String,
      seededNodes: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 0)
    val teleport = (1000000L - DampingPpm) * (Scale / 1000000L)
    val outDeg = edges.groupBy(col(srcCol).as("_pr_src"))
      .agg(count(lit(1)).as("_pr_outdeg"))
    // reused every round: (src, dst, outdeg) thin rows
    val withDeg = edges.select(col(srcCol).as("_pr_src"),
        col(dstCol).as("_pr_dst"))
      .join(outDeg, Seq("_pr_src"))
      .localCheckpoint()
    val nodeTable = seededNodes.localCheckpoint()
    var ranks = nodeTable
      .select(col("node"),
        when(col("_tr_seed"), lit(Scale)).otherwise(lit(0L))
          .as("rank_ppb"))
      .localCheckpoint()
    var iter = 0
    while (iter < iterations) {
      val contribs = withDeg
        .join(ranks.withColumnRenamed("node", "_pr_src"), Seq("_pr_src"))
        // integral DIV — `/` on longs is DOUBLE division in Spark,
        // which loses integer precision past 2^53 (DampingPpm × a
        // corpus-scale contribution sum crosses that)
        .select(col("_pr_dst").as("node"),
          call_function("div", col("rank_ppb"), col("_pr_outdeg"))
            .as("_pr_c"))
        .groupBy(col("node"))
        // decimal(38,0): DampingPpm × the contribution sum of a
        // high-in-degree host (10^6 in-edges × ppb ranks) crosses 2^63
        .agg(sum(col("_pr_c")).cast("decimal(38,0)").as("_pr_sum"))
      val next = nodeTable
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (when(col("_tr_seed"), lit(teleport)).otherwise(lit(0L)) +
            call_function("div",
              lit(DampingPpm).cast("decimal(38,0)") *
                coalesce(col("_pr_sum"), lit(0L).cast("decimal(38,0)")),
              lit(1000000L))).as("rank_ppb"))
        .localCheckpoint()
      Checkpoints.release(ranks)
      ranks = next
      iter += 1
    }
    ranks
  }

  /** `iterations` rounds of HITS (Kleinberg 1999, "Authoritative
    * sources in a hyperlinked environment") over the edge list — the
    * hub/authority centrality pair complementing [[pageRank]] (good
    * DIRECTORIES vs good DESTINATIONS; a link-farm gate reads the
    * hub/authority imbalance). Returns (node, auth_ppb, hub_ppb).
    *
    * Determinism: integer parts-per-billion with per-round max
    * normalization — a_raw = Σ hub over in-edges (decimal(38,0) sums,
    * exact in any aggregation order), then a = a_raw·Scale div
    * max(a_raw), so the top authority is exactly [[Scale]]; hubs
    * update from the NEW authorities (the classic sequencing).
    * Parallel edges count as multi-edges, matching the SQL twin.
    *
    * Scale shape: per round, two thin shuffles (edges ⋈ scores on one
    * endpoint, partial-agg on the other) — identical to a PageRank
    * round. The normalization max is the algorithm's own global
    * reduce: it rides a `crossJoin(broadcast(max))` scalar inside the
    * data plan (node-table-sized job), not a driver-side control
    * probe. Score tables are localCheckpoint-fenced per round with the
    * previous round's blocks released.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1)
    val e = edges.select(col(srcCol).as("_ht_s"), col(dstCol).as("_ht_d"))
      .localCheckpoint()
    val nodeTable = nodes(edges, srcCol, dstCol).localCheckpoint()
    val dec = "decimal(38,0)"
    def normalized(raw: DataFrame, outCol: String): DataFrame = {
      val m = raw.agg(max(col("_raw")).as("_m"))
      nodeTable.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(m))
        .select(col("node"),
          when(col("_raw").isNotNull && col("_m") > 0,
            call_function("div",
              col("_raw") * lit(Scale).cast(dec), col("_m")))
            .otherwise(lit(0L)).cast("long").as(outCol))
    }
    var h = nodeTable.withColumn("hub_ppb", lit(Scale)).localCheckpoint()
    var a: DataFrame = null
    var iter = 0
    while (iter < iterations) {
      val araw = e.join(h.withColumnRenamed("node", "_ht_s"), Seq("_ht_s"))
        .groupBy(col("_ht_d").as("node"))
        .agg(sum(col("hub_ppb")).cast(dec).as("_raw"))
      val aNext = normalized(araw, "auth_ppb").localCheckpoint()
      if (a != null) Checkpoints.release(a)
      a = aNext
      val hraw = e.join(a.withColumnRenamed("node", "_ht_d"), Seq("_ht_d"))
        .groupBy(col("_ht_s").as("node"))
        .agg(sum(col("auth_ppb")).cast(dec).as("_raw"))
      val hNext = normalized(hraw, "hub_ppb").localCheckpoint()
      Checkpoints.release(h)
      h = hNext
      iter += 1
    }
    a.join(h, Seq("node"))
  }

  /** Anchor-text aggregation per link-target host — the off-page
    * relevance signal search indexing attaches to a host (the anchor
    * words OTHER sites use for it): per dst host, the inbound link
    * count, distinct referring hosts, and the most frequent anchor
    * text (ties broken lexicographically).
    *
    * Input is [[graft.extract.LinkExtractor.extractLinks]] output.
    * Scale shape: one map-side-combinable pre-aggregation to
    * (dst_host, anchor, cnt) thin rows, then the top anchor is a
    * `min_by` over (−cnt, anchor) — a proper partial-aggregate, NOT a
    * per-host window, so a host with 10^9 inbound links and 10^7
    * distinct anchors is still many tasks' work. Distinct referrer
    * counts ride a separate thin (dst, src) pass.
    */
  def anchorStats(links: DataFrame, urlCol: String = "url"): DataFrame = {
    import graft.ops.Curation.matchHost
    val thin = links
      .filter(!col("nofollow") && col("href_abs").rlike("^https?://"))
      .select(matchHost(col(urlCol)).as("src_host"),
        matchHost(col("href_abs")).as("dst_host"), col("anchor"))
    val byAnchor = thin.groupBy(col("dst_host"), col("anchor"))
      .agg(count(lit(1)).as("_cnt"))
    val top = byAnchor.groupBy(col("dst_host"))
      .agg(sum(col("_cnt")).as("n_links"),
        min_by(col("anchor"), struct(-col("_cnt"), col("anchor")))
          .as("top_anchor"))
    val refs = thin.groupBy(col("dst_host"))
      .agg(countDistinct(col("src_host")).as("n_src_hosts"))
    top.join(refs, Seq("dst_host"))
      .select(col("dst_host"), col("n_links"), col("n_src_hosts"),
        col("top_anchor"))
  }

  /** Redirect-chain resolution — collapse a crawl's HTTP 3xx mapping
    * (one outgoing redirect per source URL) to the terminal
    * destination each source eventually lands on, the URL a crawler
    * should fetch / a dedup should key on. A source resolves when its
    * chain reaches a URL with no outgoing redirect within `maxHops`
    * steps; chains that never terminate (redirect cycles) or exceed
    * the hop budget come back unresolved — exactly the crawler's
    * "too many redirects" give-up.
    *
    * Scale shape: pointer doubling (the classic parallel
    * list-ranking/path-halving trick): the jump table j(u) = (v, h)
    * starts as the redirect map with h = 1 and squares each round —
    * j'(u) = j(j(u).v) with hop counts added — so ⌈log₂ maxHops⌉
    * rounds advance every pointer min(chain, 2^r) ≥ maxHops steps. A
    * 30-hop chain costs 6 thin self-joins of the REDIRECT TABLE (edge-
    * sized, ~10^-2 of the corpus), never a per-hop sequential walk
    * (30 shuffles) and never anything corpus-sized. Each round is
    * localCheckpoint-fenced and the previous round's blocks are
    * released, the [[Dedup.canonicalize]] fixpoint discipline.
    *
    * Duplicate sources (a URL observed with two Location targets
    * across snapshots) collapse deterministically to the min target
    * before iterating. Returns one row per SOURCE of the map:
    * (url, final_url, hops, resolved) — final_url/hops null when
    * unresolved.
    */
  def resolveRedirects(redirects: DataFrame, srcCol: String,
      dstCol: String, maxHops: Int = 32): DataFrame = {
    require(maxHops >= 1)
    val m = redirects
      .groupBy(col(srcCol).as("_rr_u"))
      .agg(min(col(dstCol)).as("_rr_v"))
      .localCheckpoint()
    var jump = m.withColumn("_rr_h", lit(1L)).localCheckpoint()
    // after r rounds every pointer has advanced min(chain, 2^r) hops,
    // so 2^rounds ≥ maxHops collapses every admissible chain exactly
    var rounds = 1
    var reach = 2L
    while (reach < maxHops) { reach *= 2; rounds += 1 }
    var r = 0
    while (r < rounds) {
      val hop = jump.select(col("_rr_u").as("_rr_m"),
        col("_rr_v").as("_rr_w"), col("_rr_h").as("_rr_h2"))
      val next = jump
        .join(hop, col("_rr_v") === col("_rr_m"), "left")
        .select(col("_rr_u"),
          coalesce(col("_rr_w"), col("_rr_v")).as("_rr_v"),
          // cap so a cycle's doubling count can't overflow; anything
          // past maxHops is equivalently "unresolved"
          least(col("_rr_h") + coalesce(col("_rr_h2"), lit(0L)),
            lit(maxHops.toLong + 1L)).as("_rr_h"))
        .localCheckpoint()
      Checkpoints.release(jump)
      jump = next
      r += 1
    }
    val sources = m.select(col("_rr_u").as("_rr_t"))
    val resolved = col("_rr_t").isNull && col("_rr_h") <= maxHops
    jump
      .join(sources, col("_rr_v") === col("_rr_t"), "left")
      .select(col("_rr_u").as("url"),
        when(resolved, col("_rr_v")).as("final_url"),
        when(resolved, col("_rr_h")).as("hops"),
        resolved.as("resolved"))
  }

  /** Translation clusters from publisher-declared hreflang alternates
    * (extract.MetaExtractor.hreflangLinks rows, or any (page,
    * alternate) edge table): pages connected by alternate links —
    * directly or through a shared alternate target, declarations are
    * rarely symmetric in the wild — form one cluster, labeled by the
    * component's min url via the same O(log n)-round star contraction
    * dedup clustering uses ([[graft.ops.Dedup.canonicalize]]).
    * Nodes are BOTH sides of the edges, so a page that declares no
    * links itself still clusters when a sibling references it.
    * Returns (url, cluster, n_members) for every node.
    *
    * Scale shape: edges are thin (url, url) pairs — the contraction
    * never moves page content; x-default rows may be kept (they point
    * inside the cluster by construction and cannot merge two true
    * clusters unless the publisher itself declared them equivalent).
    */
  def translationClusters(links: DataFrame, urlCol: String = "url",
      hrefCol: String = "href_abs"): DataFrame = {
    // fence the edge list BEFORE deriving nodes: `links` is typically
    // an extraction plan (hreflang HTML parsing), and unfenced it
    // re-runs once for the contraction's own edge checkpoint, once
    // under `nodes`, and once more per final-join branch; fenced, the
    // extraction runs exactly once. Same for `lab`, which the
    // cluster-size self-join reads twice.
    val e = links.select(col(urlCol).cast("string").as("a"),
        col(hrefCol).cast("string").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint()
    val nodes = e.select(explode(array(col("a"), col("b"))).as("url"))
      .distinct()
    val lab = Dedup.canonicalize(nodes, "url", e).localCheckpoint()
    lab.join(
        lab.groupBy(col("canonical_id").as("cluster"))
          .agg(count(lit(1)).as("n_members")),
        lab("canonical_id") === col("cluster"))
      .select(col("id").as("url"), col("cluster"),
        col("n_members").cast("long").as("n_members"))
  }

  /** Weight-proportional PageRank — the HOST-graph form, where an edge
    * carries its link multiplicity and a source spreads rank in
    * proportion to weight (ten links to one host count ten times an
    * incidental single link): contribution = rank·w(e) DIV W_out(src).
    * Degenerates to [[pageRank]] on unit weights. Same determinism
    * and scale discipline: integer ppb ranks, decimal(38) products
    * (rank × a hub's link count crosses 2^63), truncating division
    * only, localCheckpoint-fenced rounds with prior blocks released.
    * Zero/negative-weight edges are dropped up front (they would
    * contribute nothing but still shuffle).
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String, iterations: Int): DataFrame = {
    require(iterations >= 0)
    val dec = "decimal(38,0)"
    val teleport = (1000000L - DampingPpm) * (Scale / 1000000L)
    val e = edges.select(col(srcCol).as("_pr_src"),
        col(dstCol).as("_pr_dst"), col(wCol).cast("long").as("_pr_w"))
      .where(col("_pr_w") > 0L)
    val outW = e.groupBy(col("_pr_src"))
      .agg(sum(col("_pr_w")).as("_pr_outw"))
    val withW = e.join(outW, Seq("_pr_src")).localCheckpoint()
    val nodeTable = nodes(edges, srcCol, dstCol).localCheckpoint()
    var ranks = nodeTable.withColumn("rank_ppb", lit(Scale))
      .localCheckpoint()
    var iter = 0
    while (iter < iterations) {
      val contribs = withW
        .join(ranks.withColumnRenamed("node", "_pr_src"),
          Seq("_pr_src"))
        .select(col("_pr_dst").as("node"),
          call_function("div",
            col("rank_ppb").cast(dec) * col("_pr_w").cast(dec),
            col("_pr_outw").cast(dec)).as("_pr_c"))
        .groupBy(col("node"))
        .agg(sum(col("_pr_c")).cast(dec).as("_pr_sum"))
      val next = nodeTable
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            call_function("div",
              lit(DampingPpm).cast(dec) *
                coalesce(col("_pr_sum"), lit(0L).cast(dec)),
              lit(1000000L))).as("rank_ppb"))
        .localCheckpoint()
      Checkpoints.release(ranks)
      ranks = next
      iter += 1
    }
    ranks
  }

  /** Co-citation similarity (Small, JASIS 1973): two pages are related
    * when the same source links to BOTH — the count of common
    * in-linkers, i.e. the off-diagonal of AᵀA on the link matrix. The
    * related-pages / related-domains primitive that needs no content:
    * purely topological, so it works on uncrawled URLs.
    * (Bibliographic coupling — common OUT-links, Kessler 1963 — is
    * the same computation with (src, dst) swapped at the call site.)
    *
    * Scale shape: the self-join explodes C(outdeg, 2) pairs per
    * source, so hub sources are capped at `maxOutDeg` distinct
    * out-links — the same bounded-blocking discipline as the LSH
    * bucket cap and containment's shingle-df cap;
    * [[coCitationSkippedSources]] returns what the cap dropped so a
    * caller sizes it deliberately. Pairs shuffle as thin
    * (a, b, count) rows; minCount prunes the long tail before it
    * materializes downstream.
    */
  def coCitation(edges: DataFrame, srcCol: String, dstCol: String,
      minCount: Long = 2, maxOutDeg: Int = 64): DataFrame = {
    require(minCount >= 1 && maxOutDeg >= 2)
    val e = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .distinct()
    val deg = e.groupBy(col("_s")).agg(count(lit(1)).as("_od"))
    val kept = e.join(deg.where(col("_od") <= maxOutDeg)
      .select("_s"), "_s")
    kept.as("l").join(kept.as("r"),
        col("l._s") === col("r._s") && col("l._d") < col("r._d"))
      .groupBy(col("l._d").as("a"), col("r._d").as("b"))
      .agg(count(lit(1)).cast("long").as("cocitations"))
      .where(col("cocitations") >= minCount)
  }

  /** Sources [[coCitation]]'s hub cap dropped: (src, outdeg) with
    * outdeg > maxOutDeg — the cap accounting, same contract as
    * `minhashLshSkippedBuckets` / `containmentSkippedShingles`.
    */
  def coCitationSkippedSources(edges: DataFrame, srcCol: String,
      dstCol: String, maxOutDeg: Int = 64): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("_d")).distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .where(col("outdeg") > maxOutDeg)

  /** Exact triangle count + global clustering coefficient of an
    * undirected graph — the link-farm / community-density signal
    * (spam clusters are triangle-dense, organic link graphs sparse).
    * Degree-ordered orientation (Suri & Vassilvitskii, WWW 2011 —
    * the standard distributed form): orient each undirected edge from
    * its lower (deg, node) endpoint; every triangle then contains
    * exactly ONE wedge at its lowest-rank vertex whose closing edge is
    * also oriented low→high, so each triangle is counted once, and
    * the wedge fan-out per node is its ORIENTED out-degree, bounded by
    * O(√m) on any graph — the self-join never explodes on hubs the
    * way a naive wedge join does.
    *
    * One row out: n_nodes, n_edges, n_wedges (Σ C(deg, 2) over
    * undirected degrees — the clustering-coefficient denominator),
    * n_triangles, global_cc_ppm = 3·triangles·10^6 DIV wedges.
    */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val und = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
      .localCheckpoint()
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val or = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      // u < v by construction, so a degree tie orients u -> v
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v"))
          .as("s"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u"))
          .as("t"),
        when(col("du") <= col("dv"), col("dv")).otherwise(col("du"))
          .as("dt"))
      .localCheckpoint()
    val wedges = or.as("e1").join(or.as("e2"),
        col("e1.s") === col("e2.s") &&
          (col("e1.dt") < col("e2.dt") ||
            (col("e1.dt") === col("e2.dt") &&
              col("e1.t") < col("e2.t"))))
      .select(col("e1.t").as("w1"), col("e2.t").as("w2"))
    val tri = wedges.join(or.select(col("s").as("w1"),
        col("t").as("w2")), Seq("w1", "w2"), "leftsemi")
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val base = deg.agg(
      count(lit(1)).cast("long").as("n_nodes"),
      call_function("div",
        sum((col("d") * (col("d") - 1L)).cast(dec)), lit(2).cast(dec))
        .cast("long").as("n_wedges"))
    val ne = und.agg(count(lit(1)).cast("long").as("n_edges"))
    base.crossJoin(ne).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0L, call_function("div",
          (col("n_triangles") * lit(3000000L)).cast(dec),
          col("n_wedges").cast(dec)).cast("long"))
          .otherwise(lit(0L)).as("global_cc_ppm"))
  }

  /** k-core extraction (Seidman 1983): the maximal subgraph where
    * every node keeps degree >= k INSIDE the subgraph — the dense-
    * community / link-farm core left after the long tail peels away.
    * Iterative peel: drop nodes with current degree < k, shrink the
    * edge set, repeat to fixpoint (the standard distributed form;
    * rounds = peeling depth, small on web graphs because degree-1
    * chains collapse a layer per round). Each round is a thin degree
    * aggregation + two semi-joins over the monotonically shrinking
    * edge set; convergence costs the ONE count the round's
    * materialization already pays (previous count carried forward).
    * Throws on maxIter exhaustion — a truncated peel would return a
    * subgraph that is NOT a k-core and silently admit spam tails.
    * Returns the surviving canonical edge set (u, v).
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxIter: Int = 32): DataFrame = {
    require(k >= 1 && maxIter >= 1)
    var und = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
      .localCheckpoint()
    var prevCount = und.count()
    var converged = prevCount == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val keep = und.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .where(col("d") >= k.toLong).select(col("n"))
      val next = und
        .join(keep.select(col("n").as("u")), Seq("u"), "leftsemi")
        .join(keep.select(col("n").as("v")), Seq("v"), "leftsemi")
        .localCheckpoint()
      val nextCount = next.count()
      // next is materialized (eager checkpoint + the count above):
      // the previous round's blocks are dead weight — release them
      // (the canonicalize discipline; a 32-round peel would otherwise
      // hold 32 copies of the shrinking edge set)
      Checkpoints.release(und)
      converged = nextCount == prevCount
      prevCount = nextCount
      und = next
      iter += 1
    }
    if (!converged && prevCount > 0L)
      throw new IllegalStateException(
        s"kCore: not converged after $maxIter rounds — a truncated " +
          "peel is not a k-core; raise maxIter")
    // the semi-joins' USING columns reorder the frame to (v, u)
    und.select(col("u"), col("v"))
  }

  /** HyperANF (Boldi, Rosa & Vigna, WWW 2011): the neighborhood
    * function N(v, r) = |{u : dist(u, v) <= r}| estimated for EVERY
    * node at every radius with one HLL sketch per node — the exact
    * per-node BFS this replaces is O(n·m); the sketch form is r rounds
    * of "merge your neighbors' sketches" at O(m · 2^p) thin rows per
    * round, and answers average-distance / effective-diameter
    * questions a 10^12-page web graph cannot BFS. Undirected here
    * (edges materialize both directions).
    *
    * Returns one row per (round, node): `(round, node, est)` for
    * round 0..rounds — round 0 is the node itself (est ≈ 1), and a
    * node's sketch at round r IS the HLL of its r-ball, so once r
    * reaches the component diameter the estimate equals the
    * component's key sketch exactly (pinned in OpsSpec). Registers
    * merge by max — associative, so round composition is exact, not
    * an approximation of an approximation.
    */
  def hyperAnf(edges: DataFrame, aCol: String, bCol: String,
      p: Int = 5, rounds: Int = 4): DataFrame = {
    require(rounds >= 0 && rounds <= 16, "rounds in [0,16]")
    val e = edges.select(col(aCol).as("s"), col(bCol).as("t"))
      .unionByName(edges.select(col(bCol).as("s"), col(aCol).as("t")))
      .where(col("s") =!= col("t") && col("s").isNotNull)
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("s").as("node")).distinct()
    val (reg, rho) = Sketch.hllRegRho(col("node"), p)
    var cur = nodes
      .select(col("node"), reg.as("reg"), rho.cast("int").as("rho_max"))
      .localCheckpoint()
    // per-round estimate snapshots are checkpointed EAGERLY (they are
    // nodes-sized — 2^p times smaller than the sketch tables), so each
    // round's sketch blocks can be released as soon as the next
    // round's sketch is materialized instead of holding `rounds`
    // copies of the O(n·2^p) register table to the end
    def snap(r: Int, df: DataFrame): DataFrame =
      Sketch.hllEstimateBy(df, Seq("node"), p)
        .select(lit(r.toLong).as("round"), col("node"), col("est"))
        .localCheckpoint()
    var out = snap(0, cur)
    for (r <- 1 to rounds) {
      // every node absorbs its neighbors' sketches: register-wise max
      val fromNbr = cur.select(col("node").as("t"), col("reg"),
          col("rho_max"))
        .join(e, "t")
        .select(col("s").as("node"), col("reg"), col("rho_max"))
      val next = cur.unionByName(fromNbr)
        .groupBy(col("node"), col("reg"))
        .agg(max(col("rho_max")).cast("int").as("rho_max"))
        .localCheckpoint()
      Checkpoints.release(cur)
      cur = next
      out = out.unionByName(snap(r, cur))
    }
    out
  }

  /** Effective diameter from the HyperANF neighborhood function
    * (Boldi, Rosa & Vigna, WWW 2011 — the headline application of the
    * sketch): the smallest radius reaching `qPpm` (default 90%) of
    * the final total reach, with the standard linear interpolation
    * between the bracketing rounds, as exact integer milli-radius.
    * Input is [[hyperAnf]]'s (round, node, est) output; everything
    * here aggregates the rounds-sized reach table — the corpus never
    * re-enters, so the tiny global window is explicitly bounded
    * (≤ rounds+1 rows). Crossing at round 0 (a graph that is qPpm
    * disconnected singletons) reports diameter 0.
    */
  def effectiveDiameter(anf: DataFrame, qPpm: Long = 900000L)
      : DataFrame = {
    require(qPpm > 0 && qPpm <= 1000000L, "qPpm in (0, 10^6]")
    val per = anf.groupBy(col("round"))
      .agg(sum(round(col("est") * 1000000.0, 0).cast("long"))
        .cast("long").as("reach_micro"))
    val tot = per.agg(max(col("reach_micro")).as("total_micro"))
    val w = Window.orderBy(col("round"))
    per.crossJoin(broadcast(tot))
      .withColumn("thr_micro",
        call_function("div", lit(qPpm) * col("total_micro"),
          lit(1000000L)))
      .withColumn("_prev", lag(col("reach_micro"), 1).over(w))
      .filter(col("reach_micro") >= col("thr_micro") &&
        (col("_prev").isNull || col("_prev") < col("thr_micro")))
      // FIRST crossing only: per-node registers are monotone, but the
      // ESTIMATOR is not (the linear-counting → raw-estimate switch
      // can dip), so the total can in principle re-cross; rounds+1
      // rows at most, so the sort is trivial
      .orderBy(col("round"))
      .limit(1)
      .withColumn("eff_diameter_milli",
        when(col("_prev").isNull, lit(0L)).otherwise(
          (col("round").cast("long") - 1L) * 1000L +
            call_function("div",
              (col("thr_micro") - col("_prev")) * 1000L,
              col("reach_micro") - col("_prev"))))
      .select(col("eff_diameter_milli"),
        col("round").cast("long").as("crossing_round"),
        col("thr_micro"), col("total_micro"))
  }
}
