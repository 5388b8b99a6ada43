package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed suffix-array construction over the tokenized corpus —
  * the exact-substring machinery deferred since round 3: Manber &
  * Myers (SIAM J. Comput. 1993) prefix doubling, expressed as
  * relational rounds (each round = one thin self-join + one dense
  * re-rank), plus the LCP array recovered from the saved doubling
  * tables — the standard binary-decomposition LCP walk. Together
  * (sa_rank, lcp) give suffix-array-grade exact duplicated-substring
  * detection (Lee et al. 2022 "Deduplicating Training Data Makes
  * Language Models Better" builds on exactly this pair), closing the
  * n-gram relaxation gap documented on
  * [[Curation.dropDuplicatedSpans]].
  *
  * Unit: token-level suffixes WITHIN each document ([[Dedup.tokens]]
  * lowercase/whitespace convention, shared with every other text
  * operator and the DuckDB oracles). Suffixes of distinct documents
  * compare by content; identical full suffixes tie and are broken by
  * (id, pos) — the same total order DuckDB's lexicographic list
  * comparison produces, which is what makes the whole construction
  * oracle-checkable.
  *
  * Scale shape (10^12 tokens): every table here is thin (id, pos,
  * rank) longs — text appears ONLY in the initial token-rank pass and
  * never shuffles afterwards. Per round: one equi-join on (id, pos+h)
  * and one dense re-rank built from `distinct` +
  * [[ScaleWindow.shardedRank]] (range-sharded — no global window
  * task). ceil(log2 maxDocLen) rounds, NOT log2(corpus): suffixes
  * stop at document ends, so a 10^12-token corpus of ≤64k-token pages
  * is 16 rounds. Each round localCheckpoints (truncating lineage) and
  * releases the previous round's blocks, keeping only the ~log tables
  * the LCP walk needs.
  */
object SuffixArray {

  /** (id, pos, dl, tok) token-position rows; empty docs drop out. */
  private def positions(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // posexplode_outer + null-filter, not posexplode: a non-outer
    // generate gets a `size(arr) > 0` filter inferred above it, and its
    // pushdown recomputes the whole tokenize inside the scan
    // (SessionTuning has the measurement); empty docs drop via
    // the null marker row exactly as posexplode dropped them
    df.select(col(idCol).cast("long").as("id"),
        Dedup.tokens(col(textCol)).as("_tk"))
      .select(col("id"), size(col("_tk")).cast("long").as("dl"),
        posexplode_outer(col("_tk")).as(Seq("pos", "tok")))
      .filter(col("pos").isNotNull)
      .withColumn("pos", col("pos").cast("long"))

  /** Order-preserving dense rank of `keys` (distinct keys →
    * shardedRank → join back): the re-rank kernel of every doubling
    * round. Output rank is 1-based and dense by construction.
    */
  private def denseRank(df: DataFrame, keys: Seq[String],
      out: String, shards: Int): DataFrame = {
    val dr = df.select(keys.map(col): _*).distinct()
    val ranked = ScaleWindow.shardedRank(dr, Seq.empty,
        keys.map(col), out, "_sa_n", shards)
      .drop("_sa_n")
    df.join(ranked, keys)
  }

  /** Suffix ranks by prefix doubling. Returns the per-round tables
    * `(h, ranks)` in ASCENDING h — `ranks` = (id, pos, dl, rank)
    * where equal rank ⟺ the suffixes' first min(h, remaining) tokens
    * agree AND (if either suffix is shorter than h) the suffixes are
    * identical. The last table's ranks are final: equal ⟺ identical
    * full suffixes. Early-stops when all ranks are distinct.
    */
  def doublingTables(df: DataFrame, idCol: String, textCol: String,
      shards: Int = 0): Seq[(Long, DataFrame)] = {
    // fence the position table: the tokenize+posexplode pass otherwise
    // re-runs for the stats aggregate AND under every branch of the
    // initial rank (distinct, range sampling, join-back) — four corpus
    // text passes before the first round. The checkpoint is the same
    // magnitude as each round table (thin rows + token strings) and is
    // released as soon as the h=1 ranks are materialized. `pos` lives
    // only inside this block, so no line after its release can read the
    // released table (its lineage is truncated: a later read would fail,
    // not recompute).
    val (maxLen, n, ranks1) = {
      val pos = positions(df, idCol, textCol).localCheckpoint()
      val agg0 = pos.agg(max(col("dl")), count(lit(1))).collect()(0)
      val ranks = denseRank(pos, Seq("tok"), "rank", shards)
        .select(col("id"), col("pos"), col("dl"), col("rank"))
        .localCheckpoint()
      // token strings are no longer needed once the h=1 ranks exist
      Checkpoints.release(pos)
      // empty / all-empty-text corpus: max(dl) is null — one vacuous
      // round over the empty position table, empty results downstream
      (if (agg0.isNullAt(0)) 0L else agg0.getLong(0), agg0.getLong(1), ranks)
    }
    var r = ranks1
    var tables = Seq(1L -> r)
    var h = 1L
    // Composite fast path: when the incoming ranks are DENSE (≤ n)
    // and (n+1)(n+2) fits a long, the pair (_ra, _rb) packs into ONE
    // order-isomorphic long — `_ra·(n+2) + _rb + 1` (injective since
    // _rb+1 ∈ [0, n+1] < n+2; lexicographic order preserved) — so the
    // round needs NO distinct/re-rank/join at all, just a projection.
    // The next round must then densify (a second packing would square
    // past 2^63), so rounds alternate composite/densify: half the
    // expensive re-ranks. Above ~3·10^9 positions the packing itself
    // would overflow, so every round densifies — that is the 10^12
    // scale path; the packing is a small-corpus accelerator with
    // identical results (rank EQUALITY and ORDER are all downstream
    // consumers use). q155/q156 oracles pin both paths.
    val packable = n > 0 && n <= 3000000000L
    var dense = true
    // early-stop probe (all ranks unique ⇒ order final) only once
    // h >= 16: the first rounds never converge, and a corpus with ANY
    // exact-dup document never converges at all (identical suffixes
    // tie forever) — so the probe is gated to where it can still save
    // rounds without paying one action per round
    var distinctRanks = 0L
    while (h < maxLen && distinctRanks < n) {
      // suffix at pos pairs its rank with the rank at pos+h; absent
      // (past doc end) = sentinel -1, sorting shorter-prefix first —
      // the same order DuckDB's lexicographic list compare yields.
      // Positions are contiguous 0..dl-1 within a document, so "the
      // rank at pos+h" is exactly lead(rank, h) over (partition by id
      // order by pos) — ONE exchange on id instead of the two the
      // (id, pos)/(id, pos−h) self-join paid, and the window partition
      // is document-bounded (≤ maxDocLen rows), never corpus-sized.
      if (dense && packable && 2 * h < maxLen) {
        // FUSED quadrupling round — the composite h→2h packing and the
        // 2h→4h densify share ONE window exchange and ONE checkpoint:
        // `_p1 = _ra·(n+2) + lead(_ra,h) + 1` is exactly the composite
        // round's 2h rank (order-isomorphic, equality-exact), and the
        // densify key (_p1, lead(_p1, 2h)) is exactly what the separate
        // 2h→4h round would have built from it — same keys, same
        // distinct set, same dense ranks. The second lead rides the
        // same (id, pos) sort, so the fusion removes one full window
        // exchange + one eager materialization per pair of rounds
        // (measured: the 8-round sf0.1 build spent ~1 s/round in fixed
        // exchange/checkpoint latency, not compute). The checkpointed
        // output keeps _p1, so BOTH walk tables (2h and 4h) are thin
        // projections of one materialization — the walk's binary table
        // set (1,2,4,…) is unchanged.
        val wDoc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("pos"))
        val quad = r.select(col("id"), col("pos"), col("dl"),
            col("rank").as("_ra"))
          .withColumn("_p1", col("_ra") * (n + 2L) +
            coalesce(lead(col("_ra"), h.toInt).over(wDoc), lit(-1L)) + 1L)
          .withColumn("_p2",
            coalesce(lead(col("_p1"), (2 * h).toInt).over(wDoc), lit(-1L)))
        val rq = denseRank(quad, Seq("_p1", "_p2"), "rank", shards)
          .select(col("id"), col("pos"), col("dl"), col("_p1"),
            col("rank"))
          .localCheckpoint()
        tables :+= (2 * h) ->
          rq.select(col("id"), col("pos"), col("dl"),
            col("_p1").as("rank"))
        r = rq.select(col("id"), col("pos"), col("dl"), col("rank"))
        h *= 4
        tables :+= (h -> r)
        dense = true
      } else {
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("pos"))
      val paired = r.select(col("id"), col("pos"), col("dl"),
        col("rank").as("_ra"),
        coalesce(lead(col("rank"), h.toInt).over(wDoc), lit(-1L))
          .as("_rb"))
      if (dense && packable) {
        r = paired.select(col("id"), col("pos"), col("dl"),
          (col("_ra") * (n + 2L) + col("_rb") + 1L).as("rank"))
          .localCheckpoint()
        dense = false
      } else {
        r = denseRank(paired, Seq("_ra", "_rb"), "rank", shards)
          .select(col("id"), col("pos"), col("dl"), col("rank"))
          .localCheckpoint()
        dense = true
      }
      h *= 2
      tables :+= (h -> r)
      }
      // after a densify round ranks are dense 1..K, so the distinct
      // count IS max(rank) — a map-side max over the just-checkpointed
      // blocks instead of a countDistinct shuffle per probed round
      if (h >= 16 && h < maxLen && dense)
        distinctRanks =
          r.agg(max(col("rank"))).collect()(0).getLong(0)
    }
    tables
  }

  /** The suffix array with its LCP array: one row per token position,
    * `(id, pos, sa_rank, lcp)` — sa_rank the 1-based position in the
    * global suffix order (ties on identical suffixes broken by
    * (id, pos)), lcp the longest-common-prefix length with the
    * PREVIOUS suffix in that order (0 for sa_rank 1).
    *
    * LCP walk: descending over the doubling tables, two thin lookups
    * per table (rank at id1/pos1+lcp and id2/pos2+lcp); equal ranks
    * advance lcp by h. The one overshoot case — both remainders
    * shorter than h and identical — is exact after the final
    * least(lcp, remaining) cap (the remainders being identical forces
    * equal lengths). log2(maxDocLen) joins of adjacent-pair rows
    * against thin rank tables; nothing corpus-quadratic anywhere.
    */
  def saWithLcp(df: DataFrame, idCol: String, textCol: String,
      shards: Int = 0): DataFrame = {
    val tables = doublingTables(df, idCol, textCol, shards)
    val rFinal = tables.last._2
    val sa = ScaleWindow.shardedRank(rFinal, Seq.empty,
        Seq(col("rank"), col("id"), col("pos")), "sa_rank", "_sa_n",
        shards)
      .drop("_sa_n")
      .localCheckpoint()
    val cur = sa.select(col("sa_rank"), col("id").as("id2"),
      col("pos").as("pos2"), col("dl").as("dl2"))
    val prev = sa.select((col("sa_rank") + 1).as("sa_rank"),
      col("id").as("id1"), col("pos").as("pos1"), col("dl").as("dl1"))
    var pairs = cur.join(prev, Seq("sa_rank"), "left")
      .withColumn("lcp", lit(0L))
    tables.reverse.foreach { case (h, rt) =>
      pairs = pairs
        .withColumn("_p1", col("pos1") + col("lcp"))
        .withColumn("_p2", col("pos2") + col("lcp"))
        .join(rt.select(col("id").as("id1"), col("pos").as("_p1"),
          col("rank").as("_r1")), Seq("id1", "_p1"), "left")
        .join(rt.select(col("id").as("id2"), col("pos").as("_p2"),
          col("rank").as("_r2")), Seq("id2", "_p2"), "left")
        // null (past either suffix end) falls to otherwise: no advance
        .withColumn("lcp", when(col("_r1") === col("_r2"),
          col("lcp") + h).otherwise(col("lcp")))
        .drop("_p1", "_p2", "_r1", "_r2")
    }
    pairs.select(col("id2").as("id"), col("pos2").as("pos"),
      col("sa_rank"),
      when(col("id1").isNull, lit(0L))
        .otherwise(least(col("lcp"), col("dl1") - col("pos1"),
          col("dl2") - col("pos2"))).as("lcp"))
  }

  /** Exact duplicated spans from the suffix array: maximal-start
    * positions whose suffix shares >= minTokens leading tokens with
    * its SA neighbor — i.e. the span (id, pos, pos+minTokens) occurs
    * at least twice in the corpus (either document). The SA gives
    * this without enumerating n-grams: a repeated span of ANY length
    * >= minTokens shows up as adjacent suffixes with lcp >= minTokens
    * (duplicated text clusters contiguously in suffix order). Output
    * one row per position participating in a duplication, with the
    * matched length.
    */
  def duplicatedPositions(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int, shards: Int = 0): DataFrame =
    duplicatedPositionsFromSa(
      saWithLcp(df, idCol, textCol, shards).localCheckpoint(), minTokens)

  /** [[duplicatedPositions]] over an ALREADY-BUILT `(id, pos, sa_rank,
    * lcp)` table — the seam that lets one suffix-array construction
    * (minutes at corpus scale) serve every downstream consumer: dup
    * spans at several `minTokens`, scrub stages, span statistics. The
    * production shape is build-once-persist, then derive; callers
    * fence the SA (localCheckpoint / persisted table) so this derive
    * pass never re-runs the doubling rounds.
    */
  def duplicatedPositionsFromSa(sa: DataFrame, minTokens: Int): DataFrame = {
    // a position duplicates if lcp-with-prev >= min OR the NEXT row's
    // lcp-with-prev >= min (lcp is stored on the later row)
    val next = sa.select((col("sa_rank") - 1).as("sa_rank"),
      col("lcp").as("_lcp_next"))
    sa.join(next, Seq("sa_rank"), "left")
      .withColumn("dup_len",
        greatest(col("lcp"), coalesce(col("_lcp_next"), lit(0L))))
      .filter(col("dup_len") >= minTokens)
      .select(col("id"), col("pos"), col("dup_len"))
  }
}
