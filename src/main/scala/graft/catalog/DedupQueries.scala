package graft
package catalog

import graft.ops.{Dedup, Sketch}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Deduplication: exact and near-duplicate detection
  * ([[graft.ops.Dedup]]), the suffix array ([[graft.ops.SuffixArray]]) and
  * sketches ([[graft.ops.Sketch]]).
  */
object DedupQueries {
  /** One suffix-array construction per (session, corpus dir), fenced
    * by localCheckpoint — the SA is a build-once artifact consumed by
    * multiple downstream queries (the production shape), so q156
    * derives from this cached table instead of re-running the doubling
    * chain q155 already times. The session owns the artifact: a temp
    * view named after the corpus dir, so it goes away with the session
    * and `newSession()` starts without it.
    */
  private[catalog] def sharedSa(s: SparkSession, d: String): DataFrame = {
    val view = "graft_sa_" +
      java.util.UUID.nameUUIDFromBytes(d.getBytes("UTF-8")).toString
        .replace("-", "")
    // a localCheckpoint'd frame whose blocks were unpersisted (e.g. a
    // harness that clears all persistent RDDs between queries) cannot
    // be recomputed — lineage is truncated — so a stale view would
    // fail its next action; detect eviction and rebuild instead.
    // Probing the frame's `.rdd` instead would misread every hit as
    // evicted and silently rebuild the SA per call (measured: q156
    // 0.35 → 11 s)
    val live = Some(view).filter(s.catalog.tableExists).map(s.table)
      .filter(ops.Checkpoints.rdds(_).exists(
        _.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE))
    live.getOrElse {
      val sa = ops.SuffixArray.saWithLcp(t(s, d, "documents"), "doc_id",
        "text").localCheckpoint()
      sa.createOrReplaceTempView(view)
      sa
    }
  }

  /** q66's synthesized incremental-ingestion corpus: index docs
    * (doc_id < 400, every 40th) carry a shared archived body k; new
    * docs (>= 400) replant body (did-400)/10 verbatim for %10==0
    * (exact dups) and with an extra trailing clause for %10==1 (near
    * dups). Everything else keeps its word-salad text.
    */
  private def incrCorpus(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("long")
    def body(kc: Column): Column = concat(
      lit("the archived corpus body "), kc.cast("string"),
      lit(" alpha bravo charlie delta echo foxtrot golf hotel india" +
        " juliet kilo lima mike november oscar papa"))
    t(s, d, "documents").select(col("doc_id"),
      when(did < 400 && pmod(did, lit(40)) === 0,
        body(expr("CAST(doc_id AS BIGINT) DIV 40")))
        .when(did >= 400 && pmod(did, lit(10)) === 0,
          body(expr("(CAST(doc_id AS BIGINT) - 400) DIV 10")))
        .when(did >= 400 && pmod(did, lit(10)) === 1,
          concat(body(expr("(CAST(doc_id AS BIGINT) - 401) DIV 10")),
            lit(" with one extra trailing clause appended here")))
        .otherwise(col("text")).as("text"))
  }

  /** Suffix-sort oracle chain (q155/q156 twin of SuffixArray): sorts
    * the actual suffix token-lists; yields `w(id, pos, sa_rank, suf,
    * psuf)`. One definition so the two oracles cannot drift.
    */
  private lazy val saCtesSql: String =
    s"""d AS (SELECT CAST(doc_id AS BIGINT) AS id, $toksSql AS tk
          FROM documents),
        p0 AS (SELECT id, CAST(len(tk) AS BIGINT) AS dl, tk,
            unnest(generate_series(1, len(tk))) AS i FROM d),
        p AS (SELECT id, dl, CAST(i - 1 AS BIGINT) AS pos,
            tk[i:] AS suf FROM p0),
        o AS (SELECT id, pos, dl, suf,
            CAST(ROW_NUMBER() OVER (ORDER BY suf, id, pos) AS BIGINT)
              AS sa_rank
          FROM p),
        w AS (SELECT id, pos, sa_rank, suf,
            lag(suf) OVER (ORDER BY sa_rank) AS psuf
          FROM o)"""

  /** 24-token passage planted into q101 docs — longer than the
    * winnowing guarantee length w + k - 1 = 11, so every pair of
    * planted docs MUST share at least one fingerprint.
    */
  private val PlantPassage = "breaking exclusive report market " +
    "regulators announced sweeping oversight changes late thursday " +
    "affecting cross border settlement flows and custody reporting " +
    "obligations effective next quarter pending review"

  private def minhashSqlCols(k: Int = 8): String =
    Dedup.minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform($toksSql, t -> ($a * ${tokHashSql(8)} + $b) % ${Dedup.MinhashP}))" +
        s" AS m$i"
    }.mkString(", ")

  /** Shared q32/q62 oracle: minhash-LSH pairs → recursive-CTE
    * connected components → min-id canonical (both Spark component
    * algorithms must produce this labeling).
    */
  private lazy val dedupClusterOracleSql: String =
    s"""WITH RECURSIVE ${lshPairsCtesOver(3, maxBucket = 64)},
      edges AS (SELECT a, b FROM pairs WHERE est_jaccard >= 0.5
        UNION SELECT b, a FROM pairs WHERE est_jaccard >= 0.5),
      comp(id, canon) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.a, c.canon FROM edges e JOIN comp c ON c.id = e.b)
      SELECT id AS doc_id, MIN(canon) AS canonical_id
      FROM comp GROUP BY 1 ORDER BY 1"""

  private def embedNearDupSql(nPlanes: Int, dim: Int, threshold: Double)
      : String =
    s"""WITH ${embedNearDupCtes(nPlanes, dim)}
        SELECT a, b, round(cosine, 6) AS cosine FROM pairs
        WHERE cosine >= $threshold
        ORDER BY cosine DESC, a, b LIMIT 50"""

  private def simhash16Sql: String = {
    val h = tokHashSql(4)
    (0 until 16).map { i =>
      s"(CASE WHEN list_sum(list_transform($toksSql, t -> (($h >> $i) & 1) * 2 - 1)) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** q153/q167 oracle fragment: pigeonhole-blocked simhash candidate
    * pairs ending in `cand(a, b, hamming)`. One definition so the
    * pair and clustering oracles cannot drift.
    */
  private lazy val simhashPairsCtesSql: String =
    s"""sigs AS (SELECT CAST(doc_id AS BIGINT) AS id,
          $simhash16Sql AS sh FROM documents),
        blk AS (SELECT id, sh, b AS band, (sh >> (b * 8)) & 255 AS bucket
          FROM sigs, generate_series(0, 1) AS t(b)),
        cand AS (SELECT DISTINCT l.id AS a, r.id AS b,
            CAST(bit_count(xor(l.sh, r.sh)) AS INT) AS hamming
          FROM blk l JOIN blk r ON l.band = r.band
            AND l.bucket = r.bucket AND l.id < r.id)"""

  def specs: Seq[QuerySpec] = Seq(
    // dedup: MinHash signatures (portable LCG over md5-prefix hashes)
    QuerySpec("q14_minhash", (s, d) =>
      Dedup.withMinhash(t(s, d, "documents").select("doc_id", "text"),
        col("text"), 8)
        .drop("text").orderBy("doc_id"),
    Some(s"SELECT doc_id, ${minhashSqlCols()} FROM documents ORDER BY doc_id")),
    // dedup: SimHash (16-bit portable variant)
    QuerySpec("q15_simhash", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Dedup.simhash16(col("text")).as("simhash"))
        .orderBy("doc_id"),
    Some(s"SELECT doc_id, $simhash16Sql AS simhash FROM documents ORDER BY doc_id")),
    // dedup: exact n-gram Jaccard via shingle self-join
    QuerySpec("q16_jaccard_pairs", (s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", 3)
        .orderBy(col("jaccard").desc, col("a"), col("b"))
        .limit(20),
    Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
        sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(0, greatest(len(tk) - 3, 0)),
            i -> array_to_string(tk[i+1:i+3], ' ')))) AS shingle
          FROM toks),
        sh2 AS (SELECT * FROM sh WHERE length(shingle) > 0),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY 1),
        inter AS (SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS inter
          FROM sh2 l JOIN sh2 r ON l.shingle = r.shingle
            AND l.doc_id < r.doc_id
          GROUP BY 1, 2)
        SELECT a, b, inter,
          CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        ORDER BY jaccard DESC, a, b LIMIT 20""")),
    // dedup: MinHash-LSH candidate pairs (banded; rows-only)
    // dedup: minhash-LSH candidate pairs. Token-unigram shingles over
    // shared-vocabulary text are the DEGENERATE configuration (most
    // docs collide into a few buckets → quadratic within-bucket join:
    // measured 250+ s at sf0.1 uncapped) — exactly what maxBucket is
    // for, so this query runs it capped and the oracle verifies the
    // cap semantics, not just the happy path.
    QuerySpec("q28_minhash_lsh", (s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        k = 16, bands = 8, minEstJaccard = 0.25, maxBucket = 64)
        .orderBy(col("est_jaccard").desc, col("a"), col("b"))
        .limit(50),
    Some(s"""WITH ${lshPairsCtesOver(1, maxBucket = 64)}
        SELECT a, b, est_jaccard FROM pairs WHERE est_jaccard >= 0.25
        ORDER BY est_jaccard DESC, a, b LIMIT 50""")),
    // dedup: embedding-cosine near-dup pairs (LSH-bucketed; rows-only)
    QuerySpec("q29_embed_neardup", (s, d) =>
      Dedup.embeddingNearDupPairs(t(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.2, planes = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("cosine").desc, col("a"), col("b"))
        .limit(50),
    Some(embedNearDupSql(4, 64, 0.2))),
    // dedup: SemDeDup-style semantic dedup — IVF-cell partition +
    // within-cell cosine, keep-lowest-id per-document verdicts (the
    // curation-flow form of embedding near-dup; cross-cell misses are
    // the paper's documented recall trade)
    QuerySpec("q69_semantic_dedup", (s, d) =>
      Dedup.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        nCells = 16, threshold = 0.3)
        .withColumn("cell", col("cell").cast("long"))
        .orderBy("id"),
    Some(s"""WITH $ivfCellSqlCtes,
        cc AS (SELECT cl.vec_id, cl.cell, vv.e FROM cell cl
          JOIN v vv ON vv.vec_id = cl.vec_id),
        dups AS (SELECT a.vec_id AS id, min(b.vec_id) AS dup_of
          FROM cc a JOIN cc b ON a.cell = b.cell AND b.vec_id < a.vec_id
          WHERE ${cosSql("a.e", "b.e")} >= 0.3
          GROUP BY 1)
        SELECT cc.vec_id AS id, CAST(cc.cell AS BIGINT) AS cell,
          dups.dup_of IS NULL AS kept, dups.dup_of
        FROM cc LEFT JOIN dups ON dups.id = cc.vec_id
        ORDER BY id""")),
    // dedup end-game: LSH candidate pairs → connected components (star
    // contraction, O(log n) rounds) → canonical survivor (min id).
    // Oracle = recursive CTE in DuckDB.
    QuerySpec("q32_dedup_cluster", (s, d) => {
      val docs = t(s, d, "documents")
      // maxBucket=64: clustering rides the same capped candidate
      // generation as q28 (mirrored in the oracle CTE chain) — at 20x
      // generated scale the uncapped pair volume grew ~quadratically
      // in template-sharing dup-group count (BenchScale: 20.6x time
      // growth uncapped vs capped q28's 2.8x on the same corpus)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 16, bands = 8, minEstJaccard = 0.5, shingleN = 3,
        maxBucket = 64)
      Dedup.canonicalize(docs, "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some(dedupClusterOracleSql)),
    // dedup clustering: now the same plan as q32 (one component kernel,
    // Dedup.canonicalize); the name is kept and the same recursive-CTE
    // oracle pins it
    QuerySpec("q62_dedup_star", (s, d) => {
      val docs = t(s, d, "documents")
      // maxBucket=64 — same capped chain as q32 (shared oracle)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 16, bands = 8, minEstJaccard = 0.5, shingleN = 3,
        maxBucket = 64)
      Dedup.canonicalize(docs, "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // q62: the same plan as q32 — same oracle
    Some(dedupClusterOracleSql)),
    // dedup at scale: exact n-gram Jaccard restricted to LSH candidates
    // (the composed operator — no all-pairs shingle self-join)
    QuerySpec("q34_jaccard_lsh", (s, d) =>
      Dedup.ngramJaccardLsh(t(s, d, "documents"), "doc_id", "text",
        n = 3, k = 16, bands = 8, minEstJaccard = 0.25, minJaccard = 0.1)
        .withColumn("inter", col("inter").cast("long"))
        .orderBy(col("jaccard").desc, col("a"), col("b"))
        .limit(50),
    Some(s"""WITH ${lshPairsCtesOver(3)},
        cand AS (SELECT a, b FROM pairs WHERE est_jaccard >= 0.25),
        sh AS (SELECT doc_id AS id,
          list_filter(list_distinct(list_transform(
            generate_series(0, greatest(len(tk) - 3, 0)),
            i -> array_to_string(tk[i+1:i+3], ' '))), s -> length(s) > 0)
            AS sh
          FROM (SELECT doc_id, $toksSql AS tk FROM documents)),
        scored AS (SELECT a, b,
          CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
          CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
            (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
            AS jaccard
          FROM cand JOIN sh sa ON sa.id = a JOIN sh sb ON sb.id = b)
        SELECT a, b, inter, jaccard FROM scored WHERE jaccard >= 0.1
        ORDER BY jaccard DESC, a, b LIMIT 50""")),
    // web graph: connected components of the host graph via
    // O(log n)-round star contraction (the same Kiveris et al.
    // machinery dedup clustering uses, on web topology) — mirror
    // groups / link farms / crawl-frontier islands fall out as
    // components; the oracle re-derives the labeling with a recursive
    // CTE, so the contraction must agree with transitive closure
    QuerySpec("q82_host_components", (s, d) => {
      val e = webEdges(s, d).filter(col("src") =!= col("dst"))
        .select(col("src").as("a"), col("dst").as("b")).distinct()
      val hosts = webEdges(s, d)
        .select(explode(array(col("src"), col("dst"))).as("host"))
        .distinct()
      // fenced: the component-size self-join reads `lab` twice, and
      // unfenced each branch re-runs the contraction's final join
      // over the webEdges scan (the translationClusters discipline)
      val lab = Dedup.canonicalize(hosts, "host", e).localCheckpoint()
      lab.join(
          lab.groupBy(col("canonical_id").as("component"))
            .agg(count(lit(1)).as("component_size")),
          lab("canonical_id") === col("component"))
        .select(col("id").as("host"), col("component"),
          col("component_size").cast("long").as("component_size"))
        .orderBy("host")
    },
    // q82: transitive closure via recursive CTE = the ground truth the
    // star contraction must reproduce; component label = min host
    Some(s"""WITH RECURSIVE ew AS ($webEdgesSql),
        e0 AS (SELECT DISTINCT src AS a, dst AS b FROM ew
          WHERE src <> dst),
        edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        nodes AS (SELECT src AS n FROM ew UNION SELECT dst FROM ew),
        comp(id, canon) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT e.a, c.canon FROM edges e JOIN comp c ON c.id = e.b),
        lab AS (SELECT id, MIN(canon) AS component FROM comp GROUP BY 1),
        sz AS (SELECT component, CAST(COUNT(*) AS BIGINT)
          AS component_size FROM lab GROUP BY 1)
        SELECT lab.id AS host, lab.component, sz.component_size
        FROM lab JOIN sz ON sz.component = lab.component
        ORDER BY host""")),
    // dedup refinement: duplicate-cluster survivor by QUALITY — the
    // q32 near-dup clusters, but keeping each cluster's longest doc
    // (max n_chars, ties to min id) instead of the arbitrary min-id
    // canonical; two thin agg passes, never a per-cluster window
    QuerySpec("q111_keep_best", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 16, bands = 8, minEstJaccard = 0.5, shingleN = 3,
        maxBucket = 64) // same capped chain as q32 (shared CTEs)
      val labels = Dedup.canonicalize(docs, "doc_id", pairs)
      Dedup.keepBestPerCluster(labels,
          docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
        .withColumnRenamed("id", "doc_id")
        .withColumn("score", col("score").cast("long"))
        .orderBy("doc_id")
    },
    // q111: the same recursive-CTE component labeling, then the
    // argmax(score)/min-id survivor re-derived relationally
    Some(s"""WITH RECURSIVE ${lshPairsCtesOver(3, maxBucket = 64)},
        edges AS (SELECT a, b FROM pairs WHERE est_jaccard >= 0.5
          UNION SELECT b, a FROM pairs WHERE est_jaccard >= 0.5),
        comp(id, canon) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.a, c.canon FROM edges e JOIN comp c ON c.id = e.b),
        lab AS (SELECT id, MIN(canon) AS canonical_id
          FROM comp GROUP BY 1),
        sc AS (SELECT l.id, l.canonical_id,
          CAST(d.n_chars AS BIGINT) AS score
          FROM lab l JOIN documents d ON d.doc_id = l.id),
        mx AS (SELECT canonical_id, max(score) AS ms FROM sc GROUP BY 1),
        bid AS (SELECT s.canonical_id, min(s.id) AS bid
          FROM sc s JOIN mx ON s.canonical_id = mx.canonical_id
            AND s.score = mx.ms
          GROUP BY 1)
        SELECT s.id AS doc_id, s.canonical_id, s.score,
          s.id = b.bid AS survivor
        FROM sc s JOIN bid b ON s.canonical_id = b.canonical_id
        ORDER BY doc_id""")),
    // cross-corpus overlap sketch: KMV bottom-k estimates of
    // |A ∪ B| / Jaccard / |A ∩ B| from k 32-bit hashes per side —
    // the planning query BEFORE an ingestion dedup (a full answer is
    // a distinct-join over both corpora; the decision needs ~percent
    // accuracy). Plant: A = 350 keys, B = the same shifted by 100
    // (true union 450 / intersection 250); k=64 forces the estimator
    // path, and the exact counts ride along so estimate quality is
    // visible in the result itself
    QuerySpec("q122_kmv_overlap", (s, d) => {
      val base = t(s, d, "documents")
        .select(pmod(col("doc_id").cast("long"), lit(350)).as("v"))
      val a = base.select(concat(lit("e"), col("v").cast("string"))
        .as("key"))
      val b = base.select(concat(lit("e"), (col("v") + 100)
        .cast("string")).as("key"))
      val sk = Sketch.kmvOverlap(a, b, "key", k = 64)
      val exact = a.distinct().select(col("key"), lit(1).as("ia"))
        .join(b.distinct().select(col("key"), lit(1).as("ib")),
          Seq("key"), "full")
        .agg(count(lit(1)).cast("long").as("exact_union"),
          sum(when(col("ia") === 1 && col("ib") === 1, 1L)
            .otherwise(0L)).cast("long").as("exact_inter"))
      sk.crossJoin(exact)
    },
    // q122: the oracle re-derives the KMV sketch and every estimator
    // in SQL — same md5-prefix hashes, same bottom-64, same integer
    // floor-division arithmetic (// in DuckDB, div in Spark)
    Some("""WITH v AS (SELECT DISTINCT CAST(doc_id AS BIGINT) % 350 AS v
          FROM documents),
        a AS (SELECT DISTINCT 'e' || CAST(v AS VARCHAR) AS key FROM v),
        b AS (SELECT DISTINCT 'e' || CAST(v + 100 AS VARCHAR) AS key
          FROM v),
        sa AS (SELECT CAST(('0x' || substr(md5(key), 1, 8)) AS BIGINT)
          AS h FROM a ORDER BY h LIMIT 64),
        sb AS (SELECT CAST(('0x' || substr(md5(key), 1, 8)) AS BIGINT)
          AS h FROM b ORDER BY h LIMIT 64),
        mg AS (SELECT coalesce(sa.h, sb.h) AS h,
            CASE WHEN sa.h IS NOT NULL THEN 1 ELSE 0 END AS ia,
            CASE WHEN sb.h IS NOT NULL THEN 1 ELSE 0 END AS ib
          FROM sa FULL JOIN sb ON sa.h = sb.h),
        mk AS (SELECT * FROM mg ORDER BY h LIMIT 64),
        ag AS (SELECT count(*) AS nus, max(h) AS vk,
            sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS sik
          FROM mk),
        ue AS (SELECT nus, vk, sik,
            CASE WHEN nus < 64 THEN nus
              ELSE (63 * 4294967296) // vk END AS uest,
            CASE WHEN nus < 64 THEN nus ELSE 64 END AS denom FROM ag),
        ex AS (SELECT count(*) AS exact_union,
            sum(CASE WHEN a2.key IS NOT NULL AND b2.key IS NOT NULL
              THEN 1 ELSE 0 END) AS exact_inter
          FROM a a2 FULL JOIN b b2 ON a2.key = b2.key)
        SELECT CAST(nus AS BIGINT) AS n_union_sketch,
          CAST(vk AS BIGINT) AS vk,
          CAST(sik AS BIGINT) AS shared_in_k,
          CAST(uest AS BIGINT) AS union_est,
          CAST((sik * 1000000) // denom AS BIGINT) AS jaccard_ppm,
          CAST((sik * uest) // denom AS BIGINT) AS inter_est,
          CAST(exact_union AS BIGINT) AS exact_union,
          CAST(exact_inter AS BIGINT) AS exact_inter
        FROM ue, ex""")),
    // HyperLogLog distinct-count sketch: 2^8 registers estimate the
    // corpus 3-gram vocabulary in one scan (no distinct(), register
    // sums exact-integer so agg order can't move the estimate); exact
    // count and error ride along as the accuracy report
    QuerySpec("q131_hll", (s, d) => {
      val keys = t(s, d, "documents")
        .select(Dedup.tokens(col("text")).as("tk"))
        .select(explode(Dedup.shinglesOf(col("tk"), 3)).as("key"))
        .where(length(col("key")) > 0)
      val est = Sketch.hllEstimate(Sketch.hllRegisters(keys, "key"), 8)
      val exact = keys.agg(
        countDistinct(col("key")).cast("long").as("exact_distinct"))
      est.crossJoin(exact).select(
        col("m"), col("n_nonzero"), col("est"), col("exact_distinct"),
        floor(abs(col("est") - col("exact_distinct")) * 1000000.0 /
          col("exact_distinct")).cast("long").as("err_ppm"))
    },
    // q131: registers re-derived from the same 60-bit md5-prefix hash
    // and bit-length rho; the indicator sum replays the exact-integer
    // 2^(61-rho) staging in HUGEINT, then one double division with the
    // identical Scala-printed alpha*m^2*2^61 constant; shingle support
    // mirrors shinglesOf (clamped slice, '' filtered)
    Some {
      val m = 256
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val c = alpha * m * m * 2305843009213693952.0d
      s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
        keys AS (SELECT unnest(list_transform(
            generate_series(1, greatest(len(tk) - 2, 1)),
            i -> array_to_string(tk[i:i+2], ' '))) AS key FROM t),
        k AS (SELECT key FROM keys WHERE length(key) > 0),
        h AS (SELECT CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT)
          AS hv FROM k),
        r AS (SELECT hv // 4503599627370496 AS reg,
          hv % 4503599627370496 AS w FROM h),
        rr AS (SELECT reg, MAX(CASE WHEN w = 0 THEN 53
          ELSE 52 - (length(bin(w)) - 1) END) AS rho_max
          FROM r GROUP BY reg),
        agg AS (SELECT COUNT(*) AS n_nonzero,
          SUM(2305843009213693952 >> rho_max) AS s_nz FROM rr),
        z AS (SELECT n_nonzero, CAST(s_nz +
          CAST($m - n_nonzero AS HUGEINT) *
          CAST(2305843009213693952 AS HUGEINT) AS DOUBLE) AS z61
          FROM agg),
        e AS (SELECT CAST($m AS BIGINT) AS m,
          CAST(n_nonzero AS BIGINT) AS n_nonzero,
          round(CASE WHEN ($c / z61) <= ${2.5 * m} AND
              ($m - n_nonzero) > 0
            THEN $m.0 * ln($m.0 / CAST($m - n_nonzero AS DOUBLE))
            ELSE $c / z61 END, 6) AS est FROM z),
        x AS (SELECT COUNT(DISTINCT key) AS exact_distinct FROM k)
        SELECT m, n_nonzero, est,
          CAST(exact_distinct AS BIGINT) AS exact_distinct,
          CAST(floor(abs(est - exact_distinct) * 1000000.0 /
            exact_distinct) AS BIGINT) AS err_ppm
        FROM e, x"""
    }),
    // count-min sketch: 4x256 counters answer token frequencies
    // without a frequency table; every probe reports estimate vs exact
    // (overestimate >= 0 ALWAYS — the CMS invariant), absent probes
    // included
    QuerySpec("q139_cms", (s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("key"))
      val cms = Sketch.cmsTable(toks, "key", d = 4, w = 256)
      val probes = toks.groupBy("key")
        .agg(count(lit(1)).cast("long").as("exact"))
        .unionByName(t(s, d, "documents").where(col("doc_id") < 5)
          .select(concat(lit("zz"), col("doc_id")).as("key"),
            lit(0L).as("exact")))
      Sketch.cmsLookup(cms, probes, "key", d = 4, w = 256)
        .join(probes, "key")
        .select(col("key"), col("est"), col("exact"),
          (col("est") - col("exact")).as("overestimate"))
        .orderBy("key")
    },
    // q139: same md5-prefix row hashes, same mod-w addressing, the
    // min-over-rows with absent cells as 0
    Some(s"""WITH toks AS (SELECT unnest($toksSql) AS key FROM documents),
        cells AS (SELECT g.r,
            CAST(('0x' || substr(md5(key || ':cms:' || g.r), 1, 8))
              AS BIGINT) % 256 AS c
          FROM toks, generate_series(0, 3) g(r)),
        cms AS (SELECT r, c, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM cells GROUP BY r, c),
        probes AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS exact
            FROM toks GROUP BY key
          UNION ALL SELECT 'zz' || doc_id, 0
            FROM documents WHERE doc_id < 5),
        pc AS (SELECT p.key, p.exact, g.r,
            CAST(('0x' || substr(md5(p.key || ':cms:' || g.r), 1, 8))
              AS BIGINT) % 256 AS c
          FROM probes p, generate_series(0, 3) g(r)),
        est AS (SELECT key, exact,
            CAST(MIN(COALESCE(cms.cnt, 0)) AS BIGINT) AS est
          FROM pc LEFT JOIN cms ON pc.r = cms.r AND pc.c = cms.c
          GROUP BY key, exact)
        SELECT key, est, exact, est - exact AS overestimate
        FROM est ORDER BY key""")),
    // per-source cardinality monitor: keyed HLL — one scan gives every
    // source its distinct-3-gram estimate (the per-tenant/per-day
    // rollup shape); exact counts + error ride along
    QuerySpec("q146_hll_by_source", (s, d) => {
      val keys = t(s, d, "documents")
        .select(col("source"), Dedup.tokens(col("text")).as("tk"))
        .select(col("source"),
          explode(Dedup.shinglesOf(col("tk"), 3)).as("key"))
        .where(length(col("key")) > 0)
      val regs = Sketch.hllRegistersBy(keys, Seq("source"), "key", 8)
      val est = Sketch.hllEstimateBy(regs, Seq("source"), 8)
      val exact = keys.groupBy("source")
        .agg(countDistinct(col("key")).cast("long").as("exact_distinct"))
      est.join(exact, "source")
        .select(col("source"), col("n_nonzero"), col("est"),
          col("exact_distinct"),
          floor(abs(col("est") - col("exact_distinct")) * 1000000.0 /
            col("exact_distinct")).cast("long").as("err_ppm"))
        .orderBy("source")
    },
    // q146: q131's oracle grouped by source — same hash/register
    // split, same exact-integer staging per group, same constant
    Some {
      val m = 256
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val c = alpha * m * m * 2305843009213693952.0d
      s"""WITH t AS (SELECT source, $toksSql AS tk FROM documents),
        keys AS (SELECT source, unnest(list_transform(
            generate_series(1, greatest(len(tk) - 2, 1)),
            i -> array_to_string(tk[i:i+2], ' '))) AS key FROM t),
        k AS (SELECT source, key FROM keys WHERE length(key) > 0),
        h AS (SELECT source,
          CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) AS hv,
          key FROM k),
        r AS (SELECT source, hv // 4503599627370496 AS reg,
          hv % 4503599627370496 AS w FROM h),
        rr AS (SELECT source, reg, MAX(CASE WHEN w = 0 THEN 53
          ELSE 52 - (length(bin(w)) - 1) END) AS rho_max
          FROM r GROUP BY source, reg),
        agg AS (SELECT source, COUNT(*) AS n_nonzero,
          SUM(2305843009213693952 >> rho_max) AS s_nz
          FROM rr GROUP BY source),
        z AS (SELECT source, n_nonzero, CAST(s_nz +
          CAST($m - n_nonzero AS HUGEINT) *
          CAST(2305843009213693952 AS HUGEINT) AS DOUBLE) AS z61
          FROM agg),
        e AS (SELECT source, CAST(n_nonzero AS BIGINT) AS n_nonzero,
          round(CASE WHEN ($c / z61) <= ${2.5 * m} AND
              ($m - n_nonzero) > 0
            THEN $m.0 * ln($m.0 / CAST($m - n_nonzero AS DOUBLE))
            ELSE $c / z61 END, 6) AS est FROM z),
        x AS (SELECT source, COUNT(DISTINCT key) AS exact_distinct
          FROM k GROUP BY source)
        SELECT e.source, n_nonzero, est,
          CAST(exact_distinct AS BIGINT) AS exact_distinct,
          CAST(floor(abs(est - exact_distinct) * 1000000.0 /
            exact_distinct) AS BIGINT) AS err_ppm
        FROM e JOIN x ON e.source = x.source ORDER BY e.source"""
    }),
    // near-dup candidates without MinHash: pigeonhole-blocked simhash
    // pairs (Manku et al., WWW 2007) — exact recall for hamming <= 1
    // on the portable 16-bit fingerprint (2 blocks x 8 bits); the
    // production path is 64-bit / 4 blocks / hamming <= 3 (OpsSpec)
    QuerySpec("q153_simhash_pairs", (s, d) =>
      Dedup.simhashNearDupPairs(
          t(s, d, "documents").select(
            col("doc_id").cast("long").as("doc_id"), col("text")),
          "doc_id", "text", bits = 16, nBlocks = 2, maxHamming = 1)
        .orderBy("a", "b"),
    // q153: same pigeonhole construction — 2 bands of 8 bits over the
    // portable 16-bit simhash, bucket self-join, exact popcount verify
    Some(s"""WITH $simhashPairsCtesSql
        SELECT a, b, hamming FROM cand WHERE hamming <= 1
        ORDER BY a, b""")),
    // near-dup clustering through the simhash pigeonhole pairs — the
    // one-long-per-doc alternative to the minhash path (q32). The
    // 16-bit portable fingerprint's random hamming-collisions chain
    // into long-diameter components; canonicalize's star contraction
    // bounds their rounds at O(log n), not diameter (at the
    // production 64 bits the spurious chains vanish entirely)
    QuerySpec("q167_simhash_cluster", (s, d) => {
      val docs = t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"), col("text"))
      val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        bits = 16, nBlocks = 2, maxHamming = 1)
      Dedup.canonicalize(docs, "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // q167: the q153 pair chain + the q32 recursive component fold
    Some(s"""WITH RECURSIVE $simhashPairsCtesSql,
        edges AS (SELECT a, b FROM cand WHERE hamming <= 1
          UNION SELECT b, a FROM cand WHERE hamming <= 1),
        comp(id, canon) AS (
          SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT)
            FROM documents
          UNION
          SELECT e.a, c.canon FROM edges e JOIN comp c ON c.id = e.b)
        SELECT id AS doc_id, MIN(canon) AS canonical_id
        FROM comp GROUP BY 1 ORDER BY 1""")),
    // suffix-array-grade exact-substring machinery (the round-3
    // deferred item): Manber-Myers prefix doubling as relational
    // rounds + the LCP array from the doubling tables
    QuerySpec("q155_suffix_array", (s, d) =>
      ops.SuffixArray.saWithLcp(t(s, d, "documents"), "doc_id", "text")
        .orderBy("sa_rank"),
    // q155: the oracle sorts the ACTUAL suffix token-lists (DuckDB
    // lexicographic list order = the doubling construction's order,
    // shorter-prefix first) and takes lcp by direct prefix compare
    Some(s"""WITH $saCtesSql,
        w2 AS (SELECT id, pos, sa_rank, psuf,
            least(len(suf), len(psuf)) AS mm,
            list_position(list_transform(
              generate_series(1, least(len(suf), len(psuf))),
              j -> suf[j] = psuf[j]), false) AS fd
          FROM w)
        SELECT id, pos, sa_rank,
          CAST(CASE WHEN psuf IS NULL THEN 0
            WHEN COALESCE(fd, 0) = 0 THEN mm ELSE fd - 1 END AS BIGINT)
            AS lcp
        FROM w2 ORDER BY sa_rank""")),
    // exact duplicated spans from the SA: positions whose suffix
    // shares >= 8 leading tokens with an SA neighbor = 8-gram occurs
    // twice anywhere in the corpus, with the MAXIMAL repeat length.
    // Derives from the SHARED memoized SA artifact (sharedSa) — the
    // production build-once-persist shape: q155 times the
    // construction itself; this query times the derive pass over the
    // materialized (id, pos, sa_rank, lcp) table, so a bench run pays
    // the doubling chain once, not twice
    QuerySpec("q156_sa_dup_spans", (s, d) =>
      ops.SuffixArray.duplicatedPositionsFromSa(sharedSa(s, d),
          minTokens = 8)
        .orderBy("id", "pos"),
    // q156: same SA chain; dup_len = greatest(lcp_prev, lcp_next)
    // (max common prefix with ANY other suffix is with an SA neighbor)
    Some(s"""WITH $saCtesSql,
        w2 AS (SELECT id, pos, sa_rank,
            CASE WHEN psuf IS NULL THEN 0 ELSE (
              CASE WHEN COALESCE(list_position(list_transform(
                  generate_series(1, least(len(suf), len(psuf))),
                  j -> suf[j] = psuf[j]), false), 0) = 0
                THEN least(len(suf), len(psuf))
                ELSE list_position(list_transform(
                  generate_series(1, least(len(suf), len(psuf))),
                  j -> suf[j] = psuf[j]), false) - 1 END) END AS lcp
          FROM w),
        nx AS (SELECT id, pos, lcp,
            lead(lcp) OVER (ORDER BY sa_rank) AS lcp_next
          FROM w2)
        SELECT id, pos,
          CAST(greatest(lcp, COALESCE(lcp_next, 0)) AS BIGINT) AS dup_len
        FROM nx WHERE greatest(lcp, COALESCE(lcp_next, 0)) >= 8
        ORDER BY id, pos""")),
    // dedup: asymmetric containment near-dup via rare-shingle blocking
    // — planted excerpt docs (first 12 tokens of every id%10==5 doc,
    // re-keyed +1e6) must surface with contain_b = 1e6 even though
    // their Jaccard vs the parent is low; blocking shuffles 32-bit
    // shingle hashes only, exact re-check per candidate pair
    QuerySpec("q95_containment", (s, d) => {
      val base = tSpread(s, d, "documents")
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val subs = base.filter(pmod(col("id"), lit(10)) === 5)
        .select((col("id") + 1000000L).as("id"),
          array_join(slice(graft.ops.Dedup.tokens(col("text")), 1, 12),
            " ").as("text"))
      graft.ops.Dedup.containmentPairs(base.union(subs), "id", "text",
        n = 3, maxShingleDf = 16, minContainPpm = 900000L)
        .orderBy("a", "b")
    },
    // q95: the same rare-shingle blocking + exact list_intersect
    // re-check in SQL; same 32-bit md5-prefix blocking hash, same
    // integer-ppm truncation
    Some(s"""WITH b0 AS (SELECT CAST(doc_id AS BIGINT) AS id, text
          FROM documents),
        sub AS (SELECT id + 1000000 AS id,
            array_to_string(($toksSql)[1:12], ' ') AS text
          FROM b0 WHERE id % 10 = 5),
        allr AS (SELECT id, text FROM b0
          UNION ALL SELECT id, text FROM sub),
        sh AS (SELECT id, ${shingleSql(3)} AS sh FROM allr),
        thin AS (SELECT DISTINCT id,
            CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h
          FROM (SELECT id, unnest(sh) AS s FROM sh)),
        hset AS (SELECT id, list(h) AS hs FROM thin GROUP BY id),
        dft AS (SELECT h, COUNT(*) AS dfc FROM thin GROUP BY h
          HAVING COUNT(*) BETWEEN 2 AND 16),
        blocked AS (SELECT id, thin.h FROM thin JOIN dft USING (h)),
        cand AS (SELECT DISTINCT l.id AS a, r.id AS b
          FROM blocked l JOIN blocked r
            ON l.h = r.h AND l.id < r.id),
        sc AS (SELECT a, b,
            CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS inter,
            CAST(len(sa.hs) AS BIGINT) AS sza,
            CAST(len(sb.hs) AS BIGINT) AS szb
          FROM cand JOIN hset sa ON cand.a = sa.id
            JOIN hset sb ON cand.b = sb.id),
        f AS (SELECT a, b, inter, sza, szb,
          CAST(CASE WHEN sza > 0 THEN (inter * 1000000) // sza
            ELSE 0 END AS BIGINT) AS contain_a_ppm,
          CAST(CASE WHEN szb > 0 THEN (inter * 1000000) // szb
            ELSE 0 END AS BIGINT) AS contain_b_ppm FROM sc)
        SELECT * FROM f
        WHERE GREATEST(contain_a_ppm, contain_b_ppm) >= 900000
        ORDER BY a, b""")),
    // dedup: edit-distance verification of LSH candidates — MinHash
    // est_jaccard is order-blind (word-salads over one vocabulary can
    // score ≈1), levenshtein on the raw text is the order-sensitive
    // confirmation; planted one-token-prefix mutants survive the gate,
    // set-similar-but-reordered organic pairs die. Text moves only for
    // candidate pairs (two id-keyed joins), never corpus-wide
    QuerySpec("q98_edit_verified", (s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val mut = base.filter(pmod(col("id"), lit(17)) === 4)
        .select((col("id") + 2000000L).as("id"),
          concat(lit("zqx "), col("text")).as("text"))
      Dedup.editVerifiedPairs(base.union(mut), "id", "text",
        k = 16, bands = 8, minEstJaccard = 0.5, maxBucket = 64,
        maxDistPpm = 200000L)
        .orderBy("a", "b")
    },
    // q98: the same LSH candidate CTEs over the mutant-augmented
    // corpus, then DuckDB's own levenshtein + the same integer-ppm
    // normalization — both engines' stock edit distance must agree
    Some(s"""WITH aug AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
          UNION ALL
          SELECT CAST(doc_id AS BIGINT) + 2000000, 'zqx ' || text
          FROM documents WHERE CAST(doc_id AS BIGINT) % 17 = 4),
        ${lshPairsCtesOver(1, maxBucket = 64, src = "aug")},
        v AS (SELECT a, b, est_jaccard FROM pairs
          WHERE est_jaccard >= 0.5),
        j AS (SELECT v.a, v.b, v.est_jaccard,
            CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
            CAST(GREATEST(len(da.text), len(db.text)) AS BIGINT)
              AS max_len
          FROM v JOIN aug da ON da.doc_id = v.a
          JOIN aug db ON db.doc_id = v.b)
        SELECT a, b, est_jaccard, edit_dist, dist_ppm FROM (
          SELECT a, b, est_jaccard, edit_dist,
            CAST(CASE WHEN max_len > 0
              THEN (edit_dist * 1000000) // max_len ELSE 0 END
              AS BIGINT) AS dist_ppm
          FROM j)
        WHERE dist_ppm <= 200000 ORDER BY a, b""")),
    // dedup: winnowed-fingerprint passage overlap (Schleimer et al.
    // 2003, MOSS) — docs with doc_id%23==7 get a 24-token passage
    // appended; the winnowing local guarantee (shared run ≥ w+k-1 =
    // 11 tokens ⇒ ≥1 shared fingerprint) makes every planted pair
    // surface even though whole-doc Jaccard is low — the case the
    // global MinHash sketch (q28) structurally misses
    QuerySpec("q101_winnow", (s, d) => {
      val did = col("doc_id").cast("long")
      val docs = tSpread(s, d, "documents").select(did.as("id"),
        when(pmod(did, lit(23)) === 7,
          concat_ws(" ", col("text"), lit(PlantPassage)))
          .otherwise(col("text")).as("text"))
      graft.ops.Dedup.winnowPairs(docs, "id", "text",
        k = 4, w = 8, maxFpDf = 64, minOverlapPpm = 50000L)
        .orderBy("a", "b")
    },
    // q101: winnowing recomputed from scratch — word-4-gram 32-bit
    // hashes, window-of-8 minima (distinct per doc; positions drop out
    // of the pair semantics), rare-fp blocking in [2,64], exact
    // distinct-fp intersection, min-normalized integer-ppm overlap
    Some(s"""WITH b0 AS (SELECT CAST(doc_id AS BIGINT) AS id,
          CASE WHEN CAST(doc_id AS BIGINT) % 23 = 7
            THEN text || ' ' || '${sqlLit(PlantPassage)}'
            ELSE text END AS text
          FROM documents),
        tk AS (SELECT id, $toksSql AS tk FROM b0),
        g AS (SELECT id, list_transform(
            generate_series(0, len(tk) - 4),
            i -> CAST(('0x' || substr(md5(
              array_to_string(tk[i+1:i+4], ' ')), 1, 8)) AS BIGINT))
            AS hs
          FROM tk WHERE len(tk) >= 4),
        w AS (SELECT id, hs, LEAST(8, len(hs)) AS ew FROM g),
        fps AS (SELECT id, list_distinct(list_transform(
            generate_series(1, len(hs) - ew + 1),
            i -> list_min(hs[i:i+ew-1]))) AS fpl FROM w),
        thin AS (SELECT id, unnest(fpl) AS fp FROM fps),
        dft AS (SELECT fp FROM thin GROUP BY fp
          HAVING COUNT(*) BETWEEN 2 AND 64),
        blocked AS (SELECT id, thin.fp FROM thin JOIN dft USING (fp)),
        cand AS (SELECT DISTINCT l.id AS a, r.id AS b
          FROM blocked l JOIN blocked r
            ON l.fp = r.fp AND l.id < r.id),
        sc AS (SELECT a, b,
            CAST(len(list_intersect(sa.fpl, sb.fpl)) AS BIGINT)
              AS shared_fps,
            CAST(len(sa.fpl) AS BIGINT) AS a_fps,
            CAST(len(sb.fpl) AS BIGINT) AS b_fps
          FROM cand JOIN fps sa ON cand.a = sa.id
            JOIN fps sb ON cand.b = sb.id)
        SELECT a, b, shared_fps, a_fps, b_fps,
          shared_fps * 1000000 // LEAST(a_fps, b_fps) AS overlap_ppm
        FROM sc
        WHERE shared_fps * 1000000 // LEAST(a_fps, b_fps) >= 50000
        ORDER BY a, b""")),
    // dedup: incremental ingestion — classify the new batch (doc_id >=
    // 400) against the existing corpus (< 400): planted shared bodies
    // make 10 exact dups (%10==0) and 10 near dups (%10==1, one extra
    // trailing clause); everything else is `new`
    QuerySpec("q66_incr_dedup", (s, d) => {
      val corpus = incrCorpus(s, d)
      val index = corpus.filter(col("doc_id") < 400)
      val fresh = corpus.filter(col("doc_id") >= 400)
      Dedup.dedupAgainstIndex(fresh, index, "doc_id", "text",
        k = 16, bands = 8, minEstJaccard = 0.5, shingleN = 3)
        .orderBy("doc_id")
    },
    // q66: same planted bodies; pairs from the shared LSH CTEs over the
    // synthesized corpus, cross-side = (a < 400 <= b) since ids are
    // disjoint and pairs are a < b; exact via fingerprint join
    Some {
      def bodySql(k: String): String =
        s"""'the archived corpus body ' || CAST($k AS VARCHAR) ||
          ' alpha bravo charlie delta echo foxtrot golf hotel india' ||
          ' juliet kilo lima mike november oscar papa'"""
      s"""WITH corpus AS (SELECT doc_id, CASE
          WHEN doc_id < 400 AND doc_id % 40 = 0
            THEN ${bodySql("doc_id // 40")}
          WHEN doc_id >= 400 AND doc_id % 10 = 0
            THEN ${bodySql("(doc_id - 400) // 10")}
          WHEN doc_id >= 400 AND doc_id % 10 = 1
            THEN ${bodySql("(doc_id - 401) // 10")}
              || ' with one extra trailing clause appended here'
          ELSE text END AS text
          FROM documents),
        ${lshPairsCtesOver(3, 0, "corpus")},
        cr AS (SELECT a, b FROM pairs WHERE est_jaccard >= 0.5
          AND a < 400 AND b >= 400),
        nr AS (SELECT b AS id, MIN(a) AS nd FROM cr GROUP BY b),
        fps AS (SELECT doc_id, md5(text) AS fp FROM corpus),
        ex AS (SELECT n.doc_id AS id, MIN(i.doc_id) AS xd
          FROM fps n JOIN fps i ON n.fp = i.fp
          WHERE n.doc_id >= 400 AND i.doc_id < 400 GROUP BY 1)
        SELECT d.doc_id,
          CASE WHEN xd IS NOT NULL THEN 'exact'
            WHEN nd IS NOT NULL THEN 'near' ELSE 'new' END AS verdict,
          COALESCE(xd, nd) AS dup_of
        FROM (SELECT doc_id FROM corpus WHERE doc_id >= 400) d
        LEFT JOIN ex ON d.doc_id = ex.id
        LEFT JOIN nr ON d.doc_id = nr.id
        ORDER BY d.doc_id"""
    })
  )
}
