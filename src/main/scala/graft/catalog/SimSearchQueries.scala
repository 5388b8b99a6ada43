package graft
package catalog

import graft.ops.SimSearch
import org.apache.spark.sql.functions._
import Shared._

/** Vector similarity search ([[graft.ops.SimSearch]]): brute force,
  * LSH, IVF and IVF-PQ.
  */
object SimSearchQueries {
  /** q103 oracle: the full IVF-PQ chain in SQL — codebook rows sampled
    * by md5(id:43) exactly as SimSearch.pqCodebooks, per-subspace
    * encode by squared-L2 argmin (ties to the smaller centroid index),
    * the per-vector code row pivoted WIDE so the reconstructed norm
    * and the ADC dot are written as eight explicit left-associated
    * terms — matching the Spark side's reduce(_ + _) fold order; a
    * GROUP BY j SUM would add in engine-chosen order and can differ in
    * the last ulp, flipping the prank boundary — then exact-cosine
    * re-rank of the top 50 per query.
    */
  private lazy val q103Sql: String = {
    val m = 8; val dsub = 8; val ksub = 16; val nProbe = 4
    val rerank = 50
    val js = 0 until m
    def n2(e: String) =
      s"list_sum(list_transform(generate_series(1, $dsub), " +
        s"i -> $e[i] * $e[i]))"
    val codePivot = js.map(j =>
      s"max(CASE WHEN j = $j THEN ci END) AS c$j").mkString(", ")
    val subJoins = js.map(j =>
      s"JOIN cbsub s$j ON s$j.j = $j AND s$j.ci = w.c$j").mkString(" ")
    val subCols = js.map(j => s"s$j.ce AS e$j").mkString(", ")
    val rn2 = js.map(j => n2(s"e$j")).mkString(" + ")
    val adcTerms = js.map(j =>
      s"list_sum(list_transform(generate_series(1, $dsub), " +
        s"i -> vq.e[${j * dsub} + i] * e2.e$j[i]))").mkString(" + ")
    val qnorm = "sqrt(list_sum(list_transform(" +
      "generate_series(1, len(vq.e)), i -> vq.e[i] * vq.e[i])))"
    s"""WITH $ivfCellSqlCtes,
      cbrows AS (SELECT ci, e FROM (
        SELECT row_number() OVER (
            ORDER BY md5(concat(CAST(vec_id AS VARCHAR), ':43')),
              CAST(vec_id AS VARCHAR)) - 1 AS ci, e
        FROM v) WHERE ci < $ksub),
      cbsub AS (SELECT js.j, ci,
          list_slice(e, js.j * $dsub + 1, js.j * $dsub + $dsub) AS ce
        FROM cbrows CROSS JOIN
          (SELECT unnest(generate_series(0, ${m - 1})) AS j) js),
      enc0 AS (SELECT vv.vec_id, s.j, s.ci,
          list_sum(list_transform(generate_series(1, $dsub),
            i -> (vv.e[s.j * $dsub + i] - s.ce[i])
               * (vv.e[s.j * $dsub + i] - s.ce[i]))) AS d2
        FROM v vv CROSS JOIN cbsub s),
      codes AS (SELECT vec_id, j, ci FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j
          ORDER BY d2, ci) AS pr FROM enc0) WHERE pr = 1),
      codesw AS (SELECT vec_id, $codePivot FROM codes GROUP BY vec_id),
      enc2 AS (SELECT w.vec_id, $subCols FROM codesw w $subJoins),
      rn2t AS (SELECT vec_id, $rn2 AS rn2 FROM enc2),
      qp AS (SELECT vec_id AS query_id, ci AS cell FROM (
        SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
          ORDER BY s DESC, ci) AS pr FROM sims WHERE vec_id < 10)
        WHERE pr <= $nProbe),
      cand AS (SELECT qp.query_id, e2.vec_id AS corpus_id,
          ($adcTerms) / ($qnorm * sqrt(r2.rn2)) AS adc
        FROM qp JOIN cell cl ON cl.cell = qp.cell
        JOIN enc2 e2 ON e2.vec_id = cl.vec_id
        JOIN rn2t r2 ON r2.vec_id = cl.vec_id
        JOIN v vq ON vq.vec_id = qp.query_id
        WHERE qp.query_id != cl.vec_id),
      topc AS (SELECT query_id, corpus_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, corpus_id) AS prank FROM cand)
        WHERE prank <= $rerank),
      ex AS (SELECT t.query_id, t.corpus_id,
          ${cosSql("vq.e", "vc.e")} AS cosine
        FROM topc t JOIN v vq ON vq.vec_id = t.query_id
        JOIN v vc ON vc.vec_id = t.corpus_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, corpus_id) AS rank FROM ex)
      SELECT query_id, corpus_id, round(cosine, 6) AS cosine, rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** q18 oracle CTEs: the full multi-table multi-probe LSH ANN as
    * relational SQL — `tables` plane sets (seeds seed..seed+tables-1,
    * the SAME driver-side constants SimSearch.lshTopK embeds), corpus
    * bucket per (id, table), query buckets expanded by every probe mask
    * with popcount <= probeHamming, DISTINCT candidates, cosine rank.
    * Bucket sign bits use the left-to-right list_reduce fold
    * (bit-identical to Spark's aggregate() fold — a sign flip has no
    * rounding tolerance); the final cosine reuses the proven q17 twin.
    */
  private def annLshSql(tables: Int, nPlanes: Int, dim: Int, seed: Long,
      probeHamming: Int, k: Int): String = {
    val planeRows = (for {
      l <- 0 until tables
      (p, i) <- SimSearch.planes(nPlanes, dim, seed + l).zipWithIndex
    } yield s"($l, $i, ${planeListSql(p)})").mkString(", ")
    val maskRows = (0L until (1L << nPlanes))
      .filter(m => java.lang.Long.bitCount(m) <= probeHamming)
      .map(m => s"($m)").mkString(", ")
    s"""WITH v AS (SELECT vec_id AS id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        planes(t, pi, pv) AS (VALUES $planeRows),
        dots AS (SELECT v.id, p.t, p.pi,
          list_reduce(list_transform(generate_series(1, $dim),
            i -> v.e[i] * p.pv[i]), (acc, x) -> acc + x) AS dot
          FROM v CROSS JOIN planes p),
        b AS (SELECT id, t,
          CAST(SUM(CASE WHEN dot > 0 THEN (1 << pi) ELSE 0 END) AS BIGINT)
            AS bucket
          FROM dots GROUP BY id, t),
        masks(m) AS (VALUES $maskRows),
        qb AS (SELECT id AS query_id, t,
            xor(bucket, CAST(m AS BIGINT)) AS bucket
          FROM b CROSS JOIN masks WHERE id < 10),
        cand AS (SELECT DISTINCT qb.query_id, cb.id AS corpus_id
          FROM qb JOIN b cb ON cb.t = qb.t AND cb.bucket = qb.bucket
          WHERE cb.id != qb.query_id),
        s AS (SELECT cand.query_id, cand.corpus_id,
          list_sum(list_transform(generate_series(1, $dim),
            i -> q.e[i] * c.e[i])) /
          (sqrt(list_sum(list_transform(generate_series(1, $dim),
            i -> q.e[i] * q.e[i]))) *
           sqrt(list_sum(list_transform(generate_series(1, $dim),
            i -> c.e[i] * c.e[i])))) AS cosine
          FROM cand
          JOIN v q ON q.id = cand.query_id
          JOIN v c ON c.id = cand.corpus_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, corpus_id) AS rank FROM s)
        SELECT query_id, corpus_id, round(cosine, 6) AS cosine, rank
        FROM r WHERE rank <= $k ORDER BY query_id, rank"""
  }

  def specs: Seq[QuerySpec] = Seq(
    // simsearch: brute-force cosine top-k (baseline)
    QuerySpec("q17_cosine_topk", (s, d) => {
      val v = t(s, d, "embeddings")
      SimSearch.bruteForceTopK(v, v.filter(col("vec_id") < 10), "vec_id",
        "embedding", 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    },
    Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        s AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
          list_sum(list_transform(generate_series(1, len(q.e)),
            i -> q.e[i] * c.e[i])) /
          (sqrt(list_sum(list_transform(generate_series(1, len(q.e)),
            i -> q.e[i] * q.e[i]))) *
           sqrt(list_sum(list_transform(generate_series(1, len(c.e)),
            i -> c.e[i] * c.e[i])))) AS cosine
          FROM v q, v c
          WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, corpus_id) AS rank FROM s)
        SELECT query_id, corpus_id, round(cosine, 6) AS cosine, rank
        FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),
    // simsearch: LSH-bucketed ANN (scale path); oracle = the full
    // multi-table multi-probe candidate generation + cosine rank as SQL
    QuerySpec("q18_ann_lsh", (s, d) => {
      val v = t(s, d, "embeddings")
      SimSearch.lshTopK(v, v.filter(col("vec_id") < 10), "vec_id",
        "embedding", 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    },
    Some(annLshSql(tables = 4, nPlanes = 4, dim = 64,
      seed = 42L, probeHamming = 1, k = 5))),
    // simsearch: IVF-Flat ANN (sampled-centroid inverted file) — the
    // clustered-corpus scale path; fully oracle-checked (sampling,
    // assignment, probing, scoring are all relational)
    QuerySpec("q42_ann_ivf", (s, d) => {
      val v = t(s, d, "embeddings")
      SimSearch.ivfTopK(v, v.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nCells = 16, nProbe = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    },
    Some {
      s"""WITH $ivfCellSqlCtes,
        qp AS (SELECT vec_id AS query_id, ci AS cell FROM (
          SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
            ORDER BY s DESC, ci) AS pr FROM sims WHERE vec_id < 10)
          WHERE pr <= 4),
        sc AS (SELECT qp.query_id, cl.vec_id AS corpus_id,
          ${cosSql("vq.e", "vc.e")} AS cosine
          FROM qp JOIN cell cl ON cl.cell = qp.cell
          JOIN v vq ON vq.vec_id = qp.query_id
          JOIN v vc ON vc.vec_id = cl.vec_id
          WHERE qp.query_id != cl.vec_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, corpus_id) AS rank FROM sc)
        SELECT query_id, corpus_id, round(cosine, 6) AS cosine, rank
        FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
    }),
    // simsearch: IVF-PQ compressed ANN (Jégou et al. 2011) — the
    // memory-scale path: corpus vectors quantized to m=8 subspace
    // codes + one reconstructed norm, ADC approximate-cosine candidate
    // ranking inside the probed cells, exact re-rank of the top 50;
    // sampling, encoding, probing, ADC and re-rank all oracle-checked
    QuerySpec("q103_ann_ivfpq", (s, d) => {
      val v = t(s, d, "embeddings")
      SimSearch.ivfPqTopK(v, v.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nCells = 16, nProbe = 4, m = 8, ksub = 16,
        rerank = 50)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    },
    Some(q103Sql)),
    // ANN: one exact distributed Lloyd refinement pass over the IVF
    // coarse quantizer (decimal-exact component sums -> refined
    // centroid means, the quantizer-training step)
    QuerySpec("q51_ivf_refine", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = SimSearch.ivfCentroids(emb, "vec_id", "embedding", 16)
      SimSearch.ivfRefineSums(emb, "embedding", cents)
        .withColumn("cell", col("cell").cast("long"))
        .withColumn("pos", col("pos").cast("long"))
        .orderBy("cell", "pos")
    },
    Some(s"""WITH $ivfCellSqlCtes,
        ex AS (SELECT cl.cell, unnest(vv.e) AS x,
            unnest(generate_series(1, len(vv.e))) AS gi
          FROM cell cl JOIN v vv ON vv.vec_id = cl.vec_id),
        sums AS (SELECT cell, CAST(gi - 1 AS BIGINT) AS pos,
            COUNT(*) AS n, SUM(CAST(x AS DECIMAL(30,12))) AS s
          FROM ex GROUP BY 1, 2)
        SELECT cell, pos, CAST(n AS BIGINT) AS n_vecs,
          round(CAST(s AS DOUBLE) / n, 6) AS c
        FROM sums ORDER BY cell, pos""")),
    // JL sign projection: 64-dim embeddings shrunk to 16 dims with a
    // deterministic ±1 matrix; 50 pairs report original vs projected
    // cosine side by side — the dimensionality-reduction step that
    // runs candidate generation at d/m the FLOPs before exact re-rank
    QuerySpec("q128_jl_project", (s, d) => {
      val signs = SimSearch.jlSigns(16, 64)
      val e = t(s, d, "embeddings").select(
        col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val p = e.withColumn("pv",
        SimSearch.signProject(col("v"), signs))
      val a = p.where(col("vec_id") < 50).select(
        col("vec_id").as("pair_id"), col("v").as("va"),
        col("pv").as("pa"))
      val b = p.select((col("vec_id") - 250).as("pair_id"),
        col("v").as("vb"), col("pv").as("pb"))
        .where(col("pair_id") >= 0 && col("pair_id") < 50)
      a.join(b, "pair_id")
        .select(col("pair_id"),
          round(SimSearch.cosine(col("va"), col("vb")), 6)
            .as("cos_orig"),
          round(SimSearch.cosine(col("pa"), col("pb")), 6)
            .as("cos_proj"))
        .orderBy("pair_id")
    },
    // q128: the oracle re-derives the SAME sign matrix (jlSigns is
    // pure Scala — the literals below are its output) and both
    // cosines with in-order double folds, rounded like every other
    // cosine oracle
    Some {
      val signs = graft.ops.SimSearch.jlSigns(16, 64)
      def dotLit(e: String, row: Seq[Double]): String =
        s"""list_sum(list_transform(generate_series(1, ${row.length}),
           i -> $e[i] * (${row.mkString("[", ",", "]")})[i]))"""
      val projExprs = signs.map(rw => dotLit("e", rw)).mkString(",\n ")
      s"""WITH v AS (SELECT CAST(vec_id AS BIGINT) AS vid,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        pr AS (SELECT vid, e, [$projExprs] AS pe FROM v),
        pairs AS (SELECT a.vid AS pair_id, a.e AS ea, b.e AS eb,
            a.pe AS pa, b.pe AS pb
          FROM pr a JOIN pr b ON b.vid = a.vid + 250
          WHERE a.vid < 50)
        SELECT pair_id,
          round(${cosSql("ea", "eb")}, 6) AS cos_orig,
          round(${cosSql("pa", "pb")}, 6) AS cos_proj
        FROM pairs ORDER BY pair_id"""
    }),
    // drift monitoring: per-term Jensen-Shannon contributions between
    // two sources — names the DRIVERS of a distribution shift
    // margin mining over IVF candidates — the scale path of q102's
    // brute baseline (nothing quadratic materializes: x probes 4 of
    // 16 cells, pairs only with the right-side vectors there); margin
    // statistics exact over the candidate graph, quantizer shared
    // with q42/q103's oracle chain
    QuerySpec("q181_margin_ann", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = SimSearch.ivfCentroids(emb, "vec_id", "embedding", 16)
      SimSearch.marginMiningCandidates(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          emb.filter(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", cents, k = 4,
          minMarginPpm = 1000000L, nProbe = 4)
        .orderBy("x")
    },
    // q178: same full-outer counts + round-6 log2 contributions
    // q181: the q102 margin tail over IVF-candidate pairs — cells and
    // probe ranking from the SHARED ivfCellSqlCtes quantizer chain
    // (same deterministic md5 sampling, same s DESC, ci tie rule)
    Some(s"""WITH $ivfCellSqlCtes,
        xs AS (SELECT vec_id AS x, e FROM v WHERE vec_id % 2 = 0),
        ys AS (SELECT vec_id AS y, e FROM v WHERE vec_id % 2 = 1),
        ycell AS (SELECT ys.y, cell.cell FROM cell
          JOIN ys ON ys.y = cell.vec_id),
        xprobe AS (SELECT vec_id AS x, ci AS cell FROM (
            SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
              ORDER BY s DESC, ci) AS pr
            FROM sims WHERE vec_id % 2 = 0) WHERE pr <= 4),
        p AS (SELECT xp.x, yc.y,
            CAST(floor((${cosSql("xs.e", "ys.e")}) * 1000000) AS BIGINT)
              AS cos_ppm
          FROM xprobe xp JOIN ycell yc ON yc.cell = xp.cell
          JOIN xs ON xs.x = xp.x JOIN ys ON ys.y = yc.y),
        rx AS (SELECT x, y, cos_ppm, row_number() OVER (
            PARTITION BY x ORDER BY cos_ppm DESC, y) AS rk FROM p),
        ry AS (SELECT x, y, cos_ppm, row_number() OVER (
            PARTITION BY y ORDER BY cos_ppm DESC, x) AS rk FROM p),
        ax AS (SELECT x, CAST(SUM(cos_ppm) // COUNT(*) AS BIGINT)
            AS avg_x_ppm FROM rx WHERE rk <= 4 GROUP BY x),
        ay AS (SELECT y, CAST(SUM(cos_ppm) // COUNT(*) AS BIGINT)
            AS avg_y_ppm FROM ry WHERE rk <= 4 GROUP BY y),
        best AS (SELECT x, y, cos_ppm FROM rx WHERE rk = 1)
        SELECT best.x, best.y, best.cos_ppm, avg_x_ppm, avg_y_ppm,
          CAST((cos_ppm * 2000000) // (avg_x_ppm + avg_y_ppm) AS BIGINT)
            AS margin_ppm
        FROM best JOIN ax USING (x) JOIN ay USING (y)
        WHERE avg_x_ppm + avg_y_ppm > 0
          AND (cos_ppm * 2000000) // (avg_x_ppm + avg_y_ppm) >= 1000000
        ORDER BY best.x""")),
    // similarity: margin-based NN mining (Artetxe & Schwenk 2019 — the
    // LASER/CCMatrix bitext-mining criterion): even-id vectors mine
    // their forward-best odd-id neighbor, scored by the ratio margin
    // over both endpoints' top-4 neighborhood means; one cosine pass,
    // then pure integer arithmetic (exact in any execution order)
    QuerySpec("q102_margin_mining", (s, d) => {
      val emb = t(s, d, "embeddings")
      SimSearch.marginMining(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", k = 4, minMarginPpm = 1000000L)
        .orderBy("x")
    },
    // q102: the full margin criterion re-derived — same left-to-right
    // double cosine (floored to ppm once), integer top-4 neighborhood
    // means via truncating //, forward-best ranks, ratio margin.
    // DuckDB's // and Spark's div both truncate toward zero, so the
    // arithmetic agrees on negative cosines too.
    Some(s"""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        xs AS (SELECT vec_id AS x, e FROM v WHERE vec_id % 2 = 0),
        ys AS (SELECT vec_id AS y, e FROM v WHERE vec_id % 2 = 1),
        p AS (SELECT x, y,
            CAST(floor((${cosSql("xs.e", "ys.e")}) * 1000000) AS BIGINT)
              AS cos_ppm
          FROM xs CROSS JOIN ys),
        rx AS (SELECT x, y, cos_ppm, row_number() OVER (
            PARTITION BY x ORDER BY cos_ppm DESC, y) AS rk FROM p),
        ry AS (SELECT x, y, cos_ppm, row_number() OVER (
            PARTITION BY y ORDER BY cos_ppm DESC, x) AS rk FROM p),
        ax AS (SELECT x, CAST(SUM(cos_ppm) // COUNT(*) AS BIGINT)
            AS avg_x_ppm FROM rx WHERE rk <= 4 GROUP BY x),
        ay AS (SELECT y, CAST(SUM(cos_ppm) // COUNT(*) AS BIGINT)
            AS avg_y_ppm FROM ry WHERE rk <= 4 GROUP BY y),
        best AS (SELECT x, y, cos_ppm FROM rx WHERE rk = 1)
        SELECT best.x, best.y, best.cos_ppm, avg_x_ppm, avg_y_ppm,
          CAST((cos_ppm * 2000000) // (avg_x_ppm + avg_y_ppm) AS BIGINT)
            AS margin_ppm
        FROM best JOIN ax USING (x) JOIN ay USING (y)
        WHERE avg_x_ppm + avg_y_ppm > 0
          AND (cos_ppm * 2000000) // (avg_x_ppm + avg_y_ppm) >= 1000000
        ORDER BY best.x"""))
  )
}
