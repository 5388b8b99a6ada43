package graft


/** 10×-scale evidence harness — the round-4 verdict's top gap:
  * `/root/testdata` stops at sf0.1 (5k docs / 2k vectors), so every
  * scale claim above that rested on plan-shape arguments. This main
  * measures instead of arguing: it materializes the SAME deterministic
  * generated corpus (gen.DocsGen full-schema tables) at 1× and at
  * `factor`× (default 10× = 50k docs, ~10× token positions), runs a
  * battery of the heaviest catalog queries — the suffix array, the
  * dedup/clustering family, curation, retrieval, ANN — at both sizes
  * with the Bench warm-then-min-of-3 protocol, and reports the
  * time-growth ratio per query.
  *
  * Reading the ratio: per-query work here is ~linear in corpus size
  * (by design — that is the 100 TB claim being checked), so a healthy
  * ratio is ~factor (10) with sublinear ratios common where fixed
  * per-query overhead (planning, codegen, small-table passes)
  * dominates the 1× run. A ratio FAR above factor exposes a
  * super-linear stage — exactly the driver-action / stage-count
  * nonlinearity this harness exists to surface. (Host noise applies;
  * same caveats as Bench.)
  *
  * Usage: `runMain graft.BenchScale [outBase]` (default
  * /tmp/graft_scale); env SPARK_GRAFT_SCALE_N1 (default 5000),
  * SPARK_GRAFT_SCALE_FACTOR (default 10), SPARK_GRAFT_CPUS.
  * Prints one JSON line.
  */
object BenchScale {

  // heaviest catalog queries that read only documents/embeddings —
  // the SA + clustering + curation set the verdict named, plus the
  // LSH/ANN/retrieval heavies
  private val Battery = Seq(
    "q09_dedup_exact", "q14_minhash", "q28_minhash_lsh",
    "q32_dedup_cluster", "q43_curate", "q55_span_dedup",
    "q62_dedup_star", "q65_split_leakage", "q95_containment",
    "q97_bm25", "q101_winnow", "q109_heavy_hitters", "q174_burstiness",
    "q167_simhash_cluster", "q168_chunk_neardup",
    "q29_embed_neardup", "q42_ann_ivf", "q69_semantic_dedup",
    "q102_margin_mining", "q181_margin_ann", "q103_ann_ivfpq",
    "q155_suffix_array", "q156_sa_dup_spans")

  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/tmp/graft_scale")
    val n1 = sys.env.getOrElse("SPARK_GRAFT_SCALE_N1", "5000").toLong
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-bench-scale",
      GraftSession.SplitRules: _*)

    val scales = Seq(1, factor)
    val dirs = scales.map { s =>
      val dir = s"$outBase/x$s"
      gen.DocsGen.documentsTable(spark, n1 * s)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      gen.DocsGen.embeddingsTable(spark, (n1 * s * 2) / 5)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      s -> dir
    }.toMap

    def run(name: String, dir: String): (Double, Long) = {
      val fn = SparkEntry.queries(name)
      // release the PREVIOUS query's leaked localCheckpoint blocks:
      // they are unevictable storage, and ~40 accumulated 10×-sized
      // block sets squeeze execution memory to zero (measured:
      // q102@10× died UNABLE_TO_ACQUIRE with 24 GB heap before this).
      // Safe here: each query builds its own state from parquet; the
      // q156 shared-SA memo entry is created by the query's own warm
      // run, AFTER this point
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      try {
        val t0w = System.nanoTime()
        val rows = fn(spark, dir).count() // warm
        val warmSec = (System.nanoTime() - t0w) / 1e9
        val probes = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        System.err.println(
          f"[scale] $name @ $dir: warm $warmSec%.1f s min3 ${probes.min}%.1f s rows $rows")
        (probes.min, rows)
      } catch {
        case e: Throwable =>
          // isolate the failure: report it, keep the battery going
          System.err.println(s"[scale] $name @ $dir FAILED: " +
            e.toString.takeWhile(_ != '\n'))
          (-1.0, -1L)
      }
    }

    // all of 1× first, then all of factor× (parquet/footer caches
    // treated alike on both sides)
    val at1 = Battery.map(q => q -> run(q, dirs(1)))
    val atF = Battery.map(q => q -> run(q, dirs(factor)))
    val per = Battery.map { q =>
      val (s1, r1) = at1.toMap.apply(q)
      val (sf, rf) = atF.toMap.apply(q)
      val ratio = if (s1 > 0) sf / s1 else -1.0
      s""""$q":{"sec_1x":${f"$s1%.3f"},"sec_${factor}x":${f"$sf%.3f"},""" +
        s""""rows_1x":$r1,"rows_${factor}x":$rf,""" +
        s""""time_ratio":${f"$ratio%.2f"}}"""
    }.mkString("{", ",", "}")
    val t1 = at1.map(_._2._1).sum
    val tf = atF.map(_._2._1).sum
    println(s"""{"metric":"scale_evidence","n_docs_1x":$n1,""" +
      s""""factor":$factor,"cpus":$cpus,""" +
      s""""total_1x":${f"$t1%.3f"},"total_${factor}x":${f"$tf%.3f"},""" +
      s""""total_time_ratio":${f"${tf / t1}%.2f"},"queries":$per}""")
    spark.stop()
  }
}
