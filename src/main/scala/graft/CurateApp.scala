package graft

import graft.io.StagedJob
import graft.ops.Curation
import org.apache.spark.sql.functions._

/** spark-submit entry point for the corpus-curation pipeline (the
  * GraftApp counterpart for the training-data side).
  *
  * Usage:
  *   spark-submit --class graft.CurateApp <jar> \
  *     --input <documents parquet | pages:<pages parquet> | pages:synth:N \
  *              | warc:<archive dir> | warc:synth:N> \
  *     --output <dir> \
  *     [--id doc_id] [--text text] [--min-tokens 10] [--para-min-docs 3] \
  *     [--span-scrub-n 8 | --sa-scrub-n 8] [--max-rare-bigram-ppm 400000] \
  *     [--audit-leakage true] [--write-index true | --index <priorOut>] \
  *     [--resample-keep 0.5 [--resample-alpha 0.5]] [--seq-len 2048 [--shards 64]]
  *     [--zorder true [--zorder-files 16]]
  *     [--mix-budget 20000 [--mix-weights en:400000,de:200000,...]]
  *     [--hll-stats true]
  *
  * Incremental ingestion: a bootstrap run with --write-index true
  * persists <out>/index_sigs; a later batch run with --index <priorOut>
  * classifies its curated docs against those signatures (exact / near /
  * new), keeps ONLY the new docs, and writes the merged index forward.
  * --audit-leakage true adds the split-leakage audit as a final stage
  * fed by the near-dup stage's own LSH pairs.
  *
  * The `pages:` input forms run the HTML boilerplate-strip extraction
  * front end first (ExtractionPipeline.pageTexts) and curate its
  * main_text — raw crawl HTML → curated, packed training sequences in
  * one submit. The `warc:` forms do the same but ingest the pages from
  * a WARC-subset archive directory (io/Warc splittable read);
  * `warc:synth:N` serializes N generator pages through a real archive
  * under $output first, so one submit exercises the full crawl-dump
  * path: archive write → splittable read → extract → curate → pack.
  *
  * Runs Curation.curateStaged (4 stage-checkpointed corpus-global
  * stages; a killed run resumes from the first uncommitted stage), then
  * optionally temperature-resamples languages (--resample-keep), lands
  * the corpus under $output/curated partitioned by the deterministic
  * train/val/test hash split, and (--seq-len) packs the train split
  * into fixed-length training sequences, landing the thin assignment
  * table under $output/packed. Re-invoking on a complete output is a
  * no-op apart from the final writes — the full corpus → training-
  * sequences pipeline in one submit.
  */
object CurateApp {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val input = opts.getOrElse("input", "/root/testdata/sf0.01/documents.parquet")
    val output = opts.getOrElse("output", "/tmp/graft_curate_out")
    val idCol = opts.getOrElse("id", "doc_id")
    val textCol = opts.getOrElse("text", "text")

    val spark = GraftSession.submit("graft-curate")

    val (docs, idCol0, textCol0) =
      if (input.startsWith("pages:") || input.startsWith("warc:")) {
        import spark.implicits._
        val pages: org.apache.spark.sql.Dataset[graft.model.Page] =
          if (input.startsWith("warc:")) {
            // WARC archive ingestion: payloads are the raw page HTML.
            // warc:synth:N serializes N generator pages through a real
            // archive under $output first — the full crawl-dump path
            // (write → splittable read → parse) in one submit; the
            // archive epoch stands in for per-record WARC-Date (the
            // subset parser doesn't surface it)
            val src = input.stripPrefix("warc:")
            val dir =
              if (src.startsWith("synth:")) {
                val d = s"$output/_warc_synth"
                graft.io.Warc.writeWarc(
                  graft.gen.PagesGen.pages(spark,
                      src.stripPrefix("synth:").toLong)
                    .select(col("url"),
                      col("html").cast("string").as("payload"))
                    .repartition(8, col("url")),
                  "url", "payload", d)
                d
              } else src
            graft.io.Warc.readWarc(spark, dir)
              .select(col("url"),
                lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
                  .as("warc_ts"),
                col("payload").cast("binary").as("html"),
                lit("").as("text"), lit("").as("lang"))
              .as[graft.model.Page]
          } else {
            val src = input.stripPrefix("pages:")
            if (src.startsWith("synth:"))
              graft.gen.PagesGen.pages(spark, src.stripPrefix("synth:").toLong)
            else spark.read.parquet(src).as[graft.model.Page]
          }
        // extraction front end: boilerplate-stripped main text; doc id
        // = the portable 32-bit url hash (stable, engine-reproducible)
        val texts = graft.pipeline.ExtractionPipeline.pageTexts(pages)
          .select(graft.functions.Md5Prefix32(col("url")).as("doc_id"),
            col("lang"), col("main_text").as("text"))
        (texts.toDF(), "doc_id", "text")
      } else (spark.read.parquet(input), idCol, textCol)
    val t0 = System.nanoTime()
    // --span-scrub-n 8: corpus-level exact-substring scrub stage
    // (single parse: the curateStaged call and the stage accounting
    // below both take their stage names from Curation.curateStages).
    // --sa-scrub-n 8: the suffix-array EXACT form of the same stage
    // (any-repeat semantics, no gram-hash space to saturate) — the
    // two are mutually exclusive spellings of stage 2b
    val ngramScrubN = opts.getOrElse("span-scrub-n", "0").toInt
    val saScrubN = opts.getOrElse("sa-scrub-n", "0").toInt
    require(ngramScrubN <= 0 || saScrubN <= 0,
      "--span-scrub-n and --sa-scrub-n are mutually exclusive")
    val scrubSa = saScrubN > 0
    val spanScrubN = if (scrubSa) saScrubN else ngramScrubN
    val splits = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    // --audit-leakage true: persist the near-dup stage's LSH pairs and
    // run the split-leakage audit off them as a final committed stage
    // (one candidate-generation pass serves dedup + audit)
    val auditLeakage = opts.get("audit-leakage").exists(_.toBoolean)
    // --max-rare-bigram-ppm 400000: optional fluency gate (drop docs
    // whose rare-transition fraction exceeds the ceiling) before the
    // LSH stages
    val maxRare = opts.getOrElse("max-rare-bigram-ppm", "-1").toLong
    // --fre-band lo:hi (milli): optional Flesch reading-ease window —
    // drop word salad (too high) and degenerate run-ons (too low)
    // before the LSH stages
    val freBand = opts.get("fre-band").map { v =>
      val parts = v.split(":", 2)
      require(parts.length == 2 && parts.forall(_.nonEmpty),
        s"--fre-band expects lo:hi (milli), got '$v'")
      val (lo, hi) = (parts(0).toLong, parts(1).toLong)
      require(lo <= hi, s"--fre-band lo > hi ($lo > $hi): empty band")
      (lo, hi)
    }
    val curated = Curation.curateStaged(docs, idCol0, textCol0, output,
      minTokens = opts.getOrElse("min-tokens", "10").toInt,
      paraMinDocs = opts.getOrElse("para-min-docs", "3").toInt,
      spanScrubN = spanScrubN,
      auditSplits = if (auditLeakage) Some(splits) else None,
      maxRareBigramPpm = maxRare,
      freBandMilli = freBand,
      spanScrubSa = scrubSa)
    // --index <prior output dir>: incremental-ingestion mode — classify
    // every curated batch doc against the PERSISTED corpus index
    // signatures (exact / near / new), keep ONLY the new docs (the
    // whole point of incremental ingestion: an already-ingested doc
    // must not re-enter the corpus or the packed sequences), and merge
    // their signatures into this run's index. A run without --index
    // bootstraps the index from its own curated corpus (skippable with
    // --write-index false when no ingestion chain follows — the
    // signature pass over the corpus isn't free).
    // default: maintain the index only when this run is part of an
    // ingestion chain (--index) — a standalone curate shouldn't pay the
    // full-corpus signature pass; bootstrap a chain with
    // --write-index true
    val writeIndex = opts.get("write-index").map(_.toBoolean)
      .getOrElse(opts.contains("index"))
    val inPlace = opts.get("index").exists(p =>
      new java.io.File(p).getCanonicalFile ==
        new java.io.File(output).getCanonicalFile)
    if (inPlace)
      System.err.println("[graft] CurateApp: --index equals --output. " +
        "Committed stages in this dir are REUSED (the resume " +
        "contract), so a NEW batch's --input is ignored where stages " +
        "are already committed — use a fresh --output per ingestion " +
        "batch. The final curated/packed writes are SKIPPED in this " +
        "mode (the landed corpus stays; only the index merges).")
    // index read with swap-crash recovery: if a previous run died
    // between the index swap's two renames, the last CONSISTENT table
    // is still at index_sigs_old (the moved-aside previous index);
    // re-running the batch re-merges into it
    def indexSigs(idxPath: String) = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val main = new org.apache.hadoop.fs.Path(s"$idxPath/index_sigs")
      val p = if (fs.exists(main)) main.toString
        else s"$idxPath/index_sigs_old"
      spark.read.parquet(p)
    }
    // batch signatures computed ONCE (materialized): they serve the
    // verdict join AND the index merge. lazy: --write-index false with
    // no --index never pays the signature pass
    lazy val batchSigs = graft.ops.Dedup.signatureTable(curated, idCol0,
      "clean_text", k = 16, shingleN = 3).localCheckpoint()
    val verdictCounts = opts.get("index").map { idxPath =>
      val sigs = indexSigs(idxPath)
      graft.ops.Dedup.dedupAgainstIndexSigs(curated, idCol0,
        "clean_text", sigs, k = 16, bands = 8, minEstJaccard = 0.5,
        shingleN = 3, precomputedNewSigs = Some(batchSigs))
        .write.mode("overwrite").parquet(s"$output/index_verdicts")
      spark.read.parquet(s"$output/index_verdicts")
        .groupBy("verdict").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // downstream corpus = new docs only in --index mode
    val accepted = opts.get("index") match {
      case Some(_) =>
        curated.join(
          spark.read.parquet(s"$output/index_verdicts")
            .filter(col("verdict") === "new").select(idCol0),
          Seq(idCol0))
      case None => curated
    }
    // docs that actually LAND in the corpus: the optional language
    // resample runs BEFORE the index merge, so a doc dropped by
    // --resample-keep (never written to curated/packed) is not
    // recorded as ingested — the index tracks corpus membership, not
    // batch survival. Such a doc is re-OFFERED on a later batch
    // (verdict "new") and lands iff that batch's resample keeps it;
    // keep slots are a deterministic hash of the id, so at the same
    // keepFraction/shares it stays out (raise keepFraction to admit
    // more) rather than flapping in on a reroll. Deterministic, so the
    // two references below agree.
    val landed0 = opts.get("resample-keep") match {
      case Some(f) => Curation.temperatureResample(accepted, idCol0,
          "lang",
          alpha = opts.getOrElse("resample-alpha", "0.5").toDouble,
          keepFraction = f.toDouble)
        .filter(col("kept")).drop("keep_slots", "kept")
      case None => accepted
    }
    // --mix-budget B [--mix-weights en:400000,de:200000,...]: exact
    // water-filling mixture gate — per-language token allocations
    // toward the target weights under actual supply (mixWaterFill),
    // enforced per stratum by tokenBudgetAssign's deterministic
    // hash-order cut. Weights default to uniform over the languages
    // present; a language absent from an explicit weight list gets
    // weight 0 (allocated nothing). Runs BEFORE the index merge (same
    // contract as --resample-keep: the index tracks corpus membership,
    // and a doc the mix drops is re-offered on a later batch). The
    // collect is stratum-count rows.
    val mixAlloc = opts.get("mix-budget").map { b =>
      val withTok = landed0.withColumn("_mb_tok",
        graft.ops.TextAnalysis.tokenCount(col("clean_text")))
        .localCheckpoint()
      val weights = opts.get("mix-weights")
        .map(_.split(",").map { kv =>
          val Array(k, v) = kv.split(":"); k -> v.toLong }.toMap)
        .getOrElse {
          val langs = withTok.select("lang").distinct().collect()
            .flatMap(r => Option(r.getString(0)))
          val w = 1000000L / math.max(1, langs.length)
          langs.map(_ -> w).toMap
        }
      val fill = Curation.mixWaterFill(withTok, "lang", "_mb_tok",
        weights, b.toLong)
      val alloc = fill.collect().map(r =>
        Option(r.getString(0)).getOrElse("") ->
          r.getAs[Long]("alloc")).toMap
      val kept = Curation.tokenBudgetAssign(withTok, idCol0, "lang",
          "_mb_tok", alloc)
        .filter(col("kept")).select(col(idCol0).as("_mix_id"))
      (withTok.join(kept, col(idCol0) === col("_mix_id"), "leftsemi")
        .drop("_mb_tok"), alloc)
    }
    val landed = mixAlloc.map(_._1).getOrElse(landed0)
    if (writeIndex) {
      val acceptedSigs = opts.get("index") match {
        case Some(idxPath) =>
          // distinctive join-key names: with --id id the signature
          // table's own 'id' column would otherwise be ambiguous
          indexSigs(idxPath).unionByName(
            batchSigs.withColumnRenamed("id", "_bsig_id")
              .join(landed.select(col(idCol0).as("_acc_id")),
                col("_bsig_id") === col("_acc_id"), "leftsemi")
              .withColumnRenamed("_bsig_id", "id"))
        case None =>
          if (opts.contains("resample-keep"))
            batchSigs.withColumnRenamed("id", "_bsig_id")
              .join(landed.select(col(idCol0).as("_acc_id")),
                col("_bsig_id") === col("_acc_id"), "leftsemi")
              .withColumnRenamed("_bsig_id", "id")
          else batchSigs
      }
      // write-then-swap so --index <dir> --output <same dir> never
      // overwrites the parquet it is reading. Swap order keeps a
      // readable table through every crash window: new table lands at
      // tmp; old moves ASIDE (index_sigs_old — the read fallback);
      // tmp renames in; only then the backup is removed.
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(s"$output/index_sigs_tmp")
      val dst = new org.apache.hadoop.fs.Path(s"$output/index_sigs")
      val bak = new org.apache.hadoop.fs.Path(s"$output/index_sigs_old")
      acceptedSigs.write.mode("overwrite").parquet(tmp.toString)
      // clear the stale backup ONLY when dst exists to replace it: on
      // a crash-recovery re-run (dst absent, _old the only readable
      // copy) the backup must survive until the new table renames in.
      // Hadoop rename reports failure via its boolean — check it, or
      // a silent no-op leaves the index missing for the next batch.
      if (fs.exists(dst)) {
        fs.delete(bak, true)
        require(fs.rename(dst, bak), s"index swap: rename $dst -> $bak failed")
      }
      require(fs.rename(tmp, dst), s"index swap: rename $tmp -> $dst failed")
      fs.delete(bak, true)
    }
    // in-place mode never rewrites the landed corpus: `accepted` would
    // be the (usually empty) re-ingest delta, and overwriting
    // $output/curated with it would destroy the corpus this dir holds
    //
    // --zorder true: cluster the curated files on the Morton code of
    // (clean-text length, id hash) within each split — per-file min/max
    // stats then prune length-band scans (packing/curriculum consumers
    // select by length constantly) while the hash dim keeps point
    // lookups local; plain split-partitioned write otherwise
    val zorder = opts.get("zorder").exists(_.toBoolean)
    val zFiles = opts.getOrElse("zorder-files", "16").toInt
    if (!inPlace) {
      val withSplit = landed
        .withColumn("split", Curation.hashSplit(col(idCol0), splits))
      if (zorder) {
        // persist before the bounds collect: columnBounds is an eager
        // action, and without a materialization fence the whole landed
        // lineage (curation gate + index-verdict join + resample agg)
        // would execute twice — once for the bounds, once for the
        // write. (On a real Iceberg table the bounds come free from
        // the manifest stats and this fence disappears.)
        val keyed = withSplit
          .withColumn("_zl", length(col("clean_text")).cast("long"))
          .withColumn("_zh",
            graft.functions.Md5Prefix32(col(idCol0).cast("string")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val bounds =
            graft.ops.Layout.columnBounds(keyed, Seq("_zl", "_zh"))
          graft.ops.Layout.withZValue(keyed, Seq("_zl", "_zh"), bounds,
              bits = 12)
            .repartitionByRange(zFiles, col("split"), col("_z"))
            .sortWithinPartitions("split", "_z")
            .drop("_zl", "_zh", "_z")
            .write.mode("overwrite").partitionBy("split")
            .parquet(s"$output/curated")
        } finally keyed.unpersist(false)
      } else {
        withSplit.write.mode("overwrite").partitionBy("split")
          .parquet(s"$output/curated")
      }
    }
    // an EMPTY curated corpus (e.g. an incremental batch that was 100%
    // already-ingested) writes no parquet part files — reading the dir
    // back then fails schema inference, so the read-backs fall back to
    // an empty result instead of crashing the run at the finish line.
    // ONLY that case is swallowed: any other read failure must fail
    // the run, not masquerade as rows_out 0
    def readBackCount(path: String): Long =
      try spark.read.parquet(path).count()
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
              e.getMessage.contains("PATH_NOT_FOUND") => 0L
      }
    val outN = readBackCount(s"$output/curated")
    val packedN = opts.get("seq-len").map { sl =>
      if (outN == 0L || inPlace) 0L
      else {
        Curation.packSequences(
          spark.read.parquet(s"$output/curated")
            .filter(col("split") === "train"),
          idCol0, "clean_text", seqLen = sl.toInt,
          shards = opts.getOrElse("shards", "64").toInt)
          .write.mode("overwrite").parquet(s"$output/packed")
        readBackCount(s"$output/packed")
      }
    }
    val sec = (System.nanoTime() - t0) / 1e9

    val in = docs.count()
    val names = Curation.curateStages(spanScrubN, scrubSa, maxRare, freBand)
    val stages = names.run
      .map(s => s""""$s":${StagedJob.readRows(output, s).getOrElse(-1L)}""")
      .mkString("{", ",", "}")
    val leakJson =
      if (!auditLeakage) ""
      else {
        val aud = spark.read.parquet(s"$output/stage_${names.leakage}")
        def leaks(scope: String): Long = aud
          .filter(col("scope") === scope && col("leaks"))
          .agg(coalesce(sum("n_pairs"), lit(0L))).collect()(0).getLong(0)
        s""","leakage":{"before_dedup":${leaks("before_dedup")},""" +
          s""""after_dedup":${leaks("after_dedup")}}"""
      }
    val verdictJson = verdictCounts.map { m =>
      s""","index_verdicts":{"exact":${m.getOrElse("exact", 0L)},""" +
        s""""near":${m.getOrElse("near", 0L)},""" +
        s""""new":${m.getOrElse("new", 0L)}}"""
    }.getOrElse("")
    val mixJson = mixAlloc.map { case (_, alloc) =>
      s""","mix_alloc":${alloc.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}"""
    }.getOrElse("")
    // --hll-stats true: distinct-token cardinality of the landed
    // corpus from one scan + 2^12 register rows (the monitoring number
    // a 10^12-token corpus cannot afford a distinct() for)
    val hllJson =
      if (!opts.get("hll-stats").exists(_.toBoolean) || outN == 0L) ""
      else {
        val toks = spark.read.parquet(s"$output/curated")
          .select(explode(graft.ops.Dedup.tokens(col("clean_text")))
            .as("k"))
        val est = graft.ops.Sketch.hllEstimate(
          graft.ops.Sketch.hllRegisters(toks, "k", 12), 12)
          .head().getAs[Double]("est")
        s""","distinct_tokens_est":${est.toLong}"""
      }
    println(f"""{"rows_in":$in,"rows_out":$outN,"rows_packed":${
      packedN.getOrElse(-1L)},"stages":$stages,"sec":$sec%.2f$leakJson$verdictJson$mixJson$hllJson}""")
    spark.stop()
  }
}
