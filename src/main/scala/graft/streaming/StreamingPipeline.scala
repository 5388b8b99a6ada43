package graft.streaming

import graft.model.Page
import graft.pipeline.ExtractionPipeline
import graft.rules.{RuleSet, RuleSets}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference is pure batch
  * (/root/reference/soa_extractor/run.py:149 — a file loop), but the
  * extraction pipeline is a pure function Dataset[Page] → records, so it
  * runs unchanged under `foreachBatch` over any incremental source
  * (SURVEY §2.9). Watermarked windowed aggregation and custom
  * mapGroupsWithState sessionization cover the streaming operator
  * surface the engine offers beyond the reference.
  */
object StreamingPipeline {

  /** Incremental extraction: each micro-batch runs the SAME batch
    * pipeline (one semantics, two execution modes) and appends to the
    * output path partitioned by target_section.
    */
  def extractStream(pages: DataFrame, outPath: String,
      checkpoint: String, rs: RuleSet = RuleSets.plugin,
      partitions: Int = 8): DataStreamWriter[org.apache.spark.sql.Row] = {
    pages.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val recs = ExtractionPipeline.records(batch.as[Page], rs, partitions)
          .withColumn("_batch_id", lit(batchId))
        recs.write.mode("append")
          .partitionBy("target_section")
          .parquet(outPath)
      }
  }

  /** WARC-wave ingest chain: charset sniff + decode → page metadata →
    * admission verdict (noindex'd pages, soft-error shells and
    * unsupported charsets flagged). Stateless per-row Columns end to
    * end, so the SAME function serves the batch table and the
    * streaming source (one semantics, two execution modes) — no
    * watermark, no state store. `trustedHosts` (optional) arms the
    * homoglyph spoof gate: a page whose HOST folds to a trusted
    * host's confusable skeleton under a different raw spelling is
    * rejected at the door (`spoofed` rides along for audit) — the
    * per-row gate costs one `translate`, stateless like the rest of
    * the chain.
    */
  def ingestStream(pages: DataFrame, urlCol: String = "url",
      binCol: String = "payload",
      trustedHosts: Seq[String] = Seq.empty): DataFrame = {
    val dec = graft.extract.CharsetSniffer.decodePages(
      pages, urlCol, binCol)
    val html = col("text")
    val base = dec.select(col(urlCol), col("charset"),
        col("charset_supported"), col("n_bytes"),
        graft.extract.MetaExtractor.titleOf(html).as("title"),
        graft.extract.MetaExtractor.canonicalHrefOf(html)
          .as("canonical_raw"),
        graft.extract.MetaExtractor.robotsDirective(html, "noindex")
          .as("noindex"),
        graft.extract.ErrorPages.softErrorOf(html).as("soft_error"))
    val gated =
      if (trustedHosts.isEmpty) base.withColumn("spoofed", lit(false))
      else {
        val hosts = base.withColumn("_host",
          graft.ops.Curation.hostOf(col(urlCol)))
        graft.ops.Curation
          .spoofedHosts(hosts, "_host", trustedHosts)
          .drop("_host", "skeleton", "spoof_of")
      }
    gated.withColumn("admitted",
      !col("noindex") && !col("soft_error") &&
        col("charset_supported") && !col("spoofed"))
  }

  /** Watermarked event-time windowed aggregation over an events stream
    * (ts, event_type, value): 5-minute tumbling windows, 10-minute
    * watermark for late data.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("event_type"), col("n"),
        col("sum_value"))

  case class Ev(user_id: Long, ts_ms: Long, value: Double)
  case class SessionAgg(user_id: Long, n: Long, sum_value: Double,
      closed: Boolean)

  /** Custom keyed state: per-user running session aggregate
    * (KeyValueGroupedDataset.mapGroupsWithState — the reference's
    * in-batch retry state machine G5 generalized to keyed streaming
    * state). timeoutMs > 0 arms a processing-time idle timeout that
    * closes the session (timer-driven batches make the query run
    * continuously — use 0/NoTimeout for bounded test sources).
    */
  def sessionize(events: Dataset[Ev], timeoutMs: Long = 0)
      : Dataset[SessionAgg] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .mapGroupsWithState(timeoutConf) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            s.copy(closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionAgg(uid, 0L, 0.0,
              closed = false))
            var n = prev.n
            var sv = prev.sum_value
            evs.foreach { e => n += 1; sv += e.value }
            val next = SessionAgg(uid, n, sv, closed = false)
            state.update(next)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            next
          }
      }
  }

  /** Streaming exact dedup for a training-data ingest: drop documents
    * whose content hash was already seen, with a watermark bounding how
    * long seen-hashes state is retained (at 100 TB the state store
    * cannot hold every hash forever — the watermark is the standard
    * retention contract: a duplicate arriving later than the watermark
    * delay after its original may pass through).
    */
  def dedupStream(docs: DataFrame, tsCol: String = "ts",
      textCol: String = "text", watermarkDelay: String = "10 minutes")
      : DataFrame =
    docs
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("_h", md5(col(textCol)))
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")

  /** Streaming curation ingest: the per-document half of
    * Curation.curate (language + repetition gate, PII redaction) is
    * stateless, so it runs unchanged on a stream — the shape of a
    * live-crawl ingest front end. The corpus-global stages (paragraph
    * dedup, near-dup clustering) are inherently batch barriers and run
    * downstream over the landed table (curateStaged); the one streaming
    * dedup that IS possible online — exact content dedup with bounded
    * state — composes here via `dedupStream`'s watermark contract.
    */
  def curationGateStream(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String = "ts", minTokens: Int = 10,
      maxDupLinePpm: Long = 300000L,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.ops.{Curation, Dedup, TextAnalysis}
    val txt = col(textCol)
    // same materialize-once scan shape as the batch gateStage
    val gated = TextAnalysis.withLangId(
        docs.withColumn("_gtoks", Dedup.tokens(txt))
          .withColumn("_glines", Curation.docLines(txt)),
        textCol, "lang", toksCol = "_gtoks")
      .withColumn("_toks", size(col("_gtoks")).cast("long"))
      .withColumn("_dlp", Curation.dupLinePpm(col("_glines")))
      .filter(col("lang") =!= "und" && col("_toks") >= minTokens &&
        col("_dlp") <= maxDupLinePpm)
      .withColumn("red_text", Curation.piiRedact(txt))
      .drop("_gtoks", "_glines")
    dedupStream(gated, tsCol, "red_text", watermarkDelay)
      .select(col(idCol), col(tsCol), col("lang"), col("red_text"))
  }

  /** Streaming benchmark decontamination: flag incoming documents that
    * share word n-grams with a STATIC eval corpus — a stream-static
    * join, the Structured Streaming shape for "check the live ingest
    * against a fixed reference table". The benchmark side reduces to
    * distinct 8-byte gram hashes exactly as the batch operator does
    * (Curation.contaminationStats) and is joined per micro-batch; at
    * scale Spark broadcasts it once per batch, so the stream is never
    * shuffled.
    *
    * The doc's gram hashes explode into a thin (id, ts, hash) frame,
    * left-join the benchmark, and re-aggregate per (id, ts) — the
    * watermark bounds the streaming aggregation state. (Folding the
    * membership test into a per-row Column would need the benchmark as
    * a literal array — fine for toy sets, not for a real eval suite;
    * the join form scales with the benchmark.)
    *
    * Returns (idCol, tsCol, n_hit) in update mode semantics; compose
    * with a `n_hit === 0` filter for strict scrubbing.
    */
  def decontamStream(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, benchTextCol: String, tsCol: String = "ts",
      n: Int = 8, watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.ops.Dedup
    val benchGrams = bench
      .withColumn("_btoks", Dedup.tokens(col(benchTextCol)))
      .select(explode(filter(Dedup.shinglesOf(col("_btoks"), n),
        g => length(g) > 0)).as("_g"))
      .select(Dedup.tokHash(col("_g")).as("_gh"))
      .distinct()
    val thin = docs
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("_toks", Dedup.tokens(col(textCol)))
      .select(col(idCol), col(tsCol),
        explode_outer(transform(
          filter(Dedup.shinglesOf(col("_toks"), n), g => length(g) > 0),
          g => Dedup.tokHash(g))).as("_gh"))
    thin
      .join(broadcast(benchGrams.withColumnRenamed("_gh", "_bh")),
        col("_gh") === col("_bh"), "left")
      .groupBy(col(idCol), col(tsCol))
      .agg(sum(when(col("_bh").isNotNull, 1L).otherwise(0L)).as("n_hit"))
  }

  /** Streaming quality-model serving: score the live ingest with a
    * STATIC [[graft.ops.Curation.tokenClassWeights]] table — the
    * deploy shape of the trained hashed linear classifier (train
    * offline in batch, gate the stream with the frozen weights).
    * Same stream-static join pattern as [[decontamStream]]: tokens
    * explode to thin (id, ts, bucket) rows, the weight table
    * broadcasts per micro-batch, and the watermark bounds the per-doc
    * aggregation state. Scoring semantics are identical to the batch
    * [[graft.ops.Curation.scoreByTokenWeights]] (unseen buckets score
    * neutral 500000; integer mean; pred = mean > 500000).
    *
    * Returns (idCol, tsCol, n_tokens_scored, score_sum,
    * score_mean_ppm, pred) in update-mode semantics.
    */
  def classifierGateStream(docs: DataFrame, weights: DataFrame,
      idCol: String, textCol: String, tsCol: String = "ts",
      buckets: Int = 1 << 18,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.ops.Dedup
    val thin = docs
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol), col(tsCol),
        explode_outer(transform(Dedup.tokens(col(textCol)),
          t => pmod(Dedup.tokHash(t), lit(buckets)))).as("_bk"))
    thin
      .join(broadcast(weights.select(col("bucket").as("_bk"),
        col("w").as("_w"))), Seq("_bk"), "left")
      .groupBy(col(idCol), col(tsCol))
      .agg(
        sum(when(col("_bk").isNotNull, 1L).otherwise(0L))
          .as("n_tokens_scored"),
        sum(when(col("_bk").isNotNull,
          coalesce(col("_w"), lit(500000L))).otherwise(0L))
          .as("score_sum"))
      .withColumn("score_mean_ppm",
        when(col("n_tokens_scored") > 0,
          expr("score_sum DIV n_tokens_scored"))
          .otherwise(lit(0L)).cast("long"))
      .withColumn("pred", col("score_mean_ppm") > 500000L)
  }

  /** Streaming NEAR-dup detection — the online counterpart of the
    * batch MinHash-LSH dedup, with keyed state instead of a self-join:
    * arrivals are minhash-signed (pure Columns, no UDFs), exploded to
    * their (band, bucket) LSH keys, and each bucket's group keeps the
    * signatures of the SURVIVORS seen so far in flatMapGroupsWithState;
    * an arrival whose estimated Jaccard vs any stored survivor ≥
    * `minEstJaccard` is flagged with that survivor's id (first-seen
    * survivor wins, matching the batch min-id canonical when docs
    * arrive in id order).
    *
    * Bounded-state contract (the 100 TB requirement): at most
    * `maxState` survivor signatures per bucket (oldest dropped — the
    * streaming analogue of the batch `maxBucket` guard), and buckets
    * idle past the event-time watermark + `stateRetentionMs` are
    * evicted — the same watermark retention contract as dedupStream.
    * (Event-time, NOT processing-time, timeouts: processing-time
    * timers make the engine trigger continuous no-data batches to
    * check them, which livelocks processAllAvailable and burns a core
    * re-planning an idle stream.)
    *
    * Emits one verdict row PER BAND: (band, doc_id, dup_of nullable).
    * A document is a near-dup when ANY band flagged it — fold
    * downstream (e.g. per micro-batch: groupBy(doc_id).agg(min over
    * non-null dup_of)). Chains (a~b, b~c but a≁c) differ from the
    * batch connected-component fold by design: streaming compares
    * against survivors only — the standard online-dedup semantics.
    */
  def nearDupCandidatesStream(docs: DataFrame, idCol: String,
      textCol: String, tsCol: String = "ts", k: Int = 16, bands: Int = 8,
      seed: Long = 42L, shingleN: Int = 3, minEstJaccard: Double = 0.5,
      maxState: Int = 64, watermarkDelay: String = "10 minutes",
      stateRetentionMs: Long = 10L * 60 * 1000): DataFrame = {
    val spark = docs.sparkSession
    import graft.ops.Dedup
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val rowsPerBand = k / bands
    val banded = Dedup.withMinhash(
        docs.select(col(idCol).cast("long").as("_id"),
          col(tsCol).cast("timestamp").as("_ts"), col(textCol).as("_t")),
        col("_t"), k, seed, shingleN)
      .withColumn("sig", array((0 until k).map(i => col(s"m$i")): _*))
      .withWatermark("_ts", watermarkDelay)
      .select(col("_id"), col("_ts"), col("sig"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws(",", transform(
              slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
              x => x.cast("string")))).as("bucket"))
        }: _*)).as("bb"))
      .select(col("_id"), col("_ts"), col("sig"), col("bb.band"),
        col("bb.bucket"))
      .as[(Long, java.sql.Timestamp, Seq[Long], Int, String)]
    def est(a: Seq[Long], b: Seq[Long]): Double =
      a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / k
    banded
      .groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState[List[(Long, Seq[Long])], (Int, Long, Option[Long])](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), it, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var survivors = state.getOption.getOrElse(Nil)
            // sort within the micro-batch for a deterministic verdict
            // order (group iterators are unordered)
            val rows = it.toSeq.sortBy(_._1)
            val out = rows.map { case (id, _, sig, _, _) =>
              val hit = survivors.reverseIterator
                .find { case (_, s) => est(sig, s) >= minEstJaccard }
              if (hit.isEmpty)
                survivors = ((id, sig) :: survivors).take(maxState)
              (band, id, hit.map(_._1))
            }
            state.update(survivors)
            // retention anchored on the batch's max EVENT time, not the
            // current watermark: the watermark lags a batch behind, and
            // watermark(after batch) can already exceed
            // watermark(before) + retention — which would evict the
            // bucket immediately after its first batch
            val maxTs = rows.iterator.map(_._2.getTime).max
            state.setTimeoutTimestamp(math.max(maxTs + stateRetentionMs,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
      .toDF("band", "doc_id", "dup_of")
  }

  /** Streaming SemDeDup — online semantic dedup against a FROZEN
    * coarse quantizer (the batch-trained IVF centroids of
    * [[graft.ops.SimSearch.ivfCentroids]] / `centroidsFrom`): arrivals
    * are assigned their cell map-side with the exact batch assignment
    * expression (plan-literal centroids, no state), and each cell's
    * group keeps the embeddings of the SURVIVORS seen so far in
    * flatMapGroupsWithState; an arrival with cosine ≥ `threshold` vs
    * any stored survivor is flagged with that survivor's id
    * (first-seen survivor wins — matching the batch
    * [[graft.ops.Dedup.semanticDedup]] keep-lowest-id verdicts when
    * docs arrive in id order and the corpus is chain-free; transitive
    * chains differ by design, the same online-dedup semantics as
    * [[nearDupCandidatesStream]]).
    *
    * Bounded-state contract: at most `maxState` survivor embeddings
    * per cell (oldest dropped — the streaming analogue of the batch
    * `maxCell` guard), and cells idle past the event-time watermark +
    * `stateRetentionMs` are evicted (event-time timeouts, not
    * processing-time, for the livelock reason documented on
    * nearDupCandidatesStream).
    *
    * Emits (doc_id, kept, dup_of) per arrival.
    */
  def semanticDedupStream(docs: DataFrame, cents: Seq[Seq[Double]],
      idCol: String, vecCol: String, tsCol: String = "ts",
      threshold: Double = 0.9, maxState: Int = 64,
      watermarkDelay: String = "10 minutes",
      stateRetentionMs: Long = 10L * 60 * 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val assigned = docs
      .select(col(idCol).cast("long").as("_id"),
        col(tsCol).cast("timestamp").as("_ts"),
        col(vecCol).cast("array<double>").as("_v"))
      .withWatermark("_ts", watermarkDelay)
      .withColumn("_cell", graft.ops.SimSearch.ivfCell(col("_v"), cents))
      .as[(Long, java.sql.Timestamp, Seq[Double], Int)]
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    assigned
      .groupByKey(_._4)
      .flatMapGroupsWithState[List[(Long, Seq[Double])], (Long, Boolean, Option[Long])](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        case (_, it, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var survivors = state.getOption.getOrElse(Nil)
            // sort within the micro-batch for a deterministic verdict
            // order (group iterators are unordered)
            val rows = it.toSeq.sortBy(_._1)
            val out = rows.map { case (id, _, v, _) =>
              val hit = survivors.reverseIterator
                .find { case (_, s) => cos(v, s) >= threshold }
              if (hit.isEmpty)
                survivors = ((id, v) :: survivors).take(maxState)
              (id, hit.isEmpty, hit.map(_._1))
            }
            state.update(survivors)
            // retention anchored on the batch's max event time (see
            // nearDupCandidatesStream for why not the watermark)
            val maxTs = rows.iterator.map(_._2.getTime).max
            state.setTimeoutTimestamp(math.max(maxTs + stateRetentionMs,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
      .toDF("doc_id", "kept", "dup_of")
  }

  /** Streaming incremental-ingestion dedup: classify a live ingest
    * feed against the PERSISTED corpus index signature table
    * ([[graft.ops.Dedup.signatureTable]]'s (id, fp, m0..m{k-1})) — the
    * streaming twin of [[graft.ops.Dedup.dedupAgainstIndexSigs]] and
    * of CurateApp's `--index` mode. The stream side computes its
    * minhash signatures as pure Columns and explodes to (band,
    * bucket); the static index side explodes once and joins per
    * micro-batch (stream-static joins, broadcast — no state beyond the
    * watermark-bounded per-doc aggregation). Verdict semantics
    * identical to the batch operator: exact (md5 fingerprint match in
    * the index), near (est. Jaccard ≥ threshold against any shared
    * band bucket), else new; `dup_of` = min matching index id.
    * `k`/`seed`/`shingleN` must match the index build. Update-mode
    * output: (idCol, tsCol, verdict, dup_of).
    *
    * `broadcastIndex = false` for a corpus-scale index: the static
    * side then enters regular (shuffled) stream-static equi-joins per
    * micro-batch instead of a driver-built broadcast — slower per
    * batch, but a 10^12-doc index cannot live in driver memory.
    */
  def incrDedupStream(docs: DataFrame, indexSigs: DataFrame,
      idCol: String, textCol: String, tsCol: String = "ts",
      k: Int = 16, bands: Int = 8, seed: Long = 42L,
      minEstJaccard: Double = 0.5, shingleN: Int = 3,
      watermarkDelay: String = "10 minutes",
      broadcastIndex: Boolean = true): DataFrame = {
    import graft.ops.Dedup
    val idxSig = indexSigs.select(col("id").as("_iid"),
      col("fp").as("_ifp"),
      array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
    val idxBanded = Dedup.bandedFromSig(idxSig, k, bands)
      .select(col("_iid"), col("sig").as("_isig"),
        col("band").as("_iband"), col("bucket").as("_ibucket"))
    val idxFp = idxSig.groupBy(col("_ifp"))
      .agg(min(col("_iid")).as("_xiid"))
    val sig = Dedup.withMinhash(
      docs.withColumn(tsCol, col(tsCol).cast("timestamp"))
        .withWatermark(tsCol, watermarkDelay)
        .select(col(idCol), col(tsCol), col(textCol).as("_t")),
      col("_t"), k, seed, shingleN)
      .withColumn("sig", array((0 until k).map(i => col(s"m$i")): _*))
      .withColumn("_fp", md5(col("_t")))
      .select(col(idCol), col(tsCol), col("_fp"), col("sig"))
    val est = Dedup.estJaccardCol(col("sig"), col("_isig"), k)
    def side(df: DataFrame): DataFrame =
      if (broadcastIndex) broadcast(df) else df
    Dedup.bandedFromSig(sig, k, bands)
      .join(side(idxFp), col("_fp") === col("_ifp"), "left")
      .join(side(idxBanded),
        col("band") === col("_iband") &&
          col("bucket") === col("_ibucket"), "left")
      .withColumn("_nd",
        when(col("_iid").isNotNull && est >= minEstJaccard, col("_iid")))
      .groupBy(col(idCol), col(tsCol))
      .agg(min(col("_xiid")).as("_xd"), min(col("_nd")).as("_ndm"))
      .select(col(idCol), col(tsCol),
        when(col("_xd").isNotNull, lit("exact"))
          .when(col("_ndm").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("_xd"), col("_ndm")).as("dup_of"))
  }

  /** Streaming bigram-fluency gate: score a live feed against FROZEN
    * [[graft.ops.Curation.bigramTables]] — the deploy shape of the
    * unsupervised CCNet-perplexity analogue (train the bigram model
    * offline in batch, gate the stream with the frozen counts), same
    * stream-static pattern as [[classifierGateStream]]. Scoring
    * semantics identical to the batch
    * [[graft.ops.Curation.scoreBigramFluency]]: unseen transitions
    * score 0 and count rare; docs with < 2 tokens score (0, 0, 0)
    * rather than disappearing (explode_outer). Update-mode output:
    * (idCol, tsCol, n_bigrams, rare_bigram_ppm, fluency_ppm).
    *
    * `broadcastModel = false` for a web-corpus-trained model: the
    * bigram table is vocabulary²-bounded (billions of rows on a large
    * training corpus) and cannot live in driver memory — the count
    * tables then enter regular (shuffled) stream-static equi-joins per
    * micro-batch, same escape hatch as [[incrDedupStream]]'s
    * `broadcastIndex`.
    */
  def fluencyGateStream(docs: DataFrame, bigrams: DataFrame,
      heads: DataFrame, idCol: String, textCol: String,
      tsCol: String = "ts", smoothing: Long = 8L, rareMax: Long = 2L,
      watermarkDelay: String = "10 minutes",
      broadcastModel: Boolean = true): DataFrame = {
    import graft.ops.Dedup
    val withH = docs
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("_fhs",
        transform(Dedup.tokens(col(textCol)), t => Dedup.tokHash(t)))
    val n = size(col("_fhs"))
    val pairArr = when(n >= 2, transform(sequence(lit(1), n - 1),
      i => struct(element_at(col("_fhs"), i).as("p"),
        element_at(col("_fhs"), i + 1).as("c"))))
      .otherwise(array().cast("array<struct<p:bigint,c:bigint>>"))
    val seen = col("_ph").isNotNull
    def side(df: DataFrame): DataFrame =
      if (broadcastModel) broadcast(df) else df
    withH
      .select(col(idCol), col(tsCol), explode_outer(pairArr).as("_bg"))
      .select(col(idCol), col(tsCol), col("_bg.p").as("_ph"),
        col("_bg.c").as("_ch"))
      .join(side(bigrams), Seq("_ph", "_ch"), "left")
      .join(side(heads), Seq("_ph"), "left")
      .withColumn("_bc", coalesce(col("_bc"), lit(0L)))
      .withColumn("_pc", coalesce(col("_pc"), lit(0L)))
      .withColumn("_ppm",
        expr(s"(_bc * 1000000) DIV (_pc + $smoothing)"))
      .groupBy(col(idCol), col(tsCol))
      .agg(sum(when(seen, 1L).otherwise(0L)).as("n_bigrams"),
        sum(when(seen, col("_ppm")).otherwise(0L)).as("_sp"),
        sum(when(seen && col("_bc") <= rareMax, 1L).otherwise(0L))
          .as("_nr"))
      .select(col(idCol), col(tsCol), col("n_bigrams"),
        when(col("n_bigrams") > 0,
          expr("(_nr * 1000000) DIV n_bigrams"))
          .otherwise(lit(0L)).cast("long").as("rare_bigram_ppm"),
        when(col("n_bigrams") > 0, expr("_sp DIV n_bigrams"))
          .otherwise(lit(0L)).cast("long").as("fluency_ppm"))
  }
}
