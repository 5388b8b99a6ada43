package graft.streaming

import graft.io.TableIO
import graft.model.Page
import graft.rules.{RuleSet, RuleSets}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
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

  /** Incremental extraction: each micro-batch is one TableIO commit
    * unit, `bucket=<batchId>` with its `_lineage` record, written by the
    * SAME extraction wave as `runResumable` (one semantics, two callers).
    * A replayed batch (sink write done, `commits/N` not) whose unit is
    * COMMITTED is skipped, reading only that unit's record: exactly-once.
    * `partitions` means what it does in `ExtractionPipeline.records`.
    */
  def extractStream(pages: DataFrame, outPath: String,
      checkpoint: String, rs: RuleSet = RuleSets.plugin,
      partitions: Int = 0): DataStreamWriter[org.apache.spark.sql.Row] =
    pages.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val unit = Math.toIntExact(batchId)
        if (!TableIO.isCommitted(outPath, unit))
          TableIO.commitWave(batch.as(Encoders.product[Page]), outPath,
            Seq(unit), lit(unit), _ => unit, rs, partitions)
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
    watermarked(docs, tsCol, watermarkDelay)
      .withColumn("_h", md5(col(textCol)))
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")

  /** Streaming curation ingest: the per-document half of
    * Curation.curate (language + repetition gate, PII redaction) is
    * stateless, so the batch gate ([[graft.ops.Curation.gateFilter]])
    * runs unchanged on a stream — the shape of a live-crawl ingest
    * front end. The corpus-global stages (paragraph dedup, near-dup
    * clustering) are inherently batch barriers and run downstream
    * over the landed table (curateStaged); the one streaming
    * dedup that IS possible online — exact content dedup with bounded
    * state — composes here via `dedupStream`'s watermark contract.
    */
  def curationGateStream(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String = "ts", minTokens: Int = 10,
      maxDupLinePpm: Long = 300000L,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.ops.Curation
    val gated = Curation.gateFilter(docs, textCol, minTokens, maxDupLinePpm)
      .withColumn("red_text", Curation.piiRedact(col(textCol)))
    dedupStream(gated, tsCol, "red_text", watermarkDelay)
      .select(col(idCol), col(tsCol), col("lang"), col("red_text"))
  }

  /** Streaming benchmark decontamination: flag incoming documents that
    * share word n-grams with a STATIC eval corpus — a stream-static
    * join, the Structured Streaming shape for "check the live ingest
    * against a fixed reference table". It runs the batch kernel of
    * Curation.contaminationStats, [[graft.ops.Curation.benchGramHits]],
    * grouped by (id, ts): the benchmark's distinct gram hashes
    * broadcast once per micro-batch, so the stream is never shuffled,
    * and the watermark bounds the per-doc aggregation state. (Folding the
    * membership test into a per-row Column would need the benchmark as
    * a literal array — fine for toy sets, not for a real eval suite;
    * the join form scales with the benchmark.)
    *
    * Returns (idCol, tsCol, n_hit) in update mode semantics; compose
    * with a `n_hit === 0` filter for strict scrubbing.
    */
  def decontamStream(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, benchTextCol: String, tsCol: String = "ts",
      n: Int = 8, watermarkDelay: String = "10 minutes"): DataFrame =
    graft.ops.Curation.benchGramHits(watermarked(docs, tsCol, watermarkDelay),
      Seq(idCol, tsCol), textCol, bench, benchTextCol, n,
      broadcastBench = true)

  /** Streaming quality-model serving: score the live ingest with a
    * STATIC [[graft.ops.Curation.tokenClassWeights]] table — the
    * deploy shape of the trained hashed linear classifier (train
    * offline in batch, gate the stream with the frozen weights). It
    * runs the kernel of the batch
    * [[graft.ops.Curation.scoreByTokenWeights]],
    * [[graft.ops.Curation.tokenWeightScores]], grouped by (id, ts): the
    * weight table broadcasts per micro-batch, and the watermark bounds
    * the per-doc aggregation state (unseen buckets score neutral
    * 500000; integer mean; pred = mean > 500000).
    *
    * Returns (idCol, tsCol, n_tokens_scored, score_sum,
    * score_mean_ppm, pred) in update-mode semantics.
    */
  def classifierGateStream(docs: DataFrame, weights: DataFrame,
      idCol: String, textCol: String, tsCol: String = "ts",
      buckets: Int = 1 << 18,
      watermarkDelay: String = "10 minutes"): DataFrame =
    graft.ops.Curation.tokenWeightScores(
      watermarked(docs, tsCol, watermarkDelay), Seq(idCol, tsCol), textCol,
      weights, buckets)

  /** Streaming NEAR-dup detection — the online counterpart of the
    * batch MinHash-LSH dedup, with keyed state instead of a self-join:
    * arrivals are minhash-signed (pure Columns, no UDFs), exploded to
    * their (band, bucket) LSH keys by the batch
    * [[graft.ops.Dedup.bandedFromSig]], and each bucket keeps the
    * signatures of the SURVIVORS seen so far ([[survivorVerdicts]]);
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
    val signed = Dedup.withMinhash(
        docs.select(col(idCol).cast("long").as("_id"),
          col(tsCol).cast("timestamp").as("_ts"), col(textCol).as("_t")),
        col("_t"), k, seed, shingleN)
      .select(col("_id"), col("_ts"), Dedup.sigArray(k).as("sig"))
      .withWatermark("_ts", watermarkDelay)
    val keyed = Dedup.bandedFromSig(signed, k, bands)
      .select(struct(col("band").as("_1"), col("bucket").as("_2")),
        col("_id"), col("_ts"), col("sig"))
      .as[((Int, String), Long, java.sql.Timestamp, Seq[Long])]
    survivorVerdicts(keyed, maxState, stateRetentionMs) { (a, b) =>
        a.iterator.zip(b.iterator).count { case (x, y) => x == y }
          .toDouble / k >= minEstJaccard
      }
      .select(col("_1._1").as("band"), col("_2").as("doc_id"),
        col("_3").as("dup_of"))
  }

  /** Streaming SemDeDup — online semantic dedup against a FROZEN
    * coarse quantizer (the batch-trained IVF centroids of
    * [[graft.ops.SimSearch.ivfCentroids]] / `centroidsFrom`): arrivals
    * are assigned their cell map-side with the exact batch assignment
    * expression (plan-literal centroids, no state), and each cell
    * keeps the embeddings of the SURVIVORS seen so far
    * ([[survivorVerdicts]]); an arrival with cosine ≥ `threshold` vs
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
    * `stateRetentionMs` are evicted.
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
    val assigned = docs
      .select(col(idCol).cast("long").as("_id"),
        col(tsCol).cast("timestamp").as("_ts"),
        col(vecCol).cast("array<double>").as("_v"))
      .withWatermark("_ts", watermarkDelay)
      .select(graft.ops.SimSearch.ivfCell(col("_v"), cents), col("_id"),
        col("_ts"), col("_v"))
      .as[(Int, Long, java.sql.Timestamp, Seq[Double])]
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    survivorVerdicts(assigned, maxState, stateRetentionMs)(
        cos(_, _) >= threshold)
      .select(col("_2").as("doc_id"), col("_3").isNull.as("kept"),
        col("_3").as("dup_of"))
  }

  /** The online survivor loop of [[nearDupCandidatesStream]] and
    * [[semanticDedupStream]]: rows are (key, id, event ts, value); each
    * key's group keeps the (id, value) of the SURVIVORS seen so far in
    * keyed state, and an arrival `similar` to any stored
    * survivor is flagged with that survivor's id (first-seen survivor
    * wins), else it becomes a survivor. At most `maxState` survivors
    * per key (oldest dropped); keys idle past the event-time watermark
    * + `retentionMs` are evicted. Emits (key, id, dup_of) per row.
    *
    * Event-time, NOT processing-time, timeouts: processing-time timers
    * make the engine trigger continuous no-data batches to check them,
    * which livelocks processAllAvailable and burns a core re-planning
    * an idle stream.
    */
  private def survivorVerdicts[K: Encoder, V](
      rows: Dataset[(K, Long, java.sql.Timestamp, V)], maxState: Int,
      retentionMs: Long)(similar: (V, V) => Boolean)(implicit
      stateEnc: Encoder[List[(Long, V)]],
      outEnc: Encoder[(K, Long, Option[Long])]): DataFrame =
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, V)], (K, Long, Option[Long])](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key, it, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var survivors = state.getOption.getOrElse(Nil)
            // sort within the micro-batch for a deterministic verdict
            // order (group iterators are unordered)
            val batch = it.toSeq.sortBy(_._2)
            val out = batch.map { case (_, id, _, v) =>
              val hit = survivors.reverseIterator
                .find { case (_, s) => similar(v, s) }
              if (hit.isEmpty)
                survivors = ((id, v) :: survivors).take(maxState)
              (key, id, hit.map(_._1))
            }
            state.update(survivors)
            // retention anchored on the batch's max EVENT time, not the
            // current watermark: the watermark lags a batch behind, and
            // watermark(after batch) can already exceed
            // watermark(before) + retention — which would evict the
            // key immediately after its first batch
            val maxTs = batch.iterator.map(_._3.getTime).max
            state.setTimeoutTimestamp(math.max(maxTs + retentionMs,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
      .toDF()

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
      col("fp").as("_ifp"), Dedup.sigArray(k).as("sig"))
    val idxBanded = Dedup.bandedFromSig(idxSig, k, bands)
      .select(col("_iid"), col("sig").as("_isig"),
        col("band").as("_iband"), col("bucket").as("_ibucket"))
    val idxFp = idxSig.groupBy(col("_ifp"))
      .agg(min(col("_iid")).as("_xiid"))
    val sig = Dedup.withMinhash(
        watermarked(docs, tsCol, watermarkDelay)
          .select(col(idCol), col(tsCol), col(textCol).as("_t")),
        col("_t"), k, seed, shingleN)
      .select(col(idCol), col(tsCol), md5(col("_t")).as("_fp"),
        Dedup.sigArray(k).as("sig"))
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
      .select(Seq(col(idCol), col(tsCol)) ++
        Dedup.indexVerdict(col("_xd"), col("_ndm")): _*)
  }

  /** Streaming bigram-fluency gate: score a live feed against FROZEN
    * [[graft.ops.Curation.bigramTables]] — the deploy shape of the
    * unsupervised CCNet-perplexity analogue (train the bigram model
    * offline in batch, gate the stream with the frozen counts). It
    * runs the kernel of the batch
    * [[graft.ops.Curation.scoreBigramFluency]],
    * [[graft.ops.Curation.bigramScores]], grouped by (id, ts): unseen
    * transitions score 0 and count rare; docs with < 2 tokens score
    * (0, 0, 0). Update-mode output: (idCol, tsCol, n_bigrams,
    * rare_bigram_ppm, fluency_ppm).
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
    def side(df: DataFrame): DataFrame =
      if (broadcastModel) broadcast(df) else df
    graft.ops.Curation.bigramScores(watermarked(docs, tsCol, watermarkDelay),
      Seq(idCol, tsCol), textCol, side(bigrams), side(heads), smoothing,
      rareMax)
  }

  /** `docs` with `tsCol` as a timestamp carrying the event-time
    * watermark that bounds a stream operator's per-document state.
    */
  private def watermarked(docs: DataFrame, tsCol: String,
      watermarkDelay: String): DataFrame =
    docs.withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
}
