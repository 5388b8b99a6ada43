package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash(+LSH), SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Design notes for 100 TB scale:
  *  - Signatures (minhash/simhash) are pure Column expressions — computed
  *    in one narrow pass inside whole-stage codegen, no UDFs, no shuffle.
  *  - Candidate generation shuffles on *band/bucket keys* (small), never
  *    on raw text; pairwise work happens only within buckets.
  *  - The token hash is the first 8 hex chars of md5 → bigint, which is
  *    engine-portable (same value in Spark and DuckDB), making the whole
  *    signature SQL-checkable.
  */
object Dedup {

  /** Portable 32-bit token hash: first 8 hex chars of md5 as a long —
    * computed by the native Md5Prefix32 expression (one codegen'd call
    * instead of conv(substring(md5(…))): three allocations per token),
    * bit-identical to the SQL form the DuckDB oracle uses.
    */
  def tokHash(t: Column): Column = graft.functions.Md5Prefix32(t)

  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** Deterministic MinHash permutation parameters (seeded, public
    * linear-congruential scheme h_i(x) = (a_i*x + b_i) mod p).
    */
  val MinhashP = 2147483647L // 2^31-1, so a*h fits in signed 64-bit
  def minhashParams(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    (0 until k).map(_ => (1L + rng.nextInt(Int.MaxValue - 1),
      rng.nextInt(Int.MaxValue).toLong))
  }

  /** k-perm MinHash signature as k columns m0..m{k-1} (flat columns keep
    * the result engine-portable for the DuckDB oracle).
    *
    * @param shingleN 1 = unigram tokens; n > 1 = distinct word n-gram
    *                 shingles (the standard near-dup unit — unigram sets
    *                 are degenerate on small vocabularies, where every
    *                 pair of documents shares most words)
    */
  def withMinhash(df: DataFrame, textCol: Column, k: Int = 8,
      seed: Long = 42L, shingleN: Int = 1): DataFrame = {
    // materialize the unit array ONCE per row: the k signature columns
    // (and, for shingles, every sequence element) must reference an
    // attribute, not re-evaluate the tokenize/shingle expression —
    // CollapseProject keeps multi-referenced non-cheap aliases
    // materialized (same trick as the classifier header column)
    val withUnits =
      if (shingleN <= 1) df.withColumn("_units", tokens(textCol))
      else df.withColumn("_toks", tokens(textCol))
        .withColumn("_units",
          filter(shinglesOf(col("_toks"), shingleN), s => length(s) > 0))
        .drop("_toks")
    // hash each unit ONCE: the md5-based tokHash is the expensive part,
    // and referencing it from all k signature columns (rather than
    // re-evaluating it inside each one) cuts the md5 count by k×
    // (measured 3.5 s → 1 s for the sf0.1 pair generation)
    val withHashes = withUnits
      .withColumn("_uh", transform(col("_units"), t => tokHash(t)))
      .drop("_units")
    minhashParams(k, seed).zipWithIndex.foldLeft(withHashes) {
      case (acc, ((a, b), i)) =>
        acc.withColumn(s"m$i",
          array_min(transform(col("_uh"),
            h => (lit(a) * h + lit(b)) % lit(MinhashP))))
    }.drop("_uh")
  }

  /** MinHash-LSH candidate pairs: k perms split into `bands` bands; docs
    * sharing any band bucket become candidates; estimated Jaccard =
    * fraction of matching perms. One shuffle on the (band, bucket) key.
    * The bucket key is md5 of the band's comma-joined perm values —
    * engine-portable, so the whole operator is DuckDB-oracle-checkable.
    *
    * @param maxBucket LSH buckets larger than this are skipped (0 =
    *                  unbounded). Degenerate signatures — unigram
    *                  minhash over a small vocabulary, empty shingle
    *                  sets — put large fractions of the corpus into one
    *                  bucket, and the within-bucket self-join goes
    *                  quadratic (the standard LSH big-bucket guard; at
    *                  corpus scale an unbounded bucket is a job-killer).
    *                  NOT silent: pairs lost to the cap are visible in
    *                  `minhashLshSkippedBuckets` with their sizes.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, seed: Long = 42L,
      minEstJaccard: Double = 0.5, shingleN: Int = 1,
      maxBucket: Int = 0): DataFrame = {
    // Materialize the banded signature table ONCE: the bucket
    // self-join consumes it as both sides, and without a fence each
    // side re-runs the k-permutation minhash map (k md5s per token
    // over the whole corpus — the dominant cost). Thin rows (id,
    // k longs, band, bucket); same localCheckpoint rationale as
    // canonicalize below. Blocks live until session end — one
    // signature-table-sized block set per call, bounded and small
    // next to the corpus.
    // (fence BEFORE the cap: capBuckets' count pass and the self-join
    // sides all read the one materialized signature table)
    val capped = capBuckets(
      bandedSignatures(df, idCol, textCol, k, bands, seed, shingleN)
        .localCheckpoint(),
      maxBucket)
    val l = capped.as("l")
    val r = capped.as("r")
    l.join(r, col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        estJaccardCol(col("l.sig"), col("r.sig"), k).as("est_jaccard"))
      // filter BEFORE the dedup shuffle: est_jaccard is a pure function
      // of the pair's signatures, so every duplicate of a pair carries
      // the same value and the filter commutes with distinct — the
      // below-threshold candidates (the bulk, at the default 0.5) never
      // reach the distinct's exchange
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** The big-bucket guard shared by every banded candidate generator:
    * drop rows of (band, bucket) groups larger than `maxBucket`
    * (0 = unbounded). One definition so batch and streaming twins
    * cannot diverge.
    *
    * TWO-PASS shape (the `Skew.heavyHitters` discipline): a
    * count-over-window would place the entire hot bucket — the very
    * thing the guard exists to neutralize — into ONE task just to
    * measure its size (a viral (band,bucket) of 10^8 rows becomes one
    * straggler materializing gigabytes before dropping them). Instead,
    * pass 1 is a map-side-combinable groupBy whose output is only the
    * over-cap bucket set — small by construction (hot buckets are the
    * rare tail); pass 2 removes their members with a left anti-join.
    * No broadcast is forced (the set's worst case, totalRows/maxBucket
    * rows, could pass the 8 GB broadcast cap and fail the job): the plan
    * assumes AQE (`spark.sql.adaptive.enabled`, the default) sees the
    * set's runtime size and broadcasts the usual few rows. With AQE off
    * it is a sort-merge anti-join that shuffles the banded signatures.
    * Callers fence `banded` (localCheckpoint) so both passes share one
    * signature computation.
    */
  private[graft] def capBuckets(banded: DataFrame,
      maxBucket: Int): DataFrame =
    if (maxBucket <= 0) banded
    else {
      val over = banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("_bsz"))
        .filter(col("_bsz") > maxBucket)
        .select(col("band"), col("bucket"))
      banded.join(over, Seq("band", "bucket"), "left_anti")
    }

  /** Estimated Jaccard of two k-perm signature arrays: matching-perm
    * fraction. One definition shared by the pair generator, the
    * incremental-index classifier and the streaming twin.
    */
  private[graft] def estJaccardCol(a: Column, b: Column, k: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / k

  /** The k flat perm columns m0..m{k-1} as one signature array. */
  private[graft] def sigArray(k: Int): Column =
    array((0 until k).map(i => col(s"m$i")): _*)

  /** Banded (band, bucket) signature table shared by minhashLshPairs
    * and the big-bucket accounting.
    */
  private[graft] def bandedSignatures(df: DataFrame, idCol: String,
      textCol: String, k: Int, bands: Int, seed: Long,
      shingleN: Int): DataFrame = {
    val sig = withMinhash(df.select(col(idCol).as("id"), col(textCol).as("t")),
      col("t"), k, seed, shingleN)
      .withColumn("sig", sigArray(k))
      .select(col("id"), col("sig"))
    bandedFromSig(sig, k, bands)
  }

  /** Band/bucket explode over an already-computed (…, sig) frame —
    * the seam that lets a PERSISTED signature table re-enter candidate
    * generation without touching text. Keeps every input column.
    */
  private[graft] def bandedFromSig(sig: DataFrame, k: Int,
      bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    sig.withColumn("bb",
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws(",", transform(
            slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
            x => x.cast("string")))).as("bucket"))
      }: _*)))
      .withColumn("band", col("bb.band"))
      .withColumn("bucket", col("bb.bucket"))
      .drop("bb")
  }

  /** The persistable incremental-dedup index: (id, fp, m0..m{k-1}) —
    * the md5 fingerprint for the exact check plus the k minhash perms
    * (the table [[dedupAgainstIndex]]'s scaladoc names). A deployment
    * computes this ONCE per corpus (or maintains it incrementally with
    * each accepted batch) and feeds it to [[dedupAgainstIndexSigs]]
    * per ingestion batch — the index text never re-hashes.
    */
  def signatureTable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, seed: Long = 42L, shingleN: Int = 3): DataFrame =
    withMinhash(df.select(col(idCol).as("id"), col(textCol).as("t")),
      col("t"), k, seed, shingleN)
      .withColumn("fp", md5(col("t")))
      .select((Seq(col("id"), col("fp")) ++
        (0 until k).map(i => col(s"m$i"))): _*)

  /** The buckets a `maxBucket` cap would skip, with their sizes — the
    * no-silent-caps companion to minhashLshPairs: report what was
    * dropped instead of pretending full coverage.
    */
  def minhashLshSkippedBuckets(df: DataFrame, idCol: String,
      textCol: String, k: Int = 16, bands: Int = 4, seed: Long = 42L,
      shingleN: Int = 1, maxBucket: Int = 0): DataFrame =
    bandedSignatures(df, idCol, textCol, k, bands, seed, shingleN)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(lit(maxBucket) > 0 && col("bucket_size") > maxBucket)

  /** Portable 16-bit SimHash (first 4 md5 hex chars per token; majority
    * vote per bit). Oracle-checkable; the 64-bit variant below is the
    * production path. One-pass native expression (SimHashMd5) —
    * bit-identical to the 16-HOF-pass round-1 formulation but hashes
    * each token once.
    */
  def simhash16(text: Column): Column =
    graft.functions.SimHashKernel.simhashMd5(lower(trim(text)), 16)

  /** 64-bit SimHash on xxhash64(seed=42) token hashes (production
    * variant — Spark-native hash, not portable to the oracle). One-pass
    * native expression: the round-1 HOF form re-hashed every token 64×.
    */
  def simhash64(text: Column): Column =
    graft.functions.SimHashKernel.simhashXx64(lower(trim(text)))

  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs by pigeonhole blocking (Manku, Jain
    * & Das Sarma, "Detecting Near-Duplicates for Web Crawling", WWW
    * 2007): split the B-bit fingerprint into `nBlocks` contiguous
    * blocks; two fingerprints within hamming distance < nBlocks must
    * agree EXACTLY on at least one block, so bucketing on (block
    * index, block value) finds every such pair — candidates are then
    * verified with the exact popcount, so the result is exact recall
    * for hamming <= maxHamming (require maxHamming < nBlocks).
    *
    * Scale shape: only (id, fingerprint) rows shuffle — ~16 bytes a
    * row regardless of document size, nBlocks rows per doc — and the
    * within-bucket self-join is guarded by the shared big-bucket cap
    * (capBuckets, same contract + accounting as minhashLshPairs).
    * bits=16 is the engine-portable md5 variant (DuckDB-checkable);
    * bits=64 the production xxhash64 variant. The reference has no
    * near-dup stage at all; this is the graft-side scale path next to
    * MinHash-LSH: cheaper signatures (one long vs k ints) at the cost
    * of detecting only small-edit near-dups.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, nBlocks: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 0): DataFrame = {
    require(bits == 16 || bits == 64, "bits must be 16 (portable) or 64")
    require(bits % nBlocks == 0, s"nBlocks ($nBlocks) must divide $bits")
    require(maxHamming < nBlocks,
      s"pigeonhole recall needs maxHamming < nBlocks ($maxHamming >= $nBlocks)")
    val width = bits / nBlocks
    val sig =
      if (bits == 16) simhash16(col(textCol)) else simhash64(col(textCol))
    // one simhash per doc, then nBlocks thin rows; checkpoint so the
    // self-join's two sides share one signature computation
    val blocked = df.select(col(idCol).as("id"), sig.as("sh"))
      .select(col("id"), col("sh"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("band"))
      .withColumn("bucket",
        call_function("shiftrightunsigned", col("sh"),
          (col("band") * width).cast("int"))
          .bitwiseAND(lit((1L << width) - 1)))
    val capped = capBuckets(blocked.localCheckpoint(), maxBucket)
    capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        hamming64(col("l.sh"), col("r.sh")).cast("int").as("hamming"))
      // filter before the dedup shuffle (minhashLshPairs discipline):
      // hamming is a pure function of the pair, so the exact popcount
      // verify commutes with distinct and rejected candidates never
      // reach its exchange
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram (word shingle) Jaccard pairs via shingle self-join:
    * explode distinct shingles, join on shingle, count intersections,
    * jaccard = |∩| / (|A|+|B|-|∩|). Shuffles on the shingle key — at
    * scale, combine with minhashLshPairs as a pre-filter.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.0): DataFrame = {
    val base = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val shingled = base.select(col("id"),
      explode(array_distinct(transform(
        sequence(lit(0), greatest(size(col("toks")) - n, lit(0))),
        i => array_join(slice(col("toks"), i + 1, lit(n)), " "))))
        .as("shingle"))
      .filter(length(col("shingle")) > 0)
    val sizes = shingled.groupBy("id")
      .agg(count(lit(1)).as("sz"))
    val inter = shingled.as("l")
      .join(shingled.as("r"),
        col("l.shingle") === col("r.shingle") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"),
        "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"),
        "b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("a", "b", "inter", "jaccard")
  }

  /** Word-shingle array (distinct n-grams) over a MATERIALIZED token
    * array attribute — the unit both Jaccard variants measure over.
    * `toks` must be an attribute (withColumn/select alias), not an
    * expression: the slice inside the lambda runs once per sequence
    * element, so an inlined tokenize would be re-evaluated O(tokens)
    * times per row (measured: a 5000-doc minhash went minutes → seconds
    * after materializing).
    */
  def shinglesOf(toks: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => array_join(slice(toks, i + 1, lit(n)), " ")))

  /** Convenience over a text column — materialize `tokens(text)` first
    * in hot paths (see shinglesOf).
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOf(tokens(text), n)

  /** Exact n-gram Jaccard restricted to MinHash-LSH candidate pairs —
    * the scale composition of ngramJaccardPairs (whose shingle self-join
    * is all-pairs within shingle groups). Only candidates that share an
    * LSH band bucket get the exact intersection, computed per pair with
    * array ops (no shingle explode, no shingle-key shuffle): the join
    * moves each candidate's shingle array once.
    */
  def ngramJaccardLsh(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 8, seed: Long = 42L,
      minEstJaccard: Double = 0.25, minJaccard: Double = 0.0): DataFrame = {
    // prefilter minhashes the SAME shingle space the exact measure uses
    val cand = spreadPairs(minhashLshPairs(df, idCol, textCol, k, bands,
      seed, minEstJaccard, shingleN = n).select(col("a"), col("b")))
    val sh = df.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .select(col("id"),
        filter(shinglesOf(col("tk"), n), s => length(s) > 0).as("sh"))
    cand
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("a", "b", "inter", "jaccard")
  }

  /** Asymmetric CONTAINMENT near-dup — C(A→B) = |S(A)∩S(B)| / |S(A)|
    * over distinct word n-gram shingle sets: catches subset
    * duplication (a quote page, a syndicated excerpt, a wrapper around
    * another page's body) that symmetric Jaccard and its minhash-LSH
    * prefilter structurally miss — a short doc fully inside a long one
    * has containment 1.0 but arbitrarily low Jaccard, so it never
    * clears an est-Jaccard band bucket.
    *
    * Candidate generation is rare-shingle blocking (the
    * entity-resolution "discriminative blocking key" construction; LSH
    * Ensemble, Zhu et al. VLDB 2016, is the tuned-band alternative):
    * docs pair when they share ≥1 shingle whose corpus document
    * frequency is in [2, maxShingleDf]. A contained doc surfaces
    * unless EVERY shingle it has is corpus-common (df > cap) —
    * boilerplate-only subsets, which the boilerplate scrubs own;
    * [[containmentSkippedShingles]] accounts the keys the cap dropped.
    *
    * Scale shape: the ENTIRE computation lives in 32-bit hashed
    * shingle space — blocking keys, df counts, and the per-candidate
    * exact intersection (int arrays rebuilt from the one materialized
    * thin table: no second tokenize pass, and the attach joins move
    * 4-byte elements instead of shingle strings). The intersection is
    * exact over hashes; a cross-doc hash collision can inflate a
    * pair's `inter` by 1 (P ≈ |S|²/2³² per pair — ~1e-6 at 100-gram
    * docs). Where string-exact counts are required, confirm as
    * [[graft.ops.Curation]]'s dropDuplicatedSpansConfirmed does for
    * spans. Per blocked key the self-join fans out ≤ maxShingleDf²
    * pairs. Ratios are integer ppm for oracle parity.
    *
    * Returns (a, b, inter, sza, szb, contain_a_ppm, contain_b_ppm)
    * for pairs with max(contain_a, contain_b) ≥ minContainPpm.
    */
  /** Spread a thin-bytes / heavy-CPU verification stage across the
    * session's shuffle parallelism. AQE coalesces shuffle reads by
    * BYTES (advisoryPartitionSizeInBytes), so a candidate-pair table —
    * thin (a, b) rows, but up to ~1 ms of verification CPU each once
    * text/sets are attached — collapses into ONE task at exactly the
    * point the expensive per-pair work starts (measured on q98's
    * 16k-pair corpus: the levenshtein confirm stage ran as a single
    * task, 12 s; spread 32-way it is < 1 s). An explicit-numPartitions
    * repartition is the one exchange AQE does not re-coalesce — and it
    * must be ROUND-ROBIN, not hash(a, b): the candidate generator ends
    * in a distinct() whose aggregate already hash-partitions on the
    * pair key, so a same-key repartition is elided as redundant at
    * planning (leaving only the coalescible aggregate exchange), and
    * round-robin additionally spreads hub-document pairs evenly.
    */
  private def spreadPairs(pairs: DataFrame): DataFrame = {
    val p = pairs.sparkSession.sessionState.conf.numShufflePartitions
    pairs.repartition(p)
  }

  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxShingleDf: Int = 64,
      minContainPpm: Long = 900000L): DataFrame = {
    val sh = df.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .select(col("id"),
        filter(shinglesOf(col("tk"), n), s => length(s) > 0).as("sh"))
    // Materialized once: everything downstream (df counts, both sides
    // of the blocking self-join, AND the per-doc hash sets the exact
    // re-check intersects) derives from this one thin (id, 32-bit
    // hash) table — the corpus is tokenized exactly once.
    // explode_outer + null-filter: the filter the optimizer would infer
    // above a plain explode re-runs the whole tokenize+shingle chain
    // inside the scan (SessionTuning documents the 13×
    // measurement); shingle arrays carry no null elements, so this is
    // explode's exact row set
    val thin = sh.select(col("id"), explode_outer(col("sh")).as("_s"))
      .filter(col("_s").isNotNull)
      .select(col("id"), tokHash(col("_s")).as("_h"))
      .distinct()
      .localCheckpoint()
    val sets = thin.groupBy(col("id"))
      .agg(array_sort(collect_set(col("_h"))).as("sh"))
    val dfT = thin.groupBy(col("_h"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxShingleDf)
    val blocked = thin.join(dfT, "_h")
    val cand = blocked.as("l").join(blocked.as("r"),
        col("l._h") === col("r._h") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    spreadPairs(cand)
      .join(sets.select(col("id").as("a"), col("sh").as("sha")), "a")
      .join(sets.select(col("id").as("b"), col("sh").as("shb")), "b")
      // sets are array_sort(collect_set(..)) -> the sorted-merge count
      // kernel applies (allocation-free; see SortedIntersectCount)
      .withColumn("inter",
        graft.functions.SortedIntersectCountCol(col("sha"), col("shb")))
      .withColumn("sza", size(col("sha")).cast("long"))
      .withColumn("szb", size(col("shb")).cast("long"))
      .withColumn("contain_a_ppm", when(col("sza") > 0,
        (col("inter") * 1000000L) / col("sza")).otherwise(lit(0L))
        .cast("long"))
      .withColumn("contain_b_ppm", when(col("szb") > 0,
        (col("inter") * 1000000L) / col("szb")).otherwise(lit(0L))
        .cast("long"))
      .filter(greatest(col("contain_a_ppm"), col("contain_b_ppm"))
        >= minContainPpm)
      .select("a", "b", "inter", "sza", "szb", "contain_a_ppm",
        "contain_b_ppm")
  }

  /** Blocking keys [[containmentPairs]] dropped for being corpus-common
    * (df > maxShingleDf): (shingle_hash, df) — the cap accounting a
    * caller sizes maxShingleDf with, same contract as
    * [[minhashLshSkippedBuckets]].
    */
  def containmentSkippedShingles(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, maxShingleDf: Int = 64): DataFrame = {
    val sh = df.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .select(col("id"),
        filter(shinglesOf(col("tk"), n), s => length(s) > 0).as("sh"))
    sh.select(col("id"), explode_outer(col("sh")).as("_s"))
      .filter(col("_s").isNotNull) // outer: see containmentPairs
      .select(col("id"), tokHash(col("_s")).as("_h"))
      .distinct()
      .groupBy(col("_h").as("shingle_hash"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
  }

  /** Winnowed document fingerprints — Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 ("Winnowing: Local Algorithms for Document
    * Fingerprinting", the MOSS algorithm). Word-k-gram hashes
    * h_1..h_m; every window of `w` consecutive gram hashes selects its
    * MINIMUM, ties broken by RIGHTMOST position (robust winnowing);
    * selections dedup per doc on (fingerprint, position). The local
    * guarantee MinHash doesn't give: any shared token run of length
    * ≥ w + k - 1 between two documents yields at least one shared
    * fingerprint (MinHash is a global set sketch — a short plagiarized
    * passage inside two long distinct docs moves no signature band);
    * expected density 2/(w+1) fingerprints per gram.
    *
    * Per-row HOF work is O(m·w) slices (the classic rolling O(m) form
    * needs per-row state; at w ≤ 16 the constant is irrelevant next to
    * tokenize). Docs with fewer than `w` grams winnow their whole gram
    * list (one window, so short docs still fingerprint); docs with
    * < k tokens emit nothing. Output: thin (idCol, fp, pos) rows —
    * fp is the 32-bit gram hash, pos the 1-based gram position.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1)
    val grams = df
      .select(col(idCol), tokens(col(textCol)).as("_tk"))
      .filter(size(col("_tk")) >= k)
      .select(col(idCol), transform(
        sequence(lit(0), size(col("_tk")) - k),
        i => tokHash(array_join(slice(col("_tk"), i + 1, lit(k)), " ")))
        .as("_hs"))
    val m = size(col("_hs"))
    val effW = least(lit(w), m)
    val sels = transform(sequence(lit(1), m - effW + 1), i => {
      val sl = slice(col("_hs"), i, effW)
      val mn = array_min(sl)
      val rpos = array_max(transform(sequence(lit(1), effW),
        j => when(element_at(sl, j) === mn, j).otherwise(lit(0))))
      struct(mn.as("fp"), (i + rpos - 1).cast("long").as("pos"))
    })
    // outer + null-filter: the inferred-filter pushdown of a plain
    // explode re-runs the whole O(m·w) winnow map inside the scan
    // (SessionTuning); sels is never empty (m ≥ 1 after the
    // size filter) and carries no null elements
    grams.select(col(idCol),
        explode_outer(array_distinct(sels)).as("_sel"))
      .filter(col("_sel").isNotNull)
      .select(col(idCol), col("_sel.fp").as("fp"),
        col("_sel.pos").as("pos"))
  }

  /** Cross-document passage-overlap pairs over [[winnowFingerprints]]:
    * candidates pair when they share ≥1 fingerprint whose corpus
    * document frequency is in [2, maxFpDf] (the same rare-key blocking
    * + cap as [[containmentPairs]]; corpus-common fingerprints are
    * boilerplate, which the boilerplate scrubs own), then the EXACT
    * distinct-fingerprint intersection is recomputed per candidate
    * pair from the full per-doc sets — the cap bounds the candidate
    * fan-out (≤ maxFpDf² per key), never the reported overlap.
    *
    * Scale shape: fingerprints travel as 32-bit hashes in the blocking
    * shuffle; per-doc fingerprint SETS (sorted arrays, ~2m/(w+1)
    * entries) move only for candidate pairs via two id-keyed joins —
    * document text never shuffles. `overlap_ppm` is the overlap
    * coefficient (min-normalized), integer ppm for oracle parity.
    *
    * Returns (a, b, shared_fps, a_fps, b_fps, overlap_ppm) for pairs
    * with overlap_ppm ≥ minOverlapPpm.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8, maxFpDf: Int = 64,
      minOverlapPpm: Long = 0L): DataFrame = {
    // Materialized once: four consumers (per-doc sets, df counts, both
    // blocking-join sides) would each re-run the O(m·w) winnow map.
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp"))
      .distinct()
      .localCheckpoint()
    val sets = fp.groupBy(col("id"))
      .agg(array_sort(collect_set(col("fp"))).as("fps"))
    val dfT = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxFpDf)
    val blocked = fp.join(dfT, "fp")
    val cand = blocked.as("l").join(blocked.as("r"),
        col("l.fp") === col("r.fp") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    spreadPairs(cand)
      .join(sets.select(col("id").as("a"), col("fps").as("fpa")), "a")
      .join(sets.select(col("id").as("b"), col("fps").as("fpb")), "b")
      // fps are array_sort(collect_set(..)) -> sorted-merge count kernel
      .withColumn("shared_fps",
        graft.functions.SortedIntersectCountCol(col("fpa"), col("fpb")))
      .withColumn("a_fps", size(col("fpa")).cast("long"))
      .withColumn("b_fps", size(col("fpb")).cast("long"))
      .withColumn("overlap_ppm",
        expr("shared_fps * 1000000 DIV least(a_fps, b_fps)"))
      .filter(col("overlap_ppm") >= minOverlapPpm)
      .select("a", "b", "shared_fps", "a_fps", "b_fps", "overlap_ppm")
  }

  /** Edit-distance verification of MinHash-LSH near-dup candidates —
    * the final "are these REALLY revisions of the same document" gate.
    * MinHash estimates SET similarity, which is blind to token order:
    * two word-salads over the same vocabulary can score est_jaccard ≈ 1
    * while being entirely different documents. Levenshtein distance on
    * the raw text (normalized by the longer side, integer ppm) is the
    * order-sensitive confirmation; pairs with
    * `dist_ppm > maxDistPpm` are rejected.
    *
    * Scale shape: the LSH stage does all corpus-sized work (thin
    * banded-signature shuffles, capped buckets); text moves only for
    * the surviving CANDIDATE PAIRS — two id-keyed hash joins, each
    * carrying one text copy per candidate, bounded by the pair count,
    * not the corpus. The per-pair cost is the classic O(|a|·|b|) DP —
    * callers gate long docs upstream (or raise minEstJaccard) if pair
    * texts exceed ~10^5 chars; a banded/thresholded DP would cut this
    * to O(maxDist·|a|) but is deliberately not used so the oracle's
    * stock `levenshtein` matches exactly.
    *
    * Returns (a, b, est_jaccard, edit_dist, dist_ppm) for verified
    * pairs.
    */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 8, seed: Long = 42L,
      minEstJaccard: Double = 0.5, shingleN: Int = 1,
      maxBucket: Int = 0, maxDistPpm: Long = 300000L): DataFrame = {
    require(maxDistPpm >= 0)
    val cand = spreadPairs(minhashLshPairs(df, idCol, textCol, k, bands,
      seed, minEstJaccard, shingleN, maxBucket))
    val txt = df.select(col(idCol), col(textCol))
    cand
      .join(txt.select(col(idCol).as("a"), col(textCol).as("_ta")),
        Seq("a"))
      .join(txt.select(col(idCol).as("b"), col(textCol).as("_tb")),
        Seq("b"))
      .withColumn("edit_dist",
        levenshtein(col("_ta"), col("_tb")).cast("long"))
      .withColumn("_maxlen",
        greatest(length(col("_ta")), length(col("_tb"))).cast("long"))
      .withColumn("dist_ppm", when(col("_maxlen") > 0,
          call_function("div", col("edit_dist") * lit(1000000L),
            col("_maxlen")))
        .otherwise(lit(0L)).cast("long"))
      .filter(col("dist_ppm") <= maxDistPpm)
      .select(col("a"), col("b"), col("est_jaccard"), col("edit_dist"),
        col("dist_ppm"))
  }

  /** Dedup end-game: candidate pairs → connected components → canonical
    * survivor per component (min id). Returns (id, canonical_id) for
    * EVERY row of `df` — docs with no near-dup pair are their own
    * canonical; `filter(id === canonical_id)` keeps the survivors.
    *
    * Large-star/small-star contraction (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond"): O(log n) rounds on any
    * component shape, where min-id label propagation needs diameter
    * rounds (a chain of 10^4 near-identical docs — a crawler trap —
    * would need 10^4 joins). Per round: large-star hooks every larger
    * neighbor of a node to its minimum, small-star re-hooks the smaller
    * neighbors; both are one groupBy + one join over the edge set only.
    * The loop never carries the corpus: docs with no candidate edge
    * are their own canonical by definition and rejoin via one left
    * join at the end (at 100 TB, carrying them would add 10^12 rows of
    * dead weight per round). Only (id, label) rows and candidate edges
    * shuffle — never text.
    *
    * Convergence probe is FUSED into the hooking passes: an output
    * edge is flagged dirty when it was produced by a rewire — a
    * large-star hook with m ≠ c, or any small-star hook (a hooked
    * edge (m,n) always differs from its source (n,c) since m ≤ n < c)
    * — and center edges inherit their group's dirty bit so a
    * large-pass rewire can't be laundered by the small pass. Every
    * emitted edge is pointwise ≤ its source with equality exactly when
    * nothing rewired, so "no dirty edge" ⟺ the edge set is a fixpoint
    * — the same EXACT criterion as a set-equality check, at one cheap
    * scan of the just-checkpointed blocks per round instead of two
    * actions plus an exceptAll shuffle.
    *
    * Throws on non-convergence: star contraction halves component
    * height per round (O(log n) rounds in the largest component size,
    * so the default 32 covers any physical corpus); a truncated
    * fixpoint would emit an inconsistent labeling — members mapped to
    * intermediates, one component split into several — and silently
    * keep duplicates downstream, which is strictly worse than failing
    * loudly.
    */
  def canonicalize(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 32): DataFrame = {
    // Iterative fixpoint state is localCheckpoint'ed (truncated lineage,
    // eager, per-run RDD blocks), NOT persist()'ed: persist keys the
    // cache by analyzed-plan equality, so two runs of the same
    // canonicalize (e.g. a warmup pass then a measured pass) silently
    // SHARE cache entries, and each run's unpersist()/partial
    // materialization corrupts the other's — the returned frame could
    // re-run the whole candidate-pair generation on its next action.
    // localCheckpoint is the single-process analogue of checkpoint(dir)
    // on a real cluster (which a 100 TB run would use for the same
    // lineage-truncation reason). Each round's checkpoint releases the
    // previous one once it has materialized, so at most two edge sets
    // stay pinned in storage memory.
    //
    // canonical undirected edges (u < v), self-loops dropped
    var edges = pairs
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint() // eager: pair generation runs exactly once
    var prev = edges
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      // large-star: around every center c, hook each LARGER neighbor to
      // m = min(Γ(c) ∪ {c}); (c,m) itself is kept via the v>c emits of
      // m's own star, so emitting only n>c loses no connectivity
      val nbrs = edges.select(col("u").as("c"), col("v").as("n"))
        .union(edges.select(col("v").as("c"), col("u").as("n")))
      val mins = nbrs.groupBy(col("c"))
        .agg(min(col("n")).as("_nm"))
        .select(col("c"), least(col("_nm"), col("c")).as("m"))
      // dedup via groupBy(max) instead of distinct so the dirty bit
      // survives edge merging
      val afterLarge = nbrs.join(mins, "c")
        .filter(col("n") > col("c") && col("n") =!= col("m"))
        .groupBy(col("m").as("u"), col("n").as("v"))
        .agg(max(col("m") =!= col("c")).as("_ch"))
      // small-star: orient (max→min), hook all smaller neighbors (and
      // the center) to the minimum
      val small = afterLarge
        .select(col("v").as("c"), col("u").as("n"), col("_ch")) // n < c
      val smins = small.groupBy(col("c"))
        .agg(min(col("n")).as("m"), max(col("_ch")).as("_anych"))
      val hooked = small.join(smins, "c")
        .filter(col("n") =!= col("m"))
        .select(col("m").as("u"), col("n").as("v"),
          lit(true).as("_ch")) // a small-star hook is always a rewire
      val centers = smins.select(col("m").as("u"), col("c").as("v"),
        col("_anych").as("_ch"))
      val next = hooked.union(centers)
        .filter(col("u") =!= col("v"))
        .groupBy(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .agg(max(col("_ch")).as("_ch"))
        .localCheckpoint()
      // fused probe: one scan of the just-checkpointed blocks
      converged = next.filter(col("_ch")).isEmpty
      Checkpoints.release(prev)
      prev = next
      edges = next.drop("_ch")
      iter += 1
    }
    if (!converged && iter >= maxIter)
      throw new IllegalStateException(
        s"canonicalize: not converged after $maxIter rounds — a " +
          "truncated edge set yields an inconsistent labeling " +
          "(duplicates silently kept); raise maxIter")
    // converged star forest: every edge is (root, member)
    val canon = edges.select(col("v").as("id"), col("u").as("_c"))
      .union(edges.select(col("u").as("id"), col("u").as("_c")))
      .groupBy(col("id")).agg(min(col("_c")).as("_c"))
    df.select(col(idCol).as("id"))
      .join(canon, Seq("id"), "left")
      .select(col("id"), coalesce(col("_c"), col("id")).as("canonical_id"))
  }

  /** Incremental-ingestion dedup: classify every document of a NEW
    * batch against an EXISTING corpus — `exact` (same md5 fingerprint
    * as an index doc), `near` (MinHash-LSH estimated Jaccard ≥
    * threshold vs an index doc) or `new`, with `dup_of` = the smallest
    * matching index id. The production shape of "merge this week's
    * crawl into the curated corpus": batch-internal dups are the
    * existing operators' job; this answers "have we already got it".
    *
    * Scale shape: candidates come from the same banded-signature
    * machinery as [[minhashLshPairs]] over the tagged union, so only
    * (band, bucket) keys and signatures shuffle; cross-side pairs are
    * kept (intra-side pairs drop). A real deployment persists the
    * index side's (id, fp, m0..mk-1) once and reuses it per batch —
    * the signature columns here are exactly that table, recomputed
    * from text for a self-contained call. Ids must be unique across
    * both frames (true of any monotone corpus id space).
    *
    * Returns (idCol, verdict, dup_of) for every new-batch row.
    */
  def dedupAgainstIndex(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, k: Int = 16, bands: Int = 8,
      minEstJaccard: Double = 0.5, shingleN: Int = 3,
      maxBucket: Int = 0): DataFrame =
    dedupAgainstIndexSigs(newDocs, idCol, textCol,
      signatureTable(index, idCol, textCol, k, 42L, shingleN),
      k, bands, 42L, minEstJaccard, shingleN, maxBucket)

  /** [[dedupAgainstIndex]] against a PERSISTED index signature table
    * (the (id, fp, m0..m{k-1}) shape of [[signatureTable]]) — the
    * production incremental-ingestion form: only the NEW batch's text
    * is tokenized/hashed; the corpus index re-enters candidate
    * generation as stored 8-byte perms. Verdict semantics identical to
    * the self-contained call (same banding, same cross-side pairing,
    * same min-id dup_of). `k`, `seed` and `shingleN` must match the
    * values the index was built with.
    */
  def dedupAgainstIndexSigs(newDocs: DataFrame, idCol: String,
      textCol: String, indexSigs: DataFrame, k: Int = 16,
      bands: Int = 8, seed: Long = 42L, minEstJaccard: Double = 0.5,
      shingleN: Int = 3, maxBucket: Int = 0,
      precomputedNewSigs: Option[DataFrame] = None): DataFrame = {
    // a precomputed table built with a different k is detectable from
    // its schema — reject it loudly (seed/shingleN mismatches are NOT
    // schema-visible: they must match the index build, per the
    // scaladoc, or near-dup verdicts are silently wrong)
    precomputedNewSigs.foreach { s =>
      val expect = Set("id", "fp") ++ (0 until k).map(i => s"m$i")
      require(s.columns.toSet == expect,
        s"precomputed signature columns [${s.columns.sorted.mkString(",")}] " +
          s"do not match k=$k (expected id, fp, m0..m${k - 1})")
    }
    val newSigs = precomputedNewSigs.getOrElse(
      signatureTable(newDocs, idCol, textCol, k, seed, shingleN))
    val tagged = indexSigs.withColumn("_idx", lit(true))
      .unionByName(newSigs.withColumn("_idx", lit(false)))
    val sig = tagged.select(col("id"), col("_idx"), col("fp"),
      sigArray(k).as("sig"))
    val capped = capBuckets(
      bandedFromSig(sig, k, bands)
        .select(col("id"), col("_idx"), col("sig"), col("band"),
          col("bucket"))
        .localCheckpoint(),
      maxBucket)
    val l = capped.filter(col("_idx")).as("l")
    val r = capped.filter(!col("_idx")).as("r")
    val cross = l.join(r, col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket"))
      .select(col("l.id").as("_iid"), col("r.id").as("_nid"),
        estJaccardCol(col("l.sig"), col("r.sig"), k).as("est_jaccard"))
      // filter before the dedup shuffle (minhashLshPairs discipline)
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
    val near = cross.groupBy(col("_nid")).agg(min(col("_iid")).as("_nd"))
    val exact = newSigs
      .select(col("id").as("_xnid"), col("fp"))
      .join(indexSigs.select(col("fp"), col("id").as("_xiid")), "fp")
      .groupBy(col("_xnid")).agg(min(col("_xiid")).as("_xd"))
    newDocs.select(col(idCol))
      .join(exact, col(idCol) === col("_xnid"), "left")
      .join(near, col(idCol) === col("_nid"), "left")
      .select(col(idCol) +: indexVerdict(col("_xd"), col("_nd")): _*)
  }

  /** The incremental-dedup verdict from a document's min exact-match
    * and min near-match index ids: exact beats near, else new; `dup_of`
    * is the id that decided it. Shared by [[dedupAgainstIndexSigs]] and
    * its streaming twin.
    */
  private[graft] def indexVerdict(exactOf: Column,
      nearOf: Column): Seq[Column] = Seq(
    when(exactOf.isNotNull, lit("exact"))
      .when(nearOf.isNotNull, lit("near"))
      .otherwise(lit("new")).as("verdict"),
    coalesce(exactOf, nearOf).as("dup_of"))

  /** Duplicate-cluster survivor selection by QUALITY: within each
    * near-dup cluster keep the highest-scoring member instead of the
    * arbitrary min-id canonical — the curation-quality refinement over
    * plain `filter(id === canonical_id)` (when a page and its mirror
    * differ only in boilerplate damage, min-id keeps a coin flip;
    * max-quality keeps the clean one).
    *
    * `labels` is [[canonicalize]] output
    * (id, canonical_id) — singletons are their own cluster and survive
    * trivially. The survivor is argmax(score), ties broken by min id,
    * computed as TWO thin aggregations (max score per cluster, then min
    * id among the maxima) plus join-backs — never a per-cluster window:
    * cluster sizes are adversarial at corpus scale (one viral spam
    * template can cluster 10^8 docs, and a window partition is one
    * task), while agg partials combine map-side regardless of cluster
    * size. Only (id, canonical_id, score) rows shuffle. Deterministic
    * for any orderable score type; exact ties fall to the id order.
    * Null-score rows lose to any non-null score; a cluster whose EVERY
    * score is null (or whose ids are missing from `scored` — the join
    * is left) still keeps exactly one survivor, the min id, instead of
    * silently vanishing. Output: (id, canonical_id, score, survivor).
    */
  def keepBestPerCluster(labels: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val l = labels.select(col("id"), col("canonical_id"))
      .join(scored.select(col(idCol).as("id"),
        col(scoreCol).as("score")), Seq("id"), "left")
    val best = l.groupBy(col("canonical_id"))
      .agg(max(col("score")).as("_ms")) // null iff ALL scores null
    val bestId = l.join(best, Seq("canonical_id"))
      .filter(col("score") <=> col("_ms")) // null-safe: all-null
      // clusters match every member and fall to the min-id tiebreak
      .groupBy(col("canonical_id")).agg(min(col("id")).as("_bid"))
    l.join(bestId, Seq("canonical_id"))
      .select(col("id"), col("canonical_id"), col("score"),
        (col("id") === col("_bid")).as("survivor"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, bucketed by
    * random-hyperplane LSH so the pairwise work stays within buckets.
    *
    * `planes` is a CALLER decision at scale: buckets = 2^planes, and the
    * within-bucket self-join is quadratic in bucket size, so pick planes
    * ≈ log2(corpus / targetBucketSize) (e.g. 1e9 docs at ~1k-vector
    * buckets → planes ≈ 20).
    *
    * @param maxBucket buckets larger than this are skipped (0 =
    *                  unbounded) — the same big-bucket guard as
    *                  minhashLshPairs: a dense embedding region
    *                  (near-duplicate spam clusters) otherwise goes
    *                  quadratic inside its bucket. NOT silent: see
    *                  embeddingNearDupSkippedBuckets.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 8, dim: Int = 64,
      seed: Long = 42L, maxBucket: Int = 0): DataFrame = {
    val bucketed = embeddingBuckets(df, idCol, vecCol, planes, dim, seed)
    // same two-pass guard as capBuckets: never materialize a hot
    // bucket inside one window task just to count it
    val capped =
      if (maxBucket <= 0) bucketed
      else {
        val fenced = bucketed.localCheckpoint()
        val over = fenced.groupBy(col("bucket"))
          .agg(count(lit(1)).as("_bsz"))
          .filter(col("_bsz") > maxBucket)
          .select(col("bucket"))
        // no forced broadcast — same worst-case bound rationale as
        // capBuckets: AQE picks broadcast from the actual runtime size
        fenced.join(over, Seq("bucket"), "left_anti")
      }
    capped.as("l").join(capped.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .withColumn("cosine", SimSearch.cosine(col("l.v"), col("r.v")))
      .filter(col("cosine") >= threshold)
      .select(col("l.id").as("a"), col("r.id").as("b"), col("cosine"))
  }

  private def embeddingBuckets(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, dim: Int, seed: Long): DataFrame =
    df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket",
        SimSearch.hyperplaneBucket(col("v"), planes, dim, seed))

  /** The buckets a `maxBucket` cap would skip, with sizes — no-silent-
    * caps accounting (companion to embeddingNearDupPairs, mirroring
    * minhashLshSkippedBuckets).
    */
  def embeddingNearDupSkippedBuckets(df: DataFrame, idCol: String,
      vecCol: String, planes: Int = 8, dim: Int = 64, seed: Long = 42L,
      maxBucket: Int = 0): DataFrame =
    embeddingBuckets(df, idCol, vecCol, planes, dim, seed)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(lit(maxBucket) > 0 && col("bucket_size") > maxBucket)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition embeddings with the IVF coarse
    * quantizer's deterministically sampled centroids
    * ([[SimSearch.ivfCentroids]]), compute pairwise cosine ONLY within
    * each cluster, and drop every vector that has an in-cluster
    * lower-id neighbor with cosine ≥ threshold (the keep-lowest-id
    * greedy — deterministic, engine-reproducible, and the standard
    * "keep one exemplar per ε-ball" relaxation the paper uses; unlike
    * [[embeddingNearDupPairs]] this returns a per-document VERDICT, not
    * candidate pairs, so it slots directly into a curation flow).
    *
    * Scale shape: the corpus shuffles once on the cell id; within-cell
    * work is quadratic in cell population, which the caller bounds by
    * scaling `nCells` with the corpus (cells ≈ N / targetCellSize —
    * the paper's k plays the same role). `maxCell` (0 = unbounded)
    * additionally skips pathological hot cells (embedding-collapsed
    * spam regions) from PAIR GENERATION only — their members are then
    * all kept, and the skip is visible in
    * [[semanticDedupSkippedCells]], per the repo's no-silent-caps rule.
    * Cross-cell near-duplicates are missed by construction (the
    * paper's known recall trade); run [[embeddingNearDupPairs]] when
    * pair-level recall across cell boundaries matters.
    *
    * Returns one row per input: (id, cell, kept, dup_of) where dup_of
    * is the smallest lower-id in-cell neighbor above threshold (null
    * for kept rows).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, threshold: Double = 0.9, seed: Long = 42L,
      maxCell: Int = 0): DataFrame = {
    val cents = SimSearch.ivfCentroids(df, idCol, vecCol, nCells, seed)
    val assigned = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", SimSearch.ivfCell(col("v"), cents))
    // the cap must NOT be a count-window over `assigned` (vector-
    // carrying rows): a window partition is one task, and maxCell
    // exists precisely for hot cells that would drown that task. A
    // thin partial-agg count + anti-join of the (small) over-cap cell
    // list costs no corpus-sized single-partition stage.
    val capped =
      if (maxCell <= 0) assigned
      else assigned.join(
        assigned.groupBy(col("cell")).agg(count(lit(1)).as("_csz"))
          .filter(col("_csz") > maxCell).select(col("cell")),
        Seq("cell"), "left_anti")
    val dups = capped.as("l").join(capped.as("r"),
        col("l.cell") === col("r.cell") && col("r.id") < col("l.id"))
      .withColumn("cosine", SimSearch.cosine(col("l.v"), col("r.v")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("l.id").as("_did"))
      .agg(min(col("r.id")).as("dup_of"))
    assigned.join(dups, col("id") === col("_did"), "left")
      .select(col("id"), col("cell"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
  }

  /** Cells a `maxCell` cap would exclude from semanticDedup pair
    * generation, with sizes — the no-silent-caps accounting companion.
    */
  def semanticDedupSkippedCells(df: DataFrame, idCol: String,
      vecCol: String, nCells: Int = 16, seed: Long = 42L,
      maxCell: Int = 0): DataFrame = {
    val cents = SimSearch.ivfCentroids(df, idCol, vecCol, nCells, seed)
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", SimSearch.ivfCell(col("v"), cents))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_size"))
      .filter(lit(maxCell) > 0 && col("cell_size") > maxCell)
  }
}
