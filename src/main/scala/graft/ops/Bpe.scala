package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training and
  * serving (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units") — the tokenizer-induction step of a
  * pre-training pipeline, downstream of [[Curation.topNgrams]]'s
  * phrase report and upstream of sequence packing.
  *
  * Scale shape — the part that matters at 100 TB: BPE merges never
  * cross word boundaries, so training operates on the WORD-FREQUENCY
  * table, not the corpus. One aggregation (shuffle on the word — the
  * only corpus-sized pass) reduces 10^12 documents to ~10^8-10^9
  * distinct words; every merge iteration then runs on that
  * vocabulary-sized table: adjacent-pair counts as one partial-agg
  * groupBy (thin (pa, pb, n) rows), a SINGLE-ROW collect for the
  * argmax pair (deterministic tie-break: count desc, then pair
  * lexicographic), and a pure per-row array fold applying the merge.
  * Loop state is localCheckpoint'ed per round and the previous round's
  * blocks are released — the same iterative-fixpoint discipline as
  * [[Dedup.canonicalize]].
  *
  * Determinism: counts are exact longs; the argmax tie-break is total;
  * the merge fold is greedy left-to-right (the reference semantics) —
  * so the merge table is a pure function of the corpus across runs,
  * partitionings and parallelism levels (golden-tested against a
  * scalar reference implementation).
  */
object Bpe {

  /** One learned merge: `left` + `right` -> `merged`, with the pair
    * count that won the step (0-based `step`).
    */
  final case class Merge(step: Int, left: String, right: String,
      merged: String, pairCount: Long)

  /** Word-frequency table (word, n) — the one corpus-sized pass. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Dedup.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Initial symbol sequence of a word: its characters plus the
    * standard end-of-word marker as a final symbol (so merges can
    * learn suffix units distinct from in-word units).
    */
  val EndOfWord = "</w>"
  def initSyms(w: Column): Column =
    concat(
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))),
      array(lit(EndOfWord)))

  /** Adjacent symbol pairs of a symbol array, as (pa, pb) structs. */
  def adjacentPairs(syms: Column): Column = {
    val n = size(syms)
    when(n >= 2, transform(sequence(lit(1), n - 1),
      i => struct(element_at(syms, i).as("pa"),
        element_at(syms, i + 1).as("pb"))))
      .otherwise(array().cast("array<struct<pa:string,pb:string>>"))
  }

  /** Greedy left-to-right application of ONE merge (a, b) -> a+b to a
    * symbol array, as a pure Column fold: state = (acc, carry) where
    * carry is the last symbol not yet committed; a carry of `a`
    * followed by `b` commits the merged symbol, anything else commits
    * the carry. "a a a" under (a,a) yields ["aa","a"] — the reference
    * greedy semantics.
    */
  def applyMerge(syms: Column, a: String, b: String): Column = {
    val zero = struct(
      array().cast("array<string>").as("acc"),
      lit(null).cast("string").as("carry"))
    val commitCarry = (st: Column) =>
      when(st("carry").isNotNull, concat(st("acc"), array(st("carry"))))
        .otherwise(st("acc"))
    aggregate(syms, zero,
      (st, s) =>
        when(st("carry").isNotNull && st("carry") === a && s === b,
          struct(concat(st("acc"), array(lit(a + b))).as("acc"),
            lit(null).cast("string").as("carry")))
          .otherwise(struct(commitCarry(st).as("acc"), s.as("carry"))),
      st => commitCarry(st))
  }

  /** The word-frequency table expanded to initial symbol sequences —
    * the training loop's round-0 state (n, syms).
    */
  def initialSymbolTable(df: DataFrame, textCol: String): DataFrame =
    wordCounts(df, textCol)
      .select(col("n"), initSyms(col("word")).as("syms"))

  /** Adjacent-pair counts of a symbol table (pa, pb, cnt) — the
    * quantity each training iteration takes the argmax of. One
    * partial-agg groupBy over vocabulary-sized thin rows.
    */
  def pairCounts(syms: DataFrame): DataFrame =
    syms.select(col("n"), explode(adjacentPairs(col("syms"))).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(sum(col("n")).as("cnt"))

  /** Train `numMerges` BPE merges over the corpus. Stops early when no
    * remaining pair reaches `minPairCount` (a merge seen once is
    * noise). Each iteration: pair counts (vocabulary-sized partial-agg
    * groupBy) -> 1-row argmax collect -> per-row fold. Returns the
    * ordered merge table.
    */
  def trainBpe(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L): Seq[Merge] = {
    require(numMerges >= 0)
    var syms = initialSymbolTable(df, textCol).localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var step = 0
    var done = numMerges == 0
    while (!done) {
      val top = pairCounts(syms)
        .orderBy(col("cnt").desc, col("pa"), col("pb"))
        .limit(1).collect()
      top.headOption.filter(_.getLong(2) >= minPairCount) match {
        case Some(r) =>
          val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
          merges += Merge(step, a, b, a + b, c)
          val next = syms
            .withColumn("syms", applyMerge(col("syms"), a, b))
            .localCheckpoint()
          Checkpoints.release(syms)
          syms = next
          step += 1
          done = step >= numMerges
        case None => done = true
      }
    }
    Checkpoints.release(syms)
    merges.result()
  }

  /** Encode documents with a trained merge table: tokenize, expand
    * each word to its initial symbols, apply the merges IN TRAINING
    * ORDER (the reference encoder), flatten. Appends `bpe_tokens` and
    * `n_bpe_tokens`.
    *
    * This is the PRODUCTION path: the native codegen kernel
    * [[graft.functions.BpeEncodeWords]], whose per-word cost is
    * O(len · merges-applied) and independent of the merge-table size
    * — a 30k-merge vocabulary costs the same per word as a 30-merge
    * one (the Column-fold spelling, kept as [[encodeFold]], nests one
    * array-aggregate per merge and was honest-but-demo-scale).
    * Results are IDENTICAL to the fold (golden fuzz in BpeSpec); the
    * corpus pass stays one per-row projection, no shuffle.
    */
  def encode(df: DataFrame, textCol: String, merges: Seq[Merge])
      : DataFrame =
    df.withColumn("bpe_tokens",
        graft.functions.BpeEncodeWords(Dedup.tokens(col(textCol)),
          merges.map(m => (m.left, m.right))))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))

  /** The pure-Column twin of [[encode]] — one nested array-aggregate
    * per merge, kept as the engine-portable reference the kernel is
    * golden-tested against (and the spelling an oracle could
    * re-derive). Demonstration scale: fine for tens of merges, not
    * thousands.
    */
  def encodeFold(df: DataFrame, textCol: String, merges: Seq[Merge])
      : DataFrame = {
    val perWord = (w: Column) =>
      merges.foldLeft(initSyms(w)) { case (s, m) =>
        applyMerge(s, m.left, m.right)
      }
    df.withColumn("bpe_tokens",
        flatten(transform(Dedup.tokens(col(textCol)), w => perWord(w))))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))
  }

  /** Production trainer: ONE corpus aggregation, then the whole merge
    * loop driver-side over the (bounded) word-frequency table — 30k
    * merges become 30k in-memory steps instead of 30k Spark jobs
    * ([[trainBpe]]'s one-action-per-merge loop, kept as the
    * distributed reference twin). This is the shape every production
    * tokenizer trainer uses (word-count table + capped vocabulary):
    * the corpus-sized work is exactly one `wordCounts` shuffle; the
    * collect is BOUNDED by `maxWords` (top words by (n desc, word) —
    * a deterministic prune; ≤ maxWords rows of short strings, default
    * 4M ≈ well under a GB).
    *
    * EXACT when the corpus has ≤ maxWords distinct words (golden:
    * identical merge table to [[trainBpe]] and the scalar reference);
    * above that it trains on the frequency-pruned vocabulary — the
    * standard practical trade, and deterministic.
    *
    * In-memory loop: pair counts live in a hash map; the argmax rides
    * a TreeSet ordered by (count desc, pa, pb) with UTF-8-BYTE string
    * order (= Spark's binary string comparison, so tie-breaks match
    * trainBpe exactly); each merge re-counts only the words that
    * contain the merged pair (tracked per pair), so a step costs the
    * total length of affected words, not the vocabulary.
    */
  def trainBpeLocal(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, maxWords: Int = 1 << 22): Seq[Merge] = {
    require(numMerges >= 0 && maxWords > 0)
    val rows = wordCounts(df, textCol)
      .orderBy(col("n").desc, col("word"))
      .limit(maxWords)
      .collect()

    // UTF-8-byte string order — Spark's binary comparison
    val u8: Ordering[String] = (a: String, b: String) => {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      var r = 0
      while (r == 0 && i < n) {
        r = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff); i += 1
      }
      if (r != 0) r else java.lang.Integer.compare(x.length, y.length)
    }
    implicit val pairOrd: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, u8, u8)

    val ns = rows.map(_.getLong(1))
    val seqs: Array[Vector[String]] = rows.map { r =>
      val w = r.getString(0)
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cc = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + cc); i += cc
      }
      b += EndOfWord
      b.result()
    }
    val counts = scala.collection.mutable.HashMap
      .empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    val heap = scala.collection.mutable.TreeSet
      .empty[(Long, String, String)]
    def bump(p: (String, String), delta: Long, wid: Int): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) heap.remove((old, p._1, p._2))
      val now = old + delta
      if (now != 0L) { counts(p) = now; heap.add((now, p._1, p._2)) }
      else counts.remove(p)
      val s = occ.getOrElseUpdate(p, scala.collection.mutable.Set.empty)
      if (delta > 0) s += wid
      else if (now == 0L) { occ.remove(p); () }
    }
    def pairsOf(s: Vector[String]): Iterator[(String, String)] =
      if (s.length < 2) Iterator.empty
      else s.iterator.zip(s.iterator.drop(1))
    seqs.indices.foreach { wid =>
      pairsOf(seqs(wid)).foreach(p => bump(p, ns(wid), wid))
    }

    val merges = Seq.newBuilder[Merge]
    var step = 0
    var done = numMerges == 0
    while (!done) {
      heap.headOption.filter(_._1 >= minPairCount) match {
        case Some((c, a, b)) =>
          merges += Merge(step, a, b, a + b, c)
          val affected = occ.getOrElse((a, b),
            scala.collection.mutable.Set.empty[Int]).toArray
          affected.foreach { wid =>
            val oldSeq = seqs(wid)
            pairsOf(oldSeq).foreach(p => bump(p, -ns(wid), wid))
            // occ entries for this word's now-stale pairs are lazily
            // wrong only when count stayed > 0 via OTHER words; a
            // stale wid in occ is harmless (re-processing a word that
            // no longer contains the pair is a no-op subtract/add)
            val merged = Vector.newBuilder[String]
            var i = 0
            while (i < oldSeq.length) {
              if (i + 1 < oldSeq.length && oldSeq(i) == a &&
                  oldSeq(i + 1) == b) {
                merged += (a + b); i += 2
              } else { merged += oldSeq(i); i += 1 }
            }
            seqs(wid) = merged.result()
            pairsOf(seqs(wid)).foreach(p => bump(p, ns(wid), wid))
          }
          step += 1
          done = step >= numMerges
        case None => done = true
      }
    }
    merges.result()
  }

  /** Inverse of [[encode]]: concatenate the symbol stream and turn
    * each end-of-word marker back into one space — the exact
    * round-trip of the whitespace-normalized lowercase token stream
    * encode consumed (BPE merges only ever regroup characters inside
    * a word, so decode is merge-table-free). Pure per-row Columns.
    */
  def decode(bpeTokens: Column): Column =
    trim(replace(concat_ws("", bpeTokens), lit(EndOfWord), lit(" ")))
}
