package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe replacements for per-stratum analytic windows.
  *
  * A Spark window partition is processed by exactly one task, so
  * `Window.partitionBy(stratum)` over corpus rows puts an entire
  * stratum — at the 10^12-doc design scale, ~10^11 thin rows for the
  * English stratum — into ONE task. The operators here compute the
  * same exact results (global per-stratum ranks / running sums) from
  * bounded-size window partitions:
  *
  *   1. split each stratum into order-consistent shards (every row of
  *      shard i sorts before every row of shard i+1 within its
  *      stratum),
  *   2. run the window per (stratum, shard) — partitions of
  *      ~|corpus|/shards rows,
  *   3. compute per-(stratum, shard) partial counts/sums (one
  *      partial-agg groupBy — tiny output: strata × shards rows),
  *      turn them into prefix offsets with a window over that tiny
  *      table, and join the offsets back.
  *
  * The same two-pass shape as [[Curation.packSequences]]'s hash shards,
  * except the shards are order-consistent so cross-shard prefix sums
  * and ranks are exact.
  */
object ScaleWindow {

  /** Exact global per-stratum `row_number()` over an arbitrary sort
    * order plus the stratum row count, with no corpus-sized window
    * partition.
    *
    * Shards come from `repartitionByRange` on (strata ++ order): the
    * range partitioner samples boundaries over the full composite key,
    * so shards are order-consistent by construction and balanced even
    * when the order column is wildly skewed (ties broken by a unique
    * trailing key — e.g. the document id — give every row a distinct
    * composite key, so even a constant score column range-partitions
    * evenly). The shard id (`spark_partition_id`) is materialized with
    * `localCheckpoint` because the per-row rank pass and the
    * per-shard-offset pass MUST observe the same sampled boundaries —
    * two independent executions of the range exchange may sample
    * differently. On a real cluster the same seam is a reliable
    * checkpoint / intermediate table (io.TableIO); the RESULT is
    * boundary-independent either way, since offsets are derived from
    * whatever boundaries were drawn.
    *
    * Appends `rnOut` (1-based global rank within the stratum, long) and
    * `nOut` (stratum row count, long). Strata may be null (null-safe
    * offset join). `shards` <= 0 uses spark.sql.shuffle.partitions.
    */
  def shardedRank(df: DataFrame, strataCols: Seq[String],
      order: Seq[Column], rnOut: String, nOut: String,
      shards: Int = 0, boundedStrata: Boolean = false): DataFrame = {
    // Rank needs no analytic window at all: after the range exchange
    // the rows are sorted WITHIN each shard (sortWithinPartitions — no
    // further exchange), and `monotonically_increasing_id()` assigns
    // per-partition-contiguous ids in that sorted stream order, so the
    // local row number is `_sw_m − min(_sw_m within (stratum, shard)) +
    // 1` — a projection plus the same thin partials aggregate the
    // offsets already needed. This removes the hash re-exchange on
    // `_sw_pid` AND the separate window sort that the generic
    // [[shardedPrefix]] pays over the full table (its
    // Window.partitionBy(pid) cannot see that the range exchange
    // already co-located the pid groups). mono-id is nondeterministic
    // in Catalyst, so the optimizer cannot push the projection below
    // the sort; the localCheckpoint pins one evaluation for every
    // consumer (rank pass and offsets pass must observe the same
    // sampled range boundaries, as in shardedPrefix). Running SUMS
    // still need the real window — [[shardedRunningSum]] keeps the
    // generic path.
    val spark = df.sparkSession
    val p =
      if (shards > 0) shards
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val strata = strataCols.map(col)
    val ranged = df
      .repartitionByRange(math.max(1, p), (strata ++ order): _*)
      .sortWithinPartitions((strata ++ order): _*)
      .withColumn("_sw_m", monotonically_increasing_id())
      .withColumn("_sw_pid", spark_partition_id())
      .localCheckpoint()
    val keys = strata :+ col("_sw_pid")
    val partials = ranged.groupBy(keys: _*)
      .agg(count(lit(1)).as("_sw_cnt"), min(col("_sw_m")).as("_sw_base"))
    val offW = Window.partitionBy(strata: _*).orderBy(col("_sw_pid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(strata: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets0 = partials
      .withColumn("_sw_off", sum(col("_sw_cnt")).over(offW) - col("_sw_cnt"))
      .withColumn("_sw_n", sum(col("_sw_cnt")).over(totW))
      .withColumnRenamed("_sw_pid", "_sw_opid")
    val offsets = strataCols.zipWithIndex.foldLeft(offsets0) {
      case (f, (c, i)) => f.withColumnRenamed(c, s"_sw_s$i")
    }
    val cond = strataCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"_sw_s$i") }
      .foldLeft(col("_sw_pid") === col("_sw_opid"))(_ && _)
    val dropCols = Seq("_sw_pid", "_sw_opid", "_sw_m", "_sw_base",
      "_sw_cnt", "_sw_off", "_sw_n") ++
      strataCols.indices.map(i => s"_sw_s$i")
    val offSide =
      if (strataCols.isEmpty || boundedStrata) broadcast(offsets)
      else offsets
    ranged.join(offSide, cond)
      .withColumn(rnOut,
        col("_sw_off") + (col("_sw_m") - col("_sw_base")) + 1L)
      .withColumn(nOut, col("_sw_n"))
      .drop(dropCols: _*)
  }

  /** Exact global per-stratum INCLUSIVE running sum of `value` over an
    * arbitrary sort order, plus the stratum total — the running-sum
    * twin of [[shardedRank]] (same order-consistent range shards, same
    * checkpointed shard ids, same offset join; the partials carry sums
    * instead of counts). Appends `cumOut` (inclusive prefix sum within
    * the stratum, long) and `totOut` (stratum total, long).
    */
  def shardedRunningSum(df: DataFrame, strataCols: Seq[String],
      order: Seq[Column], value: Column, cumOut: String, totOut: String,
      shards: Int = 0, boundedStrata: Boolean = false): DataFrame =
    shardedPrefix(df.withColumn("_sw_v", value.cast("long")), strataCols,
      order, sum(col("_sw_v")),
      w => sum(col("_sw_v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      cumOut, totOut, shards, boundedStrata)
      .drop("_sw_v")

  /** Shared core: range-shard, per-(stratum, shard) local window value,
    * per-shard partial aggregate → prefix offsets (windows over the
    * strata × shards table only) → offset join back. `localOver` builds
    * the per-row local value from the (stratum, shard)-partitioned
    * window; `partialAgg` is its per-shard total (count for ranks, sum
    * for prefix sums) — the pair must satisfy
    * local(last row of shard) == partialAgg(shard) for offsets to be
    * exact.
    *
    * `boundedStrata` marks the stratum count as BOUNDED BY THE WORKLOAD
    * (a query panel, a language set) rather than by the corpus: the
    * offsets table — strata × shards thin rows — is then provably
    * small, and broadcasting it replaces the offset-attach
    * SortMergeJoin (which pays a corpus-sized Exchange + Sort on the
    * ranked side: the LogicalRDD behind the checkpoint has unknown
    * partitioning, so EnsureRequirements re-shuffles the whole table
    * just to meet a join whose other side is a few hundred rows) with
    * a BroadcastHashJoin that streams the windowed rows as-is. With
    * NO strata the offsets table is exactly `shards` rows, so the
    * broadcast is always safe and applied unconditionally. Per-corpus
    * strata (a per-host cap) must keep the default: their offsets
    * table scales with the corpus and may not fit an executor.
    */
  private def shardedPrefix(df: DataFrame, strataCols: Seq[String],
      order: Seq[Column], partialAgg: Column,
      localOver: org.apache.spark.sql.expressions.WindowSpec => Column,
      outCol: String, totOut: String, shards: Int,
      boundedStrata: Boolean): DataFrame = {
    val spark = df.sparkSession
    val p =
      if (shards > 0) shards
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val strata = strataCols.map(col)
    val ranged = df
      .repartitionByRange(math.max(1, p), (strata ++ order): _*)
      .withColumn("_sw_pid", spark_partition_id())
      .localCheckpoint()
    val keys = strata :+ col("_sw_pid")
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    val partials = ranged.groupBy(keys: _*)
      .agg(partialAgg.as("_sw_cnt"))
    val offW = Window.partitionBy(strata: _*).orderBy(col("_sw_pid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(strata: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // offsets table: strata × shards rows; its windows partition by
    // stratum but run over the AGGREGATED table (shards rows per
    // stratum), never the corpus
    val offsets0 = partials
      .withColumn("_sw_off", sum(col("_sw_cnt")).over(offW) - col("_sw_cnt"))
      .withColumn("_sw_n", sum(col("_sw_cnt")).over(totW))
      .withColumnRenamed("_sw_pid", "_sw_opid")
    val offsets = strataCols.zipWithIndex.foldLeft(offsets0) {
      case (f, (c, i)) => f.withColumnRenamed(c, s"_sw_s$i")
    }
    val cond = strataCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"_sw_s$i") }
      .foldLeft(col("_sw_pid") === col("_sw_opid"))(_ && _)
    val dropCols = Seq("_sw_pid", "_sw_opid", "_sw_lrn", "_sw_cnt",
      "_sw_off", "_sw_n") ++ strataCols.indices.map(i => s"_sw_s$i")
    val offSide =
      if (strataCols.isEmpty || boundedStrata) broadcast(offsets)
      else offsets
    ranged
      .withColumn("_sw_lrn", localOver(w))
      .join(offSide, cond)
      .withColumn(outCol, col("_sw_off") + col("_sw_lrn"))
      .withColumn(totOut, col("_sw_n"))
      .drop(dropCols: _*)
  }
}
