package graft.io

import graft.model.Page
import graft.pipeline.ExtractionPipeline
import graft.rules.{RuleSet, RuleSets}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

/** Iceberg-semantics emulation over partitioned Parquet (SURVEY §4.3):
  * per-partition commit log (`_lineage/`, one `CommitLog` record per
  * commit unit), idempotent unit outputs, and resume that skips
  * COMMITTED units. The seam is deliberately small so a real Iceberg
  * catalog can replace it unchanged (no iceberg-spark-runtime jar ships
  * in this environment — verified absent). A unit is a url-hash bucket
  * ([[runResumable]]) or a stream micro-batch (`extractStream`, id =
  * batchId); both commit through [[commitWave]].
  *
  * Layout:
  *   out/data/bucket=[id]/ parquet files (overwritten per attempt)
  *   out/_lineage/bucket-[id].json       (CommitLog record)
  *
  * The record-event log is not stored: [[readEvents]] derives it from
  * the committed records.
  */
object TableIO {

  case class Lineage(bucket: Int, status: String, attempt: Int,
      inputRows: Long, outputRows: Long, contentHash: Long,
      startedMs: Long, finishedMs: Long)

  private def lineagePath(out: String, unit: Int): Path =
    Paths.get(out, "_lineage", s"bucket-$unit.json")

  private def lineageAt(p: Path): Option[Lineage] =
    CommitLog.read(p).flatMap(r => Try(Lineage(
      r("bucket").toInt, r("status"), r("attempt").toInt,
      r("inputRows").toLong, r("outputRows").toLong,
      r("contentHash").toLong, r("startedMs").toLong,
      r("finishedMs").toLong)).toOption)

  def readLineage(out: String): Map[Int, Lineage] = {
    val dir = Paths.get(out, "_lineage")
    if (!Files.exists(dir)) return Map.empty
    Using.resource(Files.list(dir))(_.iterator().asScala.toList)
      .filter(_.getFileName.toString.endsWith(".json"))
      .flatMap(lineageAt)
      .map(l => l.bucket -> l).toMap
  }

  /** Whether `unit` is COMMITTED, from its own record alone. */
  private[graft] def isCommitted(out: String, unit: Int): Boolean =
    lineageAt(lineagePath(out, unit)).exists(_.status == "COMMITTED")

  /** One unit's commit: its fields, in declaration order, as keys. */
  private def writeLineage(out: String, l: Lineage): Unit =
    CommitLog.write(lineagePath(out, l.bucket),
      l.productElementNames.zip(l.productIterator).toSeq)

  /** Scala twin of the `pmod(xxhash64(url), buckets)` Column — used for
    * accumulator bucketing inside the extraction job (equality with the
    * Column is asserted in ResumeSpec).
    */
  def bucketFor(url: String, buckets: Int): Int = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(url)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
    (((h % buckets) + buckets) % buckets).toInt
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }

  /** Resumable extraction run: processes only buckets not yet COMMITTED,
    * in WAVES of `waveSize` buckets — one extraction pass per wave (not
    * per bucket: a pass per bucket would rescan the input `buckets`
    * times; a single all-bucket pass would make the commit unit the
    * whole run). With a real Iceberg/partitioned source the wave filter
    * prunes to just the wave's partitions; here it predicate-filters the
    * scan. Each wave is one [[commitWave]] with `partitions = 0`.
    *
    * @param buckets   total url-hash buckets (the resume granularity)
    * @param waveSize  buckets per wave
    * @param failAfter TEST HOOK: abort (like a kill) after committing
    *                  this many buckets this run (-1 = never)
    * @return number of buckets committed this run
    */
  def runResumable(pages: Dataset[Page], out: String, buckets: Int = 16,
      waveSize: Int = 4, rs: RuleSet = RuleSets.plugin,
      failAfter: Int = -1): Int = {
    val pending = (0 until buckets).filterNot(isCommitted(out, _))
    val bucketOf = pmod(xxhash64(col("url")), lit(buckets))
    pending.grouped(waveSize).zipWithIndex.foreach { case (wave, i) =>
      val done = i * waveSize // every wave before the last is full
      if (failAfter >= 0 && done >= failAfter)
        throw new RuntimeException(s"injected failure after $done buckets")
      commitWave(pages.filter(bucketOf.isin(wave: _*)), out, wave,
        bucketOf, bucketFor(_, buckets), rs, partitions = 0)
    }
    pending.size
  }

  /** The extraction wave over `pages`, each of which belongs to one of
    * `units` by `unitCol` (its records) and its Scala twin `unitOf` (its
    * url). A wave is one Spark job, the data write, with no shuffle when
    * `partitions <= 0` (pages are extracted in the scan's own tasks).
    *
    * Commit protocol: delete stale (uncommitted) unit dirs; write every
    * unit in one job, each an idempotent overwrite of its own directory,
    * while an Observation computes each unit's `(count,
    * bit_xor(xxhash64(url, row_text)))` over exactly the rows written;
    * then atomically commit one lineage file per unit, 0-row units
    * included (no directory is a valid outcome). A kill mid-wave leaves
    * no lineage for the wave's units, so the next run redoes the wave.
    * Input counts ride a per-unit accumulator: the input is scanned ONCE.
    * Observed metrics and (with `partitions <= 0`) the accumulators are
    * updated in the write's result stage, so a retried task does not
    * count twice; the commit decision never depends on them.
    */
  private[graft] def commitWave(pages: Dataset[Page], out: String,
      units: Seq[Int], unitCol: Column, unitOf: String => Int, rs: RuleSet,
      partitions: Int): Unit = {
    val t0 = System.currentTimeMillis()
    // stale dirs from a failed attempt carry no lineage; dynamic
    // overwrite replaces only the units this attempt writes rows to,
    // so a unit the retry leaves empty would read back stale rows
    units.foreach(u => deleteRecursively(Paths.get(s"$out/data/bucket=$u")))
    val accs = units.map(u => u ->
      pages.sparkSession.sparkContext.longAccumulator(s"graft_in_$u")).toMap
    val counted = pages.mapPartitions(_.map { p =>
      accs(unitOf(p.url)).add(1L); p })(pages.encoder)
    // a row is counted and hashed only under its own unit's test
    val stats = Observation()
    val hash = xxhash64(col("url"), col("row_text"))
    val perUnit = units.flatMap { u =>
      val in = col("bucket") === u
      // bit_xor: order-independent content hash, no ANSI overflow
      Seq(count(when(in, 1)).as(s"n$u"), bit_xor(when(in, hash)).as(s"h$u"))
    }
    // dynamic partition overwrite touches only the wave's unit dirs
    ExtractionPipeline.records(counted, rs, partitions)
      .withColumn("bucket", unitCol)
      .observe(stats, perUnit.head, perUnit.tail: _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(s"$out/data")
    val observed = stats.get
    units.foreach { u =>
      writeLineage(out, Lineage(u, "COMMITTED",
        lineageAt(lineagePath(out, u)).fold(1)(_.attempt + 1),
        accs(u).value, observed(s"n$u").asInstanceOf[Long],
        Option(observed(s"h$u")).fold(0L)(_.asInstanceOf[Long]), t0,
        System.currentTimeMillis()))
    }
  }

  /** Read the committed dataset (only COMMITTED units). A committed
    * unit with zero output rows has no directory — skipped, not an
    * error.
    */
  def readCommitted(spark: SparkSession, out: String): DataFrame =
    readData(spark, out, committed(out).map(_.bucket))

  /** The committed record-event log (S10): [[ExtractionPipeline.recordEvents]]
    * over [[readCommitted]], with each record's `bucket` (its unit). An
    * event's `ts` is its unit's commit time (lineage `finishedMs`), so the
    * log reads the same every time and a resumed unit's events carry the
    * resume's commit time.
    */
  def readEvents(spark: SparkSession, out: String): DataFrame = {
    val lineage = committed(out)
    val recs = readData(spark, out, lineage.map(_.bucket))
    if (recs.columns.isEmpty) recs
    else {
      val commitMs = typedLit(lineage.map(l => l.bucket -> l.finishedMs).toMap)
      ExtractionPipeline.recordEvents(recs,
        timestamp_millis(element_at(commitMs, col("bucket"))), "bucket")
    }
  }

  private def committed(out: String): Seq[Lineage] =
    readLineage(out).values.filter(_.status == "COMMITTED")
      .toSeq.sortBy(_.bucket)

  private def readData(spark: SparkSession, out: String,
      buckets: Seq[Int]): DataFrame = {
    val base = s"$out/data"
    val paths = buckets.map(b => s"$base/bucket=$b")
      .filter(p => Files.exists(Paths.get(p)))
    if (paths.isEmpty) spark.emptyDataFrame
    else spark.read.option("basePath", base).parquet(paths: _*)
  }
}
