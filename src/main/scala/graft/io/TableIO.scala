package graft.io

import graft.model.Page
import graft.pipeline.ExtractionPipeline
import graft.rules.{RuleSet, RuleSets}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

/** Iceberg-semantics emulation over partitioned Parquet (SURVEY §4.3):
  * per-partition commit log (`_lineage/`, one `CommitLog` record per
  * bucket), idempotent bucket outputs, and resume that skips COMMITTED
  * buckets. The seam is deliberately small so a real Iceberg catalog
  * can replace it unchanged (no iceberg-spark-runtime jar ships in this
  * environment — verified absent).
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

  private def lineageDir(out: String): Path = Paths.get(out, "_lineage")

  def readLineage(out: String): Map[Int, Lineage] = {
    val dir = lineageDir(out)
    if (!Files.exists(dir)) return Map.empty
    Using.resource(Files.list(dir))(_.iterator().asScala.toList)
      .filter(_.getFileName.toString.endsWith(".json"))
      .flatMap(p => CommitLog.read(p).flatMap(r => Try(Lineage(
        r("bucket").toInt, r("status"), r("attempt").toInt,
        r("inputRows").toLong, r("outputRows").toLong,
        r("contentHash").toLong, r("startedMs").toLong,
        r("finishedMs").toLong)).toOption))
      .map(l => l.bucket -> l).toMap
  }

  /** One bucket's commit: its fields, in declaration order, as keys. */
  private def writeLineage(out: String, l: Lineage): Unit =
    CommitLog.write(lineageDir(out).resolve(s"bucket-${l.bucket}.json"),
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
    * scan.
    *
    * A wave is one Spark job: the data write. Pages are extracted and
    * segmented inside the scan's own tasks, so it has no shuffle at all.
    *
    * Commit protocol per wave: delete stale (uncommitted) wave bucket
    * dirs, write all wave buckets in one job (each bucket an idempotent
    * overwrite of its own directory) while an Observation in the write's
    * result stage computes each bucket's `(count, bit_xor(xxhash64(url,
    * row_text)))` over exactly the rows written, then atomically commit
    * one lineage file per bucket — including 0-row lineage for buckets
    * whose pages produced no records (a missing directory is a valid
    * outcome, not an error). A kill mid-wave leaves no lineage for the
    * wave's buckets → the next run redoes exactly that wave. Observed
    * metrics, like result-stage accumulator updates, count each
    * partition once however often its task is retried.
    *
    * Input counts ride a per-bucket accumulator inside the extraction
    * — the input is scanned ONCE per wave. They are updated in the data
    * write's result stage, where Spark applies a task's accumulator
    * updates once per partition, so a retried task does not count twice.
    * They stay metrics-grade all the same: the commit decision never
    * depends on them.
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
    val spark = pages.sparkSession
    val existing = readLineage(out)
    val pending = (0 until buckets)
      .filter(b => !existing.get(b).exists(_.status == "COMMITTED"))
    if (pending.isEmpty) return 0

    val bucketOf = pmod(xxhash64(col("url")), lit(buckets))
    var done = 0
    pending.grouped(waveSize).foreach { wave =>
      if (failAfter >= 0 && done >= failAfter)
        throw new RuntimeException(s"injected failure after $done buckets")
      val t0 = System.currentTimeMillis()
      // stale dirs from a failed attempt carry no lineage; dynamic
      // overwrite replaces only the buckets this attempt writes rows to,
      // so a bucket the retry leaves empty would read back stale rows
      wave.foreach(b => deleteRecursively(Paths.get(s"$out/data/bucket=$b")))
      val nb = buckets
      val accs = wave.map(b =>
        b -> spark.sparkContext.longAccumulator(s"graft_in_$b")).toMap
      val slice = pages.filter(bucketOf.isin(wave: _*))
        .mapPartitions { it =>
          it.map { p => accs(bucketFor(p.url, nb)).add(1L); p }
        }(pages.encoder)
      val recs = ExtractionPipeline.records(slice, rs, partitions = 0)
        .withColumn("bucket", bucketOf)
      // per-bucket (count, content hash) of the rows the write consumes;
      // a row is hashed only under its own bucket's test
      val stats = Observation()
      val hash = xxhash64(col("url"), col("row_text"))
      val perBucket = wave.flatMap { b =>
        val in = col("bucket") === b
        // bit_xor: order-independent content hash, no ANSI overflow
        Seq(count(when(in, 1)).as(s"n$b"), bit_xor(when(in, hash)).as(s"h$b"))
      }
      // ONE write job for the wave; dynamic partition overwrite touches
      // only the wave's bucket directories (idempotent on retry)
      recs.observe(stats, perBucket.head, perBucket.tail: _*)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(s"$out/data")
      val observed = stats.get
      wave.foreach { b =>
        val n = observed(s"n$b").asInstanceOf[Long]
        val h = Option(observed(s"h$b")).fold(0L)(_.asInstanceOf[Long])
        writeLineage(out, Lineage(b, "COMMITTED",
          existing.get(b).map(_.attempt + 1).getOrElse(1),
          accs(b).value, n, h, t0, System.currentTimeMillis()))
        done += 1
      }
    }
    done
  }

  /** Read the committed dataset (only COMMITTED buckets). A committed
    * bucket with zero output rows has no directory — skipped, not an
    * error.
    */
  def readCommitted(spark: SparkSession, out: String): DataFrame =
    readData(spark, out, committed(out).map(_.bucket))

  /** The committed record-event log (S10): [[ExtractionPipeline.recordEvents]]
    * over [[readCommitted]], with each record's `bucket`. An event's `ts`
    * is its bucket's commit time (lineage `finishedMs`), so the log reads
    * the same every time and a resumed bucket's events carry the
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
