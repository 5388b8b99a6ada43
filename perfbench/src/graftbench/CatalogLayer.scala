package graftbench

import java.nio.file.Path

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The catalog layer, measured in curate's traced run: the suffix-array
  * pair q155_suffix_array (the build) and q156_sa_dup_spans (the derive
  * from SparkEntry's shared SA memo) over a seeded `documents` table with
  * the curation corpus's planted structure.
  *
  * Memo state: every q155 repetition starts with all persisted blocks
  * released, which also evicts the memo. Then one untimed q156 call
  * fills the memo, so each timed q156 call is the derive pass alone.
  */
final class CatalogLayer(dir: Path, tally: Tally) {
  private val q155 = SparkEntry.queries("q155_suffix_array")
  private val q156 = SparkEntry.queries("q156_sa_dup_spans")

  def generate(spark: SparkSession, docs: Long, seed: Long): Unit =
    Inputs.documentsTable(spark, docs, seed, dir)

  private def documents(spark: SparkSession): DataFrame =
    spark.read.parquet(dir.resolve("documents.parquet").toString)

  /** A catalog query materialized with count(), as the catalog bench
    * times it; (output frame, wall s).
    */
  private def timed(spark: SparkSession,
      q: (SparkSession, String) => DataFrame): (DataFrame, Double) =
    Stats.seconds {
      val df = q(spark, dir.toString)
      df.count()
      df
    }

  /** One q155 build (8-10 s on 4 cores) and three q156 derives. */
  def run(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    var sa = Array.empty[Row]
    var build = 0.0
    Session.releaseBlocks(spark)
    tally.attempt("q155 run") {
      val (df, s) = tracer.span("catalog.q155")(_ => timed(spark, q155))._1
      build = s
      sa = df.collect()
      Checks.suffixArray(sa, documents(spark)).toSeq
    }
    Session.releaseBlocks(spark)
    q156(spark, dir.toString).count() // fills the memo
    val derives = (0 until 3).flatMap { k =>
      var wall: Option[Double] = None
      tally.attempt(s"q156 run $k") {
        val (df, s) = tracer.span("catalog.q156")(_ => timed(spark, q156))._1
        wall = Some(s)
        Checks.dupSpans(df.collect(), sa).toSeq
      }
      wall
    }
    Map(
      "catalog.q155_s" -> build,
      "catalog.q156_s" -> Stats.median(derives),
      "catalog.sa_positions" -> sa.length.toDouble)
  }
}
