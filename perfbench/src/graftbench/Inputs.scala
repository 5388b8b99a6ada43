package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.gen.{DocsGen, PagesGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs, written to parquet before anything is timed. The
  * program under test only ever sees these files.
  */
object Inputs {
  /** Page size multiplier: boost 8 gives pages of about 15-20 KB. */
  val Boost = 8

  /** `n` PagesGen pages of seed `seed` (the full page-class mix: HTML
    * statement pages, PDFs, near-empty pages) as `files` parquet files.
    */
  def pages(spark: SparkSession, n: Long, seed: Long, files: Int,
      dir: Path): Unit =
    PagesGen.pages(spark, n, seed, files, Boost)
      .write.mode("overwrite").parquet(dir.toString)

  /** `files` single-file parquet tables of `perFile` pages each, named
    * <prefix>0000.parquet … in release order, from page index `first` on (keep
    * page index ranges disjoint: a page's url is derived from its index).
    * spark.range splits its range into contiguous equal slices, one per
    * partition, so part file k holds exactly the k-th `perFile` pages.
    */
  def pageFiles(spark: SparkSession, files: Int, perFile: Int, seed: Long,
      first: Long, prefix: String, dir: Path): Seq[Path] = {
    import spark.implicits._
    val tmp = dir.resolveSibling(dir.getFileName.toString + "_tmp")
    spark.range(first, first + files.toLong * perFile, 1, files)
      .map(i => PagesGen.pageFor(i, seed, Boost))
      .write.mode("overwrite").parquet(tmp.toString)
    val parts = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    require(parts.length == files,
      s"expected $files page files, got ${parts.length}")
    Files.createDirectories(dir)
    val out = parts.zipWithIndex.map { case (p, k) =>
      Files.move(p, dir.resolve(f"$prefix$k%04d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    Dirs.delete(tmp)
    out
  }

  /** A seeded corpus with DocsGen's planted structure. DocsGen's body
    * words depend on doc_id alone; here every word hash also takes the
    * seed, so a different seed gives a different corpus around the same
    * planted promo / exact-dup / near-dup / PII / boilerplate layout
    * (DocsGen.plantedText).
    */
  def docs(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val did = col("doc_id")
    val s = lit(seed)
    val nWords = pmod(xxhash64(did, s), lit(200L)) + 30L
    val stops = array(graft.ops.TextAnalysis.StopEn.map(lit): _*)
    val salad = array_join(
      transform(sequence(lit(1L), nWords),
        i => when(pmod(i, lit(6L)) === 0,
            element_at(stops, pmod(did + i, lit(15L)).cast("int") + 1))
          .otherwise(concat(lit("w"),
            pmod(xxhash64(did, i, s), lit(7000L)).cast("string")))),
      " ")
    spark.range(n).withColumnRenamed("id", "doc_id")
      .select(did, DocsGen.plantedText(did, salad).as("text"))
  }

  /** [[docs]] with the catalog's `documents` schema (doc_id, text,
    * lang, source, n_chars), written as `dir`/documents.parquet.
    */
  def documentsTable(spark: SparkSession, n: Long, seed: Long,
      dir: Path): Unit = {
    val langs = array(Seq("en", "de", "fr", "es").map(lit): _*)
    docs(spark, n, seed)
      .withColumn("lang",
        element_at(langs, pmod(col("doc_id"), lit(4L)).cast("int") + 1))
      .withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(4L)).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet")
        .toString)
  }
}
