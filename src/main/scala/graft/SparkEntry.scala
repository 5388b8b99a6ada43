package graft

import graft.catalog._
import graft.gen.PagesGen
import graft.pipeline.ExtractionPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: one query per implemented operator (SURVEY §2), each
  * with a DuckDB-runnable oracle where the operator is SQL-expressible.
  * Each query and its oracle live together as one [[catalog.QuerySpec]]
  * in the `graft.catalog` file of its operator family.
  */
object SparkEntry {

  /** Flagship: the full web-page extraction pipeline on synthetic pages
    * (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame =
    ExtractionPipeline.records(PagesGen.pages(spark, 200, 42, 8))

  private lazy val specs: Seq[QuerySpec] = {
    val all = Seq(RelationalQueries.specs, CurationQueries.specs,
      DedupQueries.specs, TextQueries.specs, WebGraphQueries.specs,
      RetrievalQueries.specs, SimSearchQueries.specs, CrawlQueries.specs,
      ExtractionQueries.specs).flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate catalog names: ${dups.mkString(", ")}")
    all
  }

  /** Every query applies [[graft.ops.SessionTuning]] before it builds a
    * plan, so sessions built outside [[GraftSession]] (Bench, Verify)
    * run the catalog tuned too.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> { (s: SparkSession, d: String) =>
      graft.ops.SessionTuning(s); q.build(s, d)
    }).toMap

  def oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracleSql.map(q.name -> _)).toMap
}
