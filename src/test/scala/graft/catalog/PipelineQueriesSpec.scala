package graft.catalog

import graft.{SparkEntry, SparkTestBase}
import graft.extract.ContentExtractor
import graft.gen.PagesGen
import graft.pipeline.ScalarEvaluator
import graft.rules.RuleSets
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** q22_pipeline_extract and q23_pipeline_bytes read no table (their
  * pages come from `PagesGen`), so they have no DuckDB oracle. Their
  * oracle is a plain-Scala fold of the scalar twins over the same 600
  * generated pages: `ScalarEvaluator.process` for q22's records and
  * `ContentExtractor.extract` for q23's main texts.
  */
class PipelineQueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** `PagesGen.pages(s, 600, 42, 8)`'s pages: seed 42, boost 1. */
  private lazy val pages = (0L until 600L).map(PagesGen.pageFor(_, 42L))

  private def run(name: String): Seq[Seq[Any]] =
    SparkEntry.queries(name)(spark, "").collect().toSeq.map((r: Row) =>
      r.toSeq.map {
        case d: java.math.BigDecimal => BigDecimal(d)
        case n: java.lang.Number => n.longValue
        case v => v
      })

  test("q22_pipeline_extract == a fold of ScalarEvaluator.process over " +
      "the 600 generated pages") {
    val recs = pages.flatMap(ScalarEvaluator.process(_, RuleSets.plugin))
    val want = recs.groupBy(r => (r.target_section, r.txn_type)).toSeq
      .sortBy(_._1).map { case ((section, txnType), rs) =>
        val nets = rs.flatMap(_.net_consideration_num)
        // SUM over a group whose values are all NULL is NULL
        Seq(section, txnType, rs.size.toLong,
          if (nets.isEmpty) null else nets.sum)
      }
    assert(want.size > 1 && recs.exists(_.net_consideration_num.nonEmpty))
    assert(run("q22_pipeline_extract") == want)
  }

  test("q23_pipeline_bytes == a fold of ContentExtractor.extract over " +
      "the 600 generated pages") {
    val extracted = pages.map(p => ContentExtractor.extract(p.html))
    val want = extracted.groupBy(_.content_kind).toSeq.sortBy(_._1)
      .map { case (kind, cs) =>
        // Spark's length() counts characters, i.e. code points
        Seq(kind, cs.size.toLong,
          cs.map(c => c.main_text.codePointCount(0, c.main_text.length)
            .toLong).sum,
          cs.map(_.spans.size.toLong).sum)
      }
    assert(want.map(_.head).toSet == Set("empty", "html", "pdf"))
    assert(run("q23_pipeline_bytes") == want)
  }
}
