package graft.catalog

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The suffix array q156 derives from: built once per (session, corpus
  * dir), rebuilt after its blocks are released, and never visible to
  * another session.
  */
class SharedSaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Three docs, 11 tokens: one SA position per token. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_shared_sa").toString
    Seq((1L, "a b a b c"), (2L, "a b c"), (3L, "b c a"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    d
  }

  private def checkpoint(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
      .getOrElse(fail("the SA is not a checkpointed LogicalRDD"))

  test("a second call in the same session reuses the checkpoint") {
    val first = DedupQueries.sharedSa(spark, dir)
    assert(first.count() == 11)
    val again = DedupQueries.sharedSa(spark, dir)
    assert(checkpoint(again).id == checkpoint(first).id)
    assert(again.count() == 11)
  }

  test("released blocks are rebuilt, not read through a dead lineage") {
    val before = checkpoint(DedupQueries.sharedSa(spark, dir))
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val rebuilt = DedupQueries.sharedSa(spark, dir)
    assert(checkpoint(rebuilt).id != before.id)
    assert(rebuilt.count() == 11)
  }

  test("a new session does not see another session's SA") {
    val mine = checkpoint(DedupQueries.sharedSa(spark, dir))
    val other = spark.newSession()
    val theirs = DedupQueries.sharedSa(other, dir)
    assert(checkpoint(theirs).id != mine.id)
    assert(checkpoint(DedupQueries.sharedSa(spark, dir)).id == mine.id)
    assert(theirs.count() == 11)
  }
}
