package graft

import graft.ops.SessionTuning
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The session factory's contract: every session it builds, the shared
  * test session included, carries the SQL settings the shipped entry
  * points run with — and no other file builds a session by hand.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val ExcludedRules = "spark.sql.optimizer.excludedRules"
  private val InferFilters =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  private def assertShipped(s: SparkSession): Unit = {
    assert(s.conf.get("spark.sql.constraintPropagation.enabled") == "false")
    assert(s.conf.get(ExcludedRules).split(",").contains(InferFilters))
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("the test session is built with the shipped SQL settings") {
    assertShipped(spark)
  }

  test("submit applies the same SQL settings") {
    val keys = Seq("spark.sql.constraintPropagation.enabled",
      ExcludedRules, "spark.sql.session.timeZone")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.constraintPropagation.enabled", "true")
    spark.conf.unset(ExcludedRules)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      // one SparkContext per JVM: submit returns the shared session with
      // its SQL settings re-applied
      val s = GraftSession.submit("graft-test-submit")
      assert(s eq spark)
      assertShipped(s)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SessionTuning applied twice leaves one exclusion entry") {
    SessionTuning(spark)
    SessionTuning(spark)
    assert(spark.conf.get(ExcludedRules).split(",")
      .count(_ == InferFilters) == 1)
  }

  test("only GraftSession, Bench and Verify build a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val allowed = Set("GraftSession.scala", "Bench.scala", "Verify.scala")
    def scalaFiles(root: String): Seq[Path] = {
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir),
        s"$root not found under ${Paths.get("").toAbsolutePath}")
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    val strays = files.filter(p =>
      !allowed(p.getFileName.toString) &&
        builder.findFirstIn(Files.readString(p)).isDefined)
    assert(strays.isEmpty,
      s"build sessions through GraftSession instead: ${strays.mkString(", ")}")
  }
}
