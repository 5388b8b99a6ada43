package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's shape, without a Spark session: the query names, which
  * of them carry a DuckDB oracle, and the exact oracle SQL text. Moving a
  * query or its oracle between files must leave all three unchanged.
  */
class CatalogSpec extends AnyFunSuite {
  private val NoOracle =
    Set("q22_pipeline_extract", "q23_pipeline_bytes", "q26_media", "q27_frames")

  test("181 unique qNN_* names, each with its own number") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.size == 181)
    val bad = names.filterNot(_.matches("q\\d+_\\w+"))
    assert(bad.isEmpty, s"malformed names: $bad")
    // Probe resolves `qNN` to the one name with that number
    val byNumber = names.groupBy(_.takeWhile(_ != '_'))
    assert(byNumber.forall(_._2.size == 1),
      s"shared numbers: ${byNumber.filter(_._2.size > 1).values}")
  }

  test("every oracle belongs to a query; exactly four queries have none") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles.subsetOf(queries), s"orphan oracles: ${oracles -- queries}")
    assert(queries -- oracles == NoOracle)
  }

  test("the oracle SQL text is byte-identical to the pinned catalog") {
    val md = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(s"$name\u0000$sql\u0000".getBytes(UTF_8))
    }
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(hex ==
      "ce6e63a8256658977e2c38af962b6034b29c6ae3d528a4025297ec4a23d73a2e")
  }
}
