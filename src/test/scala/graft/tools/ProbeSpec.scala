package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Query-name resolution for `Probe`, without a Spark session. */
class ProbeSpec extends AnyFunSuite {
  private val names = Seq("q15_simhash", "q150_bm25f", "q155_suffix_array",
    "q156_sa_dup_spans", "q7_a", "q7_b")

  test("an exact catalog name resolves to itself") {
    assert(Probe.resolve("q150_bm25f", names) == "q150_bm25f")
  }

  test("qNN resolves to its one qNN_* name, not a longer number") {
    assert(Probe.resolve("q15", names) == "q15_simhash")
    assert(Probe.resolve("q155", names) == "q155_suffix_array")
  }

  test("an ambiguous qNN fails and lists its matches") {
    val e = intercept[IllegalArgumentException](Probe.resolve("q7", names))
    assert(e.getMessage.contains("more than one"))
    assert(e.getMessage.contains("q7_a, q7_b"))
  }

  test("an unknown name fails and lists the names it prefixes") {
    val e = intercept[IllegalArgumentException](Probe.resolve("q15_sim", names))
    assert(e.getMessage.contains("names no query"))
    assert(e.getMessage.endsWith("candidates: q15_simhash"))
    val none = intercept[IllegalArgumentException](Probe.resolve("q99", names))
    assert(none.getMessage.endsWith("candidates: "))
  }
}
