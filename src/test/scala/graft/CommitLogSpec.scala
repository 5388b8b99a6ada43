package graft

import graft.io.CommitLog
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The commit-record codec shared by bucket lineage and stage markers. */
class CommitLogSpec extends AnyFunSuite {

  test("a record round-trips in key order, negative numbers included") {
    val dir = Files.createTempDirectory("graft_commitlog")
    val p = dir.resolve("bucket-3.json")
    CommitLog.write(p, Seq("bucket" -> 3, "status" -> "COMMITTED",
      "contentHash" -> -7894895428696758718L, "note" -> ""))
    assert(Files.readString(p) ===
      """{"bucket":3,"status":"COMMITTED","contentHash":-7894895428696758718,"note":""}""")
    assert(CommitLog.read(p).contains(Map("bucket" -> "3",
      "status" -> "COMMITTED", "contentHash" -> "-7894895428696758718",
      "note" -> "")))
    // a rewrite replaces the record; the temp file is gone
    CommitLog.write(p, Seq("bucket" -> 4))
    assert(CommitLog.read(p).contains(Map("bucket" -> "4")))
    assert(Files.list(dir).count() === 1L)
  }

  test("the writer rejects strings the reader could not read back") {
    val p = Files.createTempDirectory("graft_commitlog").resolve("x.json")
    for (bad <- Seq("a\"b", "a\\b", "a\nb", "a\u0001b")) {
      intercept[IllegalArgumentException](CommitLog.write(p, Seq("k" -> bad)))
      intercept[IllegalArgumentException](CommitLog.write(p, Seq(bad -> 1)))
    }
    intercept[IllegalArgumentException](CommitLog.write(p, Seq("k" -> 1.5)))
    assert(!Files.exists(p))
  }

  test("a missing or malformed record reads as no record") {
    val dir = Files.createTempDirectory("graft_commitlog")
    assert(CommitLog.read(dir.resolve("absent.json")).isEmpty)
    for (bad <- Seq("", "{", """{"rows":}""", """{"rows":1""",
        """{"rows":[1]}""", """{"a":{"b":1}}""", """{"a":1}{"b":2}""",
        """{"a":"x\"y"}""", """{"a":1,}""")) {
      val p = dir.resolve("m.json")
      Files.writeString(p, bad)
      assert(CommitLog.read(p).isEmpty, bad)
    }
  }
}
