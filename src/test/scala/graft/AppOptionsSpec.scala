package graft

import org.scalatest.funsuite.AnyFunSuite

/** The apps' command lines: a malformed one fails in `main` before any
  * session is built, naming the known options.
  */
class AppOptionsSpec extends AnyFunSuite {

  private def rejected(main: Array[String] => Unit, args: String*): String =
    intercept[IllegalArgumentException](main(args.toArray)).getMessage

  test("parse: --key value pairs, the last of a repeated key wins") {
    assert(AppOptions.parse("App", Seq("--a", "1", "--b", "x", "--a", "2"),
      Seq("a", "b", "c")) === Map("a" -> "2", "b" -> "x"))
    assert(AppOptions.parse("App", Nil, Seq("a")) === Map.empty)
  }

  test("apps reject a misspelt option, a trailing option without a value " +
      "and a stray value, listing the known options") {
    val bucket = rejected(GraftApp.main, "--output", "/tmp/x", "--bucket", "8")
    assert(bucket.contains("unknown option --bucket"))
    assert(bucket.contains("--buckets") && bucket.contains("--variant"))
    val minToken = rejected(CurateApp.main, "--min-token", "5")
    assert(minToken.contains("unknown option --min-token"))
    assert(minToken.contains("--min-tokens") && minToken.contains("--seq-len"))
    assert(rejected(CurateApp.main, "--output", "/tmp/x", "--seq-len")
      .contains("option --seq-len has no value"))
    assert(rejected(GraftApp.main, "--wave", "8", "9")
      .contains("expected an option, got '9'"))
  }

  test("GraftApp rejects a --variant other than plugin or soa") {
    assert(rejected(GraftApp.main, "--variant", "SOA")
      .contains("--variant is plugin or soa, got 'SOA'"))
  }
}
