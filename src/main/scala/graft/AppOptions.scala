package graft

/** The `--key value` command line of the spark-submit entry points.
  * Anything else (an unknown key, a key with no value after it, a value
  * where a key belongs) fails with the app's known keys listed, before
  * the app builds a session: a misspelt option must not silently run
  * the defaults.
  */
object AppOptions {

  /** `args` as a key → value map (a repeated key keeps its last value).
    *
    * @throws IllegalArgumentException on anything but `--known value`
    *         pairs
    */
  def parse(app: String, args: Seq[String],
      known: Seq[String]): Map[String, String] = {
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"$app: $what; known options: ${known.map("--" + _).mkString(" ")}")
    args.grouped(2).map { kv =>
      val k = kv.head
      if (!k.startsWith("--")) fail(s"expected an option, got '$k'")
      if (!known.contains(k.drop(2))) fail(s"unknown option $k")
      if (kv.size < 2) fail(s"option $k has no value")
      k.drop(2) -> kv(1)
    }.toMap
  }
}
