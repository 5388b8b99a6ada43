package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** The one commit-record codec (SURVEY §4.3), behind a bucket's
  * `_lineage/bucket-N.json` (TableIO) and a stage's `_COMMITTED` marker
  * (StagedJob): a flat JSON object of numbers and strings, in the
  * caller's key order, committed by an atomic rename of a temp file
  * (leading `.`, so Spark's file listing skips it) over the target. A
  * reader sees no record or a whole one. Strings are not escaped: one the
  * reader could not read back (quote, backslash, control char) is
  * rejected at write time.
  */
object CommitLog {

  private val Str = "\"([^\"\\\\\\x00-\\x1f]*)\""
  private val Num = "(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)"
  private val Field = s"""$Str\\s*:\\s*(?:$Str|$Num)""".r
  private val Record =
    s"""\\s*\\{\\s*(?:$Field(?:\\s*,\\s*$Field)*)?\\s*\\}\\s*""".r

  private def quoted(s: String): String = {
    require(s.forall(c => c >= ' ' && c != '"' && c != '\\'),
      s"commit-record string needs escaping: $s")
    "\"" + s + "\""
  }

  /** Atomically commit `fields` (Int, Long or String values) as `target`. */
  def write(target: Path, fields: Seq[(String, Any)]): Unit = {
    val json = fields.map {
      case (k, n @ (_: Int | _: Long)) => quoted(k) + ":" + n
      case (k, s: String) => quoted(k) + ":" + quoted(s)
      case (k, v) => throw new IllegalArgumentException(
        s"commit-record value for $k is neither a number nor a string: $v")
    }.mkString("{", ",", "}")
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent,
      "." + target.getFileName, ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The record at `target` as key → value text (strings unquoted);
    * None when there is none or it is not a flat object of numbers and
    * strings.
    */
  def read(target: Path): Option[Map[String, String]] =
    Option.when(Files.isRegularFile(target))(
      new String(Files.readAllBytes(target), StandardCharsets.UTF_8))
      .filter(Record.matches(_))
      .map(Field.findAllMatchIn(_).map(m =>
        m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))).toMap)
}
