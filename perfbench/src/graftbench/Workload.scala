package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Directories of one benchmark run. */
final class Ctx(val work: Path, val seed: Long) {
  val in: Path = work.resolve("in")
  private var n = 0

  /** A fresh, not yet existing output dir: every operation writes to its
    * own, so each repetition starts from the same (empty) state.
    */
  def fresh(prefix: String): Path = {
    n += 1
    work.resolve("out").resolve(s"$prefix-$n")
  }
}

/** Operations attempted and failed. A failed output check and an
  * exception both count as a failure.
  */
final class Tally {
  var attempted = 0
  var failed = 0

  /** Counts one operation whose outcome is the list of problems `f`
    * finds; an exception is a problem too.
    */
  def attempt(label: String)(f: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try f
      catch { case e: Exception => Seq(s"exception: $e") }
    if (problems.nonEmpty) {
      failed += 1
      problems.take(5).foreach(p => System.err.println(s"[perfbench] $label: $p"))
    }
  }
}

/** End-to-end figures of one untraced measuring phase: one sample per
  * operation over `docs` inputs.
  */
final case class EndToEnd(docs: Long, costs: Seq[Cost]) {
  val opP50S: Double = Stats.median(costs.map(_.wall))
  val docsPerS: Double = docs / opP50S
  val cpuP50S: Double = Stats.median(costs.map(_.cpu))
}

/** One benchmark workload. A workload instance lives for one run. */
abstract class Workload(val ctx: Ctx) {
  val tally = new Tally

  /** Writes the seeded inputs under ctx.in (untimed, reported as gen.s). */
  def generate(spark: SparkSession): Unit

  /** The untimed warm pass that ends each set-up. */
  def warm(spark: SparkSession): Unit

  /** Untraced repetitions for about `seconds`. */
  def measure(spark: SparkSession, seconds: Double): EndToEnd

  /** The traced run: its per-layer metrics (the Main.LayerNames this
    * workload exercises; the rest report 0).
    */
  def trace(spark: SparkSession, seconds: Double, tracer: Tracer,
      counters: EngineCounters): Map[String, Double]

  /** Runs `op` (given the repetition index) until `seconds` have passed,
    * at least `minReps` times; returns what `op` reports.
    */
  protected def repeat[T](seconds: Double, minReps: Int)
      (op: Int => Option[T]): Seq[T] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[T]
    var k = 0
    while (k < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val r = op(k)
      r.foreach(out += _)
      Main.log(s"repetition $k: ${r.getOrElse("-")}")
      k += 1
    }
    out.toSeq
  }
}

object Workload {
  val Names = Seq("extract_bulk", "curate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "extract_bulk" => new ExtractBulk(ctx)
    case "curate" => new Curate(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }
}
