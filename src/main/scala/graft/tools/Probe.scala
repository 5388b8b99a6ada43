package graft.tools

import graft.{GraftSession, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Catalog-query probe, in the session shape `Bench` times with:
  *
  *   runMain graft.tools.Probe time <sfDir> <query>…
  *     warm once, then three timed passes; prints the first and the min
  *   runMain graft.tools.Probe plan <sfDir> <outDir> <query>…
  *     writes `explain("formatted")` to <outDir>/<query>.txt
  *
  * A query is its full catalog name or its `qNN` number (see
  * [[resolve]]). Cores come from SPARK_GRAFT_CPUS, else every core the
  * JVM sees.
  */
object Probe {

  /** `arg` if it is a catalog name, else the one `arg_*` name when `arg`
    * is a `qNN`; fails listing the candidates otherwise.
    */
  def resolve(arg: String, names: Iterable[String]): String = {
    val hits =
      if (names.exists(_ == arg)) Seq(arg)
      else if (arg.matches("q\\d+"))
        names.filter(_.startsWith(arg + "_")).toSeq.sorted
      else Seq.empty
    hits match {
      case Seq(name) => name
      case _ =>
        val near =
          if (hits.nonEmpty) hits
          else names.filter(_.startsWith(arg)).toSeq.sorted
        throw new IllegalArgumentException(
          s"'$arg' names ${if (hits.isEmpty) "no" else "more than one"} " +
            s"query; candidates: ${near.mkString(", ")}")
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: qs if qs.nonEmpty =>
      eachQuery("time", sfDir, qs) { (name, query) =>
        val rows = query().count() // warm: codegen, JIT, parquet footers
        val probes = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          query().count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"$name: first=${probes.head}%.3f s " +
          f"min3=${probes.min}%.3f s rows=$rows" +
          probes.map(p => f"$p%.2f").mkString("  [", ", ", "]"))
      }
    case "plan" :: sfDir :: outDir :: qs if qs.nonEmpty =>
      Files.createDirectories(Paths.get(outDir))
      eachQuery("plan", sfDir, qs) { (name, query) =>
        val plan = query().queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
        println(s"wrote $outDir/$name.txt (${plan.length} chars)")
      }
    case _ => sys.error("usage: Probe time <sfDir> <query>… | " +
      "Probe plan <sfDir> <outDir> <query>…")
  }

  /** Resolves every name before building the session, then hands `f`
    * each query's name and a builder of its DataFrame.
    */
  private def eachQuery(mode: String, sfDir: String, args: Seq[String])(
      f: (String, () => DataFrame) => Unit): Unit = {
    val names = args.map(resolve(_, SparkEntry.queries.keys))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.local(cpus, s"graft-probe-$mode",
      GraftSession.SplitRules: _*)
    names.foreach(n => f(n, () => SparkEntry.queries(n)(spark, sfDir)))
    spark.stop()
  }
}
