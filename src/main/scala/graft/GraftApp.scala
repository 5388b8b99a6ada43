package graft

import graft.gen.PagesGen
import graft.io.TableIO
import graft.model.Page
import graft.pipeline.ExtractionPipeline
import graft.rules.RuleSets
import org.apache.spark.sql.Dataset

/** spark-submit entry point (north_rule: "run via spark-submit").
  *
  * Usage:
  *   spark-submit --class graft.GraftApp <jar> \
  *     --input <pages parquet path | synth:N> \
  *     --output <dir> [--buckets 64] [--wave 8] [--variant plugin|soa] \
  *     [--page-events true]
  *
  * Reads the pages table (url, warc_ts, html, text, lang), runs the
  * resumable extraction (url-hash bucketed, per-bucket lineage) and
  * writes records partitioned by bucket. A killed run re-invoked with
  * the same output dir resumes from the lineage log. The record-event
  * log is a view over the committed records (`TableIO.readEvents`).
  *
  * An unknown option, an option without a value or a `--variant` other
  * than plugin or soa fails before the session starts.
  *
  * Prints one summary line: buckets committed by this run, committed
  * records (the lineage `outputRows` sum, which equals the committed
  * files' row count), committed record events, and the extraction's
  * wall seconds.
  */
object GraftApp {
  def main(args: Array[String]): Unit = {
    val opts = AppOptions.parse("GraftApp", args.toSeq, Seq("input",
      "output", "buckets", "wave", "variant", "page-events"))
    val input = opts.getOrElse("input", "synth:10000")
    val output = opts.getOrElse("output", "/tmp/graft_out")
    val buckets = opts.getOrElse("buckets", "64").toInt
    val wave = opts.getOrElse("wave", "8").toInt
    val rs = opts.getOrElse("variant", "plugin") match {
      case "plugin" => RuleSets.plugin
      case "soa"    => RuleSets.soa
      case v => throw new IllegalArgumentException(
        s"GraftApp: --variant is plugin or soa, got '$v'")
    }

    val spark = GraftSession.submit("graft-extract")
    import spark.implicits._

    val pages: Dataset[Page] =
      if (input.startsWith("synth:"))
        PagesGen.pages(spark, input.stripPrefix("synth:").toLong)
      else spark.read.parquet(input).as[Page]

    val t0 = System.nanoTime()
    val done = TableIO.runResumable(pages, output, buckets, wave, rs)
    val sec = (System.nanoTime() - t0) / 1e9

    // record-stage events need no write: TableIO.readEvents derives
    // them from the committed records. Page-stage events re-run content
    // extraction just for the log (inside the scan's tasks, like a wave:
    // no raw-page shuffle), so they are opt-in (--page-events true).
    if (opts.get("page-events").contains("true"))
      ExtractionPipeline.classifyPages(ExtractionPipeline.pageTexts(pages,
        partitions = 0, needMain = false), rs)
        .transform(ExtractionPipeline.events)
        .write.mode("overwrite").parquet(s"$output/_metrics_pages")

    val n = TableIO.readLineage(output).values
      .filter(_.status == "COMMITTED").map(_.outputRows).sum
    val nEv = TableIO.readEvents(spark, output).count()
    println(f"""{"buckets_done":$done,"records":$n,"events":$nEv,"sec":$sec%.2f}""")
    spark.stop()
  }
}
