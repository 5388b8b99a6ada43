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
  *     --output <dir> [--buckets 64] [--wave 8] [--variant plugin|soa]
  *
  * Reads the pages table (url, warc_ts, html, text, lang), runs the
  * resumable extraction (url-hash bucketed, per-bucket lineage), writes
  * records partitioned by bucket + a `_metrics` events table. A killed
  * run re-invoked with the same output dir resumes from the lineage log.
  */
object GraftApp {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val input = opts.getOrElse("input", "synth:10000")
    val output = opts.getOrElse("output", "/tmp/graft_out")
    val buckets = opts.getOrElse("buckets", "64").toInt
    val wave = opts.getOrElse("wave", "8").toInt
    val rs = if (opts.getOrElse("variant", "plugin") == "soa") RuleSets.soa
      else RuleSets.plugin

    val spark = GraftSession.submit("graft-extract")
    import spark.implicits._

    val pages: Dataset[Page] =
      if (input.startsWith("synth:"))
        PagesGen.pages(spark, input.stripPrefix("synth:").toLong)
      else spark.read.parquet(input).as[Page]

    val t0 = System.nanoTime()
    val done = TableIO.runResumable(pages, output, buckets, wave, rs)
    val sec = (System.nanoTime() - t0) / 1e9

    // record-stage events land in $output/_metrics inside runResumable
    // (per wave, bucket-partitioned, resume-idempotent — a resumed run
    // rebuilds exactly the killed run's missing partitions instead of
    // appending duplicates). Page-stage events re-run content extraction
    // just for the log, so they are opt-in (--page-events true) and go
    // to a separate table to keep _metrics overwrite-idempotent.
    val recs = TableIO.readCommitted(spark, output)
    if (opts.get("page-events").contains("true"))
      ExtractionPipeline.classifyPages(
        ExtractionPipeline.pageTexts(pages), rs)
        .transform(ExtractionPipeline.events)
        .write.mode("overwrite").parquet(s"$output/_metrics_pages")

    val n = if (recs.isEmpty) 0L else recs.count()
    val ev = TableIO.readEvents(spark, output)
    val nEv = if (ev.isEmpty) 0L else ev.count()
    println(f"""{"buckets_done":$done,"records":$n,"events":$nEv,"sec":$sec%.2f}""")
    spark.stop()
  }
}
