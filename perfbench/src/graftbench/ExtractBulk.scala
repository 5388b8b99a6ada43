package graftbench

import java.nio.file.Path

import graft.extract.ContentExtractor
import graft.gen.PagesGen
import graft.io.TableIO
import graft.model.Page
import graft.pipeline.{ExtractionPipeline => EP, ScalarEvaluator}
import graft.rules.{RuleSets, ScalarRules}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** GraftApp's path: TableIO.runResumable over a pages table, in
  * GraftApp's waves of 8 url-hash buckets.
  */
final class ExtractBulk(ctx: Ctx) extends Workload(ctx) {
  private val Pages = 1200L
  private val WarmPages = 120L
  // GraftApp's wave of 8 buckets, and 8 buckets: one wave per run. Each
  // wave costs about 2.5-3 s of per-job fixed cost on 4 cores whatever
  // its size, so GraftApp's 64 buckets (eight waves) would take over 20 s
  // per operation, several times what one benchmark run can spend on it
  private val Buckets = 8
  private val Wave = 8
  // streaming layer (traced run only): 100-page files every 2.5 s, about
  // 1.5x the per-batch service time of 1.6-2.0 s measured on 4 cores
  private val StreamFiles = 4
  private val StreamWarmFiles = 1
  private val StreamPerFile = 100
  private val StreamPeriodMs = 2500L
  private val pagesDir = ctx.in.resolve("pages")
  private val warmDir = ctx.in.resolve("warm_pages")
  private var golden: Option[Checks.Digest] = None

  def generate(spark: SparkSession): Unit = {
    Inputs.pages(spark, Pages, ctx.seed, 8, pagesDir)
    Inputs.pages(spark, WarmPages, ctx.seed + 1, 4, warmDir)
  }

  private def read(spark: SparkSession, dir: Path): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(dir.toString).as[Page]
  }

  private def run(spark: SparkSession, dir: Path, out: Path): Unit =
    TableIO.runResumable(read(spark, dir), out.toString, Buckets, Wave)

  def warm(spark: SparkSession): Unit = {
    val out = ctx.fresh("warm")
    run(spark, warmDir, out)
    Dirs.delete(out)
  }

  /** Every bucket COMMITTED, lineage output rows sum to the record
    * count, and the committed records equal the ScalarEvaluator golden
    * twin's over the same pages (order-independent digest).
    */
  private def check(spark: SparkSession, out: Path): Seq[String] = {
    val want = golden.getOrElse {
      val d = Checks.scalarDigest(read(spark, pagesDir))
      golden = Some(d)
      d
    }
    val lineage = TableIO.readLineage(out.toString)
    val recs = TableIO.readCommitted(spark, out.toString)
    val got = Checks.recordsDigest(recs)
    val lineageRows = lineage.values.map(_.outputRows).sum
    val problems = Seq[(Boolean, String)](
      (lineage.size != Buckets ||
        lineage.values.exists(_.status != "COMMITTED")) ->
        s"${lineage.values.count(_.status == "COMMITTED")} of $Buckets buckets COMMITTED",
      (lineageRows != got.n) ->
        s"lineage outputRows sum $lineageRows != ${got.n} committed records",
      (got != want) -> (s"committed records differ from the scalar twin " +
        s"(${got.n} vs ${want.n} records)"))
    Dirs.delete(out)
    problems.collect { case (true, p) => p }
  }

  /** One checked runResumable; its cost, or None if it threw. */
  private def op(spark: SparkSession, label: String): Option[Cost] = {
    Session.releaseBlocks(spark)
    val out = ctx.fresh("bulk")
    var cost: Option[Cost] = None
    tally.attempt(label) {
      cost = Some(Stats.cost(run(spark, pagesDir, out)))
      check(spark, out)
    }
    cost
  }

  def measure(spark: SparkSession, seconds: Double): EndToEnd =
    EndToEnd(Pages, repeat(seconds, 3)(k => op(spark, s"run $k")))

  /** Self times from prefix materializations: prefix i's median minus
    * prefix i-1's, keyed by layer metric name, plus the traced wall
    * (the last prefix, the whole operation) and the unaccounted rest.
    */
  private def prefixSelfTimes(prefixes: Seq[(String, Seq[Double])])
      : Map[String, Double] = {
    val meds = prefixes.map { case (k, xs) => k -> Stats.median(xs) }
    val selfs = meds.indices.map { i =>
      meds(i)._1 -> (meds(i)._2 - (if (i == 0) 0.0 else meds(i - 1)._2))
    }
    val wall = meds.last._2
    selfs.toMap ++ Map("trace.wall_s" -> wall,
      "trace.unaccounted_s" -> (wall - selfs.map(_._2).sum))
  }

  def trace(spark: SparkSession, seconds: Double, tracer: Tracer,
      counters: EngineCounters): Map[String, Double] = {
    val before = repeat(seconds / 3, 1)(k => op(spark, s"untraced run $k"))
      .map(_.wall)
    spark.sparkContext.addSparkListener(counters)
    val rs = RuleSets.plugin
    val parts = 32 // what runResumable passes records(): max(4, wave*4)
    val prefixes = Seq("io.scan_s", "extract.self_s", "rules.classify_self_s",
      "pipeline.segment_route_self_s", "io.commit_self_s")
    val times = prefixes.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var counts = Map.empty[String, Double]
    var engine = Map.empty[String, Double]
    var lineage = Map.empty[Int, TableIO.Lineage]
    var bytesWritten = 0L
    repeat[Unit](seconds * 2 / 3, 2) { k =>
      Session.releaseBlocks(spark)
      tracer.span("extract_bulk.rep") { root =>
        def prefix[T](i: Int)(f: => T): T = {
          val (r, s) = tracer.span(prefixes(i), root)(_ => f)
          times(prefixes(i)) += s
          r
        }
        val scan = prefix(0)(read(spark, pagesDir)
          .agg(count(lit(1)), sum(length(col("html")))).collect()(0))
        val kinds = prefix(1)(EP.pageTexts(read(spark, pagesDir), parts,
            needMain = false).toDF()
          .groupBy(col("content_kind"))
          .agg(count(lit(1)), sum(when(col("error") =!= "", 1).otherwise(0)))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap)
        val types = prefix(2)(EP.classifyPages(EP.pageTexts(
            read(spark, pagesDir), parts, needMain = false), rs)
          .groupBy(col("page_type")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
        val recs = prefix(3)(EP.records(read(spark, pagesDir), rs, parts)
          .agg(count(lit(1)),
            sum(when(size(col("validation_errors")) > 0, 1).otherwise(0)))
          .collect()(0))
        val out = ctx.fresh("bulk")
        counters.reset()
        val (_, wall) = tracer.span("io.runResumable", root)(_ =>
          run(spark, pagesDir, out))
        times(prefixes(4)) += wall
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        engine = counters.snapshot(wall)
        lineage = TableIO.readLineage(out.toString)
        bytesWritten = Dirs.size(out)
        counts = Map(
          "extract.pages" -> scan.getLong(0).toDouble,
          "extract.bytes_in" -> scan.getLong(1).toDouble,
          "extract.pdf_pages" -> kinds.get("pdf").map(_._1).getOrElse(0L).toDouble,
          "extract.empty_pages" -> kinds.get("empty").map(_._1).getOrElse(0L).toDouble,
          "extract.error_pages" -> kinds.values.map(_._2).sum.toDouble,
          "rules.fallback_pages" ->
            (types.getOrElse(rs.pageFallback, 0L) + types.getOrElse("Others", 0L)).toDouble,
          "pipeline.records" -> recs.getLong(0).toDouble,
          "pipeline.invalid_records" -> recs.getLong(1).toDouble)
        tally.attempt(s"traced run $k")(check(spark, out))
      }
      None
    }
    spark.sparkContext.removeSparkListener(counters)
    // and one untraced run after the traced ones: the JVM is still warming
    // up, so runs from before alone would overstate the untraced wall
    val untraced = before ++ op(spark, "untraced run after").map(_.wall)
    val self = prefixSelfTimes(prefixes.map(p => p -> times(p).toSeq))
    // the same extraction stack run incrementally, over pages whose
    // indices follow the bulk input's (urls must not collide)
    val staged = ctx.fresh("stream_in")
    val warmFiles = Inputs.pageFiles(spark, StreamWarmFiles, StreamPerFile,
      ctx.seed, 2 * Pages, "warm", staged.resolve("warm"))
    val files = Inputs.pageFiles(spark, StreamFiles, StreamPerFile, ctx.seed,
      Pages, "file", staged.resolve("timed"))
    val stream = tracer.span("streaming.extractStream")(_ =>
      new StreamLayer(ctx.fresh("stream"), tally, StreamPeriodMs)
        .run(spark, warmFiles, files))._1
    self ++ counts ++ engine ++ stream ++ Kernels.rates(ctx.seed, 240) ++ Map(
      "io.waves" -> math.ceil(Buckets.toDouble / Wave),
      "io.buckets_committed" ->
        lineage.values.count(_.status == "COMMITTED").toDouble,
      "io.bytes_written" -> bytesWritten.toDouble,
      // rows read from files per input page: every wave re-scans the whole
      // input, and the stats and events jobs re-read the written records
      // (Spark 4.1's local parquet scan reports only a fraction of its
      // bytes as bytesRead, so rows are the reliable unit here)
      "io.read_amplification" -> engine("spark.input_records") / Pages,
      "trace.overhead_frac" ->
        (self("trace.wall_s") - Stats.median(untraced)) / Stats.median(untraced))
  }
}

/** Single-core kernels without Spark (the BenchKernel shape): content
  * extraction, page classification, and the whole scalar pipeline.
  */
object Kernels {
  def rates(seed: Long, n: Int): Map[String, Double] = {
    val pages = (0 until n).map(i => PagesGen.pageFor(i.toLong, seed, Inputs.Boost))
    val mds = pages.map(p => ContentExtractor.extract(p.html, needMain = false).page_md)
    val rs = RuleSets.plugin
    // pages per second over at least 0.5 s of repeated passes, after one
    // untimed pass
    def rate(f: Int => Unit): Double = {
      (0 until n).foreach(f)
      var done = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 500000000L) {
        (0 until n).foreach(f)
        done += n
      }
      done / ((System.nanoTime() - t0) / 1e9)
    }
    Map(
      "extract.kernel_pages_per_s" ->
        rate(i => ContentExtractor.extract(pages(i).html, needMain = false)),
      "rules.kernel_pages_per_s" ->
        rate(i => ScalarRules.effectivePageType(mds(i), rs)),
      "pipeline.scalar_pages_per_s" ->
        rate(i => ScalarEvaluator.process(pages(i), rs)))
  }
}
