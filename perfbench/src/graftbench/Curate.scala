package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.io.StagedJob
import graft.ops.{Curation, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CurateApp's path without the HTML front end: Curation.curateStaged
  * (gate -> deboil -> exact -> near-dup, each a committed parquet
  * stage) and then Curation.packSequences, written like CurateApp does.
  */
final class Curate(ctx: Ctx) extends Workload(ctx) {
  private val Docs = 2000L
  private val WarmDocs = 200L
  private val SeqLen = 2048
  // catalog layer (traced run only): q155/q156 over a 400-doc documents
  // table; both queries are stage-count bound at this size
  private val IndexDocs = 400L
  private val docsDir = ctx.in.resolve("docs")
  private val warmDir = ctx.in.resolve("warm_docs")
  // curateStaged's stage names at its default configuration
  private val Stages = Seq("1_gate" -> "gate", "2_deboil" -> "deboil",
    "3_exact" -> "exact", "4_neardup" -> "neardup")

  def generate(spark: SparkSession): Unit = {
    Inputs.docs(spark, Docs, ctx.seed).repartition(Session.Cores)
      .write.parquet(docsDir.toString)
    Inputs.docs(spark, WarmDocs, ctx.seed + 1).repartition(Session.Cores)
      .write.parquet(warmDir.toString)
  }

  private def curate(spark: SparkSession, in: Path, out: Path): DataFrame =
    Curation.curateStaged(spark.read.parquet(in.toString), "doc_id", "text",
      out.toString)

  private def pack(curated: DataFrame, out: Path): Unit =
    Curation.packSequences(curated, "doc_id", "clean_text", seqLen = SeqLen)
      .write.parquet(out.resolve("packed").toString)

  def warm(spark: SparkSession): Unit = {
    val out = ctx.fresh("warm")
    pack(curate(spark, warmDir, out), out)
    Dirs.delete(out)
  }

  /** The planted ground truth holds on the curated corpus, and packing
    * assigned every curated doc.
    */
  private def check(spark: SparkSession, out: Path): Seq[String] = {
    val curated = spark.read.parquet(out.resolve("stage_4_neardup").toString)
    val packed = spark.read.parquet(out.resolve("packed").toString).count()
    val n = curated.count()
    Checks.curatedTruth(curated, Docs) ++
      (if (packed == n) Nil else Seq(s"packed $packed rows for $n curated docs"))
  }

  /** One checked curate + pack; its cost, or None if it threw. */
  private def op(spark: SparkSession, label: String): Option[Cost] = {
    Session.releaseBlocks(spark)
    val out = ctx.fresh("curate")
    var cost: Option[Cost] = None
    tally.attempt(label) {
      cost = Some(Stats.cost(pack(curate(spark, docsDir, out), out)))
      check(spark, out)
    }
    Dirs.delete(out)
    cost
  }

  def measure(spark: SparkSession, seconds: Double): EndToEnd =
    EndToEnd(Docs, repeat(seconds, 3)(k => op(spark, s"run $k")))

  /** (rows, start ms, end ms) from a committed stage's marker. */
  private def marker(out: Path, stage: String): (Long, Long, Long) = {
    val s = new String(Files.readAllBytes(StagedJob.markerPath(out.toString,
      stage)), StandardCharsets.UTF_8)
    def num(k: String) = ("\"" + k + "\":(\\d+)").r
      .findFirstMatchIn(s).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"no $k in $stage marker"))
    (num("rows"), num("start_ms"), num("end_ms"))
  }

  def trace(spark: SparkSession, seconds: Double, tracer: Tracer,
      counters: EngineCounters): Map[String, Double] = {
    val before = repeat(seconds / 3, 1)(k => op(spark, s"untraced run $k"))
      .map(_.wall)
    spark.sparkContext.addSparkListener(counters)
    val stageS = Stages.map(_._2 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val packS, walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var rows = Map.empty[String, Long]
    var packed = 0L
    var engine = Map.empty[String, Double]
    var lastOut: Option[Path] = None
    repeat[Unit](seconds * 2 / 3, 2) { k =>
      val out = ctx.fresh("curate")
      Session.releaseBlocks(spark)
      counters.reset()
      tally.attempt(s"traced run $k") {
        val wall = tracer.span("curate.rep") { root =>
          val curated = tracer.span("ops.curateStaged", root)(_ =>
            curate(spark, docsDir, out))._1
          packS += tracer.span("ops.packSequences", root)(_ =>
            pack(curated, out))._2
        }._2
        walls += wall
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        engine = counters.snapshot(wall)
        Stages.foreach { case (st, name) =>
          val (r, t0, t1) = marker(out, st)
          stageS(name) += (t1 - t0) / 1e3
          rows += name -> r
        }
        packed = spark.read.parquet(out.resolve("packed").toString).count()
        check(spark, out)
      }
      lastOut.foreach(Dirs.delete)
      lastOut = Some(out)
      None
    }
    spark.sparkContext.removeSparkListener(counters)
    // and one untraced run after the traced ones: the JVM is still warming
    // up, so runs from before alone would overstate the untraced wall
    val untraced = before ++ op(spark, "untraced run after").map(_.wall)
    // LSH attempts behind the near-dup stage: every band collision of
    // the exact stage's output (est. Jaccard >= 0), vs the duplicates
    // the stage actually removed
    val exact = spark.read.parquet(lastOut.get.resolve("stage_3_exact").toString)
    val candidates = Dedup.minhashLshPairs(exact, "doc_id", "clean_text",
      k = 16, bands = 8, minEstJaccard = 0.0, shingleN = 3).count()
    lastOut.foreach(Dirs.delete)
    val catalog = new CatalogLayer(ctx.fresh("corpus"), tally)
    catalog.generate(spark, IndexDocs, ctx.seed)
    val index = tracer.span("catalog")(_ => catalog.run(spark, tracer))._1
    val self = Stages.map { case (_, n) => s"ops.${n}_self_s" ->
      Stats.median(stageS(n).toSeq) }.toMap +
      ("ops.pack_self_s" -> Stats.median(packS.toSeq))
    val wall = Stats.median(walls.toSeq)
    val removed = rows("exact") - rows("neardup")
    self ++ engine ++ index ++ Map(
      "ops.gate_in_rows" -> Docs.toDouble,
      "ops.gate_out_rows" -> rows("gate").toDouble,
      "ops.deboil_out_rows" -> rows("deboil").toDouble,
      "ops.exact_out_rows" -> rows("exact").toDouble,
      "ops.neardup_out_rows" -> rows("neardup").toDouble,
      "ops.packed_rows" -> packed.toDouble,
      "ops.lsh_candidate_pairs" -> candidates.toDouble,
      "ops.dups_per_candidate_pair" ->
        (if (candidates > 0) removed.toDouble / candidates else 0.0),
      "trace.wall_s" -> wall,
      "trace.unaccounted_s" -> (wall - self.values.sum),
      "trace.overhead_frac" ->
        (wall - Stats.median(untraced)) / Stats.median(untraced))
  }
}
