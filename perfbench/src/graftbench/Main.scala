package graftbench

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point: one workload per JVM.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --trace-out <spans file>
  *
  * Prints human-readable lines, then as its LAST line one JSON object
  * {"correct", "attempted", "failed", "metrics": {name: value}}. With
  * --trace 0 the metrics are the end-to-end ones, with --trace 1 the
  * per-layer ones (layers a workload does not exercise report 0).
  */
object Main {
  val SetupRounds = 2

  val LayerNames: Seq[String] = Seq(
    "extract.self_s", "extract.pages", "extract.bytes_in",
    "extract.pdf_pages", "extract.empty_pages", "extract.error_pages",
    "extract.kernel_pages_per_s",
    "rules.classify_self_s", "rules.fallback_pages", "rules.kernel_pages_per_s",
    "pipeline.segment_route_self_s", "pipeline.records",
    "pipeline.invalid_records", "pipeline.scalar_pages_per_s",
    "io.scan_s", "io.commit_self_s", "io.waves", "io.buckets_committed",
    "io.bytes_written", "io.read_amplification",
    "streaming.batches", "streaming.batch_s", "streaming.planning_s",
    "streaming.add_batch_s", "streaming.commit_s",
    "streaming.backlog_max_files", "streaming.latency_p50_s",
    "gen.lateness_max_s",
    "ops.gate_self_s", "ops.deboil_self_s", "ops.exact_self_s",
    "ops.neardup_self_s", "ops.pack_self_s", "ops.gate_in_rows",
    "ops.gate_out_rows", "ops.deboil_out_rows", "ops.exact_out_rows",
    "ops.neardup_out_rows", "ops.packed_rows", "ops.lsh_candidate_pairs",
    "ops.dups_per_candidate_pair",
    "catalog.q155_s", "catalog.q156_s", "catalog.sa_positions",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.cpu_util", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.input_bytes", "spark.input_records", "spark.output_bytes",
    "spark.task_skew_max", "spark.peak_exec_mem_mb",
    "trace.overhead_frac", "trace.wall_s", "trace.unaccounted_s", "gen.s")

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      "arguments are --key value pairs")
    args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val ctx = new Ctx(work, seed)
    val wl = Workload(name, ctx)

    // inputs first, in a session of their own (excluded from set-up)
    val gen = Session.build(work)
    val genS = Stats.seconds(wl.generate(gen))._2
    gen.stop()
    log(f"inputs generated in $genS%.2f s")

    // set-up = session build + warm pass, repeated; the last one stays
    val setups = (1 to SetupRounds).map { i =>
      val (spark, s) = Stats.seconds {
        val spark = Session.build(work)
        wl.warm(spark)
        spark
      }
      if (i < SetupRounds) spark.stop()
      log(f"set-up $i took $s%.2f s")
      (spark, s)
    }
    val spark = setups.last._1
    val setupS = Stats.median(setups.map(_._2))

    val metrics: Map[String, Double] =
      if (!traced) {
        val e = wl.measure(spark, seconds)
        println(f"# $name seed=$seed: setup_s=$setupS%.4f (median of $SetupRounds)")
        println(f"# $name: docs_per_s=${e.docsPerS}%.2f (median wall " +
          f"${e.opP50S}%.3f s) op_cpu_s=${e.cpuP50S}%.3f over ${e.costs.length} runs")
        Map("setup_s" -> setupS, "docs_per_s" -> e.docsPerS,
          "op_cpu_s" -> e.cpuP50S)
      } else {
        val tracer = new Tracer(s"$name-seed$seed")
        val counters = new EngineCounters
        val m = wl.trace(spark, seconds, tracer, counters) + ("gen.s" -> genS)
        tracer.write(Paths.get(opts("trace-out")))
        val unknown = m.keySet -- LayerNames
        require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
        LayerNames.map(k => k -> m.getOrElse(k, 0.0)).toMap
      }
    spark.stop()

    val t = wl.tally
    println(f"# $name: attempted=${t.attempted} failed=${t.failed} " +
      f"failed_frac=${t.failed.toDouble / math.max(1, t.attempted)}%.4f")
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k":$v"""
    }.mkString(",")
    println(s"""{"correct":${t.failed == 0 && t.attempted > 0},""" +
      s""""attempted":${t.attempted},"failed":${t.failed},"metrics":{$body}}""")
  }
}
