package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One JVM, one session shape: local[4] with four shuffle partitions,
  * the session settings every graft entry point uses, and all scratch
  * state (block manager dirs, warehouse) inside the run's work dir.
  */
object Session {
  val Cores = 4

  def build(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.ops.SessionTuning(s)
    s
  }

  /** Release every persisted / localCheckpoint'ed block. graft's
    * operators leak localCheckpoint blocks by design (they are the
    * lineage fences), so without this each repetition would start with
    * less free storage than the one before.
    */
  def releaseBlocks(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Wall time and the JVM's CPU time (all threads: tasks, driver,
    * codegen, JIT, GC) of `f`, in seconds.
    */
  def cost(f: => Unit): Cost = {
    val c0 = os.getProcessCpuTime
    val wall = seconds(f)._2
    Cost(wall, (os.getProcessCpuTime - c0) / 1e9)
  }
}

final case class Cost(wall: Double, cpu: Double)

/** Spans kept in memory and written once at the end of a traced run. */
final class Tracer(runId: String) {
  private case class Span(id: Int, name: String, parent: Int,
      startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()

  /** Runs `f` inside a span; returns its result and its duration (s). */
  def span[T](name: String, parent: Int = -1)(f: Int => T): (T, Double) = {
    val id = spans.length
    spans += Span(id, name, parent, System.nanoTime(), -1L)
    val t0 = System.nanoTime()
    val r = f(id)
    val t1 = System.nanoTime()
    spans(id) = spans(id).copy(startNs = t0, endNs = t1)
    (r, (t1 - t0) / 1e9)
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      f"""{"run":"$runId","id":${s.id},"name":"${s.name}",""" +
        f""""parent":${s.parent},"start_s":${(s.startNs - origin) / 1e9}%.6f,""" +
        f""""end_s":${(s.endNs - origin) / 1e9}%.6f}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** Engine counters aggregated from task and stage events. Registered
  * only in traced runs, so untraced runs pay nothing for it.
  */
final class EngineCounters extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs = 0L
  private var shuffleW, shuffleR, spill, inBytes, inRecords, outBytes = 0L
  private var peakMem = 0L
  private var skewMax = 0.0
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleW = 0; shuffleR = 0; spill = 0; inBytes = 0; inRecords = 0
    outBytes = 0
    peakMem = 0; skewMax = 0.0; taskMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead
      inRecords += m.inputMetrics.recordsRead
      outBytes += m.outputMetrics.bytesWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      taskMs.remove(e.stageInfo.stageId).filter(_.nonEmpty).foreach { d =>
        val med = Stats.median(d.map(_.toDouble).toSeq)
        if (med > 0) skewMax = math.max(skewMax, d.max / med)
      }
    }

  /** Counters since the last reset, which spanned one operation of
    * `wallS` seconds.
    */
  def snapshot(wallS: Double): Map[String, Double] = synchronized {
    val cpuS = cpuNs / 1e9
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.executor_run_s" -> runMs / 1e3,
      "spark.executor_cpu_s" -> cpuS,
      "spark.cpu_util" ->
        (if (wallS > 0) cpuS / (wallS * Session.Cores) else 0.0),
      "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_write_bytes" -> shuffleW.toDouble,
      "spark.shuffle_read_bytes" -> shuffleR.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.input_bytes" -> inBytes.toDouble,
      "spark.input_records" -> inRecords.toDouble,
      "spark.output_bytes" -> outBytes.toDouble,
      "spark.task_skew_max" -> skewMax,
      "spark.peak_exec_mem_mb" -> peakMem / 1048576.0)
  }
}

object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Total bytes of the regular files under `p`. */
  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_))
        .mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
