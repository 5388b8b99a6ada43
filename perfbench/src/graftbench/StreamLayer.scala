package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.model.Page
import graft.pipeline.{ExtractionPipeline => EP}
import graft.rules.RuleSets
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One committed micro-batch, from the engine's own progress report. */
final case class BatchProgress(commitMs: Long, durations: Map[String, Long]) {
  def secs(keys: String*): Double =
    keys.map(k => durations.getOrElse(k, 0L)).sum / 1e3
}

/** Collects the progress of every data batch of a session's queries. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentHashMap[Long, BatchProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // no-data triggers report no addBatch; only data batches count
    if (d.contains("addBatch"))
      batches.put(p.batchId, BatchProgress(
        Instant.parse(p.timestamp).toEpochMilli + d("triggerExecution"), d))
  }
}

/** The streaming layer: StreamingPipeline.extractStream over a watched
  * directory, one file per trigger, fed by an open-loop generator that
  * releases one parquet file of pages every `periodMs` whether or not
  * the engine keeps up. A file's latency runs from its due time to the
  * commit of the batch that holds it. The period is set well above the
  * measured per-batch service time, so latency measures service, not
  * queueing.
  */
final class StreamLayer(work: Path, tally: Tally, periodMs: Long) {
  private val watch = work.resolve("watch")
  private val out = work.resolve("out")
  private val ckpt = work.resolve("ckpt")
  private val progress = new ProgressLog

  /** Moves a file into the watched dir atomically: hidden temp name
    * first (the file source skips hidden files), then a rename.
    */
  private def release(src: Path): Unit = {
    val name = src.getFileName.toString
    val tmp = watch.resolve("." + name)
    Files.move(src, tmp, StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(System.currentTimeMillis()))
    Files.move(tmp, watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** batchId of each file name, from the file source's own log. */
  private def batchOfFile(): Map[String, Long] = {
    val log = ckpt.resolve("sources").resolve("0")
    val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(log).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala)
      .flatMap(l => Entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong)
      .toMap
  }

  /** Runs the warm files through a fresh query (untimed), then releases
    * `files` on the schedule. Each file is one operation: it fails if it
    * never commits; one more operation checks the union of streamed
    * records against ExtractionPipeline.records over the same pages.
    * Returns the streaming.* layer metrics.
    */
  def run(spark: SparkSession, warmFiles: Seq[Path], files: Seq[Path])
      : Map[String, Double] = {
    Files.createDirectories(watch)
    spark.streams.addListener(progress)
    val src = spark.readStream.schema(Encoders.product[Page].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(watch.toString)
    val q = StreamingPipeline.extractStream(src, out.toString, ckpt.toString,
      RuleSets.plugin, partitions = Session.Cores).start()
    try {
      warmFiles.foreach(release)
      q.processAllAvailable()

      val t0 = System.currentTimeMillis() + 200
      val times = new Array[(Long, Long)](files.length) // (due, released)
      val gen = new Thread(() => files.zipWithIndex.foreach { case (p, i) =>
        val due = t0 + i * periodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) LockSupport.parkNanos(wait * 1000000L)
        release(p)
        times(i) = (due, System.currentTimeMillis())
      }, "perfbench-stream-generator")
      gen.start()
      gen.join()
      val last = (warmFiles.length + files.length - 1).toLong
      val deadline = System.currentTimeMillis() + 60000
      while (!progress.batches.containsKey(last) && q.isActive &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      q.stop()
      spark.streams.removeListener(progress)

      val of = batchOfFile()
      val batches = files.map(p => of.get(p.getFileName.toString)
        .flatMap(b => Option(progress.batches.get(b))))
      batches.zip(files).foreach { case (b, p) =>
        tally.attempt(s"stream file ${p.getFileName}")(
          if (b.isDefined) Nil else Seq("never committed"))
      }
      tally.attempt("stream union")(checkUnion(spark))
      val done = batches.flatten
      val commits = batches.map(_.map(_.commitMs).getOrElse(Long.MaxValue))
      // files released but not yet committed, at each release
      val backlog = times.indices.map(i =>
        (0 to i).count(j => commits(j) > times(i)._2)).max
      def med(f: BatchProgress => Double) = Stats.median(done.map(f))
      Map(
        "streaming.batches" -> done.length.toDouble,
        "streaming.batch_s" -> med(_.secs("triggerExecution")),
        "streaming.planning_s" ->
          med(_.secs("latestOffset", "getBatch", "queryPlanning")),
        "streaming.add_batch_s" -> med(_.secs("addBatch")),
        "streaming.commit_s" -> med(_.secs("walCommit", "commitOffsets")),
        "streaming.backlog_max_files" -> backlog.toDouble,
        "streaming.latency_p50_s" ->
          Stats.median(batches.zip(times).flatMap { case (b, (due, _)) =>
            b.map(x => (x.commitMs - due) / 1e3) }),
        "gen.lateness_max_s" ->
          times.map { case (due, rel) => (rel - due) / 1e3 }.max)
    } finally if (q.isActive) q.stop()
  }

  /** The StreamingSpec invariant over everything the query consumed:
    * the union of streamed records equals ExtractionPipeline.records.
    */
  private def checkUnion(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    val got = Checks.recordsDigest(spark.read.parquet(out.toString))
    val pages = spark.read.schema(Encoders.product[Page].schema)
      .parquet(watch.toString).as[Page]
    val want = Checks.recordsDigest(
      EP.records(pages, RuleSets.plugin, Session.Cores))
    if (got == want) Nil
    else Seq(s"streamed records differ from batch records (${got.n} vs ${want.n})")
  }
}
