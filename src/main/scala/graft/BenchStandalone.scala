package graft

import java.io.File
import java.net.{InetSocketAddress, Socket}
import scala.sys.process._

/** North-rule scaling evidence, strongest form available in the sandbox:
  * a REAL Spark standalone cluster on localhost — one Master JVM plus W
  * Worker JVMs (each taskset-pinned to a disjoint 4-core cpuset, exactly
  * what YARN/k8s cpusets do), with the SAME driver app submitted at two
  * cluster sizes (W = N and W = 4N workers). Unlike the static-slice
  * fleet harness (BenchCluster), tasks here are scheduled DYNAMICALLY
  * across executors by the real Spark scheduler — straggler executors
  * steal no wall-clock beyond their true work imbalance, as on a
  * production cluster.
  *
  * The driver JVM (this main) runs unpinned on the host's spare cores;
  * with the default 1-vs-4 worker sizes, cores 0-15 are executor
  * cpusets and 16-31 remain free for driver/master — scheduling does
  * not contend with the measured executors.
  *
  * Per cluster size: start workers → one warmup pass (JIT + codegen +
  * parquet footers) → `reps` measured passes of the full extraction
  * pipeline over the SAME materialized pages table → report the
  * fastest pass; executor-fleet CPU utilization is measured from
  * /proc/<pid>/stat deltas over the pass (evidence the cpusets were
  * actually delivered by the shared-hypervisor host).
  */
object BenchStandalone {

  private val MasterPort = 7077
  private def masterUrl = s"spark://localhost:$MasterPort"

  private def javaBin = s"${sys.props("java.home")}/bin/java"
  private def cp = sys.props("java.class.path")

  /** The packaged application jar (`sbt package`), shipped to executors
    * via spark.jars — the same mechanism spark-submit uses.
    */
  private def appJar: String = {
    val dir = new File("target/scala-2.13")
    dir.listFiles()
      .filter(f => f.getName.endsWith(".jar"))
      .sortBy(-_.lastModified())
      .headOption
      .map(_.getAbsolutePath)
      .getOrElse(sys.error(
        "no app jar under target/scala-2.13 — run `sbt package` first"))
  }

  private def waitForPort(port: Int, timeoutMs: Long): Unit = {
    val t0 = System.currentTimeMillis()
    var ok = false
    while (!ok) {
      try {
        val s = new Socket()
        s.connect(new InetSocketAddress("localhost", port), 500)
        s.close(); ok = true
      } catch {
        case _: Exception =>
          if (System.currentTimeMillis() - t0 > timeoutMs)
            sys.error(s"port $port not up after ${timeoutMs}ms")
          Thread.sleep(200)
      }
    }
  }

  private val MasterUiPort = 8090

  private def startMaster(): Process = {
    val cmd = Seq(javaBin, "-Xmx512m", "-XX:ActiveProcessorCount=2") ++
      BenchCluster.AddOpens ++ Seq(
      "-cp", cp, "org.apache.spark.deploy.master.Master",
      "--host", "localhost", "--port", MasterPort.toString,
      "--webui-port", MasterUiPort.toString)
    val verbose = sys.env.get("SPARK_GRAFT_CLUSTER_LOGS").contains("1")
    val p = Process(cmd).run(ProcessLogger(
      l => if (verbose) System.err.println(s"[master] $l"),
      l => if (verbose) System.err.println(s"[master] $l")))
    waitForPort(MasterPort, 30000)
    p
  }

  /** Poll the master's JSON endpoint until exactly `w` workers are
    * ALIVE. Submitting an app before all workers register races the
    * scheduler onto stale/partial fleets (10 instant executor failures
    * → app removed).
    */
  private def waitForAliveWorkers(w: Int, timeoutMs: Long = 60000): Unit = {
    val t0 = System.currentTimeMillis()
    var alive = -1
    while (alive != w) {
      if (System.currentTimeMillis() - t0 > timeoutMs)
        sys.error(s"master reports $alive alive workers, want $w")
      Thread.sleep(300)
      try {
        val json = scala.io.Source
          .fromURL(s"http://localhost:$MasterUiPort/json/").mkString
        alive = "\"aliveworkers\"\\s*:\\s*(\\d+)".r
          .findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(-1)
      } catch { case _: Exception => alive = -1 }
    }
  }

  /** Start `w` workers, worker i pinned to cores [i*cores, (i+1)*cores).
    * The executor each worker launches inherits the taskset mask.
    */
  private def startWorkers(w: Int, cores: Int, mem: String): Seq[Process] =
    (0 until w).map { i =>
      val pin = Seq("/usr/bin/taskset", "-c",
        s"${i * cores}-${i * cores + cores - 1}")
      val dir = s"/dev/shm/spark-worker-$i"
      new File(dir).mkdirs()
      val cmd = pin ++ Seq(javaBin, "-Xmx512m",
        s"-XX:ActiveProcessorCount=$cores",
        "-Dspark.ui.enabled=false") ++ BenchCluster.AddOpens ++ Seq(
        "-cp", cp, "org.apache.spark.deploy.worker.Worker",
        "--host", "localhost", "--cores", cores.toString,
        "--memory", mem, "--work-dir", dir, "--webui-port", "0",
        masterUrl)
      val verbose = sys.env.get("SPARK_GRAFT_CLUSTER_LOGS").contains("1")
      // ExecutorRunner builds the executor command with spark-launcher,
      // which resolves the jars dir from SPARK_HOME and the scala
      // version from SPARK_SCALA_VERSION (normally exported by
      // bin/load-spark-env.sh, which a raw-java worker bypasses)
      // SPARK_LOCAL_DIRS: in standalone mode executors inherit their
      // scratch dirs from the WORKER env (the driver's spark.local.dir
      // is overridden) — without this, all executors shuffle through
      // the ~200 MB/s virtio /tmp, which punishes the larger fleet
      Process(cmd, None, "SPARK_HOME" -> "/opt/spark",
        "SPARK_SCALA_VERSION" -> "2.13",
        "SPARK_LOCAL_DIRS" -> BenchCluster.ShmLocalDir).run(ProcessLogger(
        l => if (verbose) System.err.println(s"[worker$i] $l"),
        l => if (verbose) System.err.println(s"[worker$i] $l")))
    }

  /** Pids of live executor backends (children of the workers). */
  private def executorPids(): Seq[Int] =
    new File("/proc").listFiles()
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .filter { f =>
        try {
          val cl = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"/proc/${f.getName}/cmdline"))
          new String(cl).contains("CoarseGrainedExecutorBackend")
        } catch { case _: Exception => false }
      }
      .map(_.getName.toInt).toSeq

  /** Sum of utime+stime seconds over the given pids. */
  private def cpuSeconds(pids: Seq[Int]): Double = {
    val hz = 100.0 // USER_HZ on linux
    pids.map { pid =>
      try {
        val stat = scala.io.Source.fromFile(s"/proc/$pid/stat").mkString
        // fields 14,15 (1-based) after the parenthesised comm
        val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        (rest(11).toLong + rest(12).toLong) / hz
      } catch { case _: Exception => 0.0 }
    }.sum
  }

  case class Pass(sec: Double, rows: Long, util: Double)

  /** One cluster size: fresh master + workers → wait until every worker
    * is ALIVE → session → warmup → measured passes → full teardown. A
    * master shared across cluster sizes keeps the previous phase's
    * worker registered for its heartbeat-timeout window, and the
    * scheduler races executors onto the stale entry (10 instant
    * failures → app removed before the new fleet registers).
    */
  private def runClusterSize(pagesPath: String, workers: Int, cores: Int,
      reps: Int): Seq[Pass] = {
    val master = startMaster()
    val ws = startWorkers(workers, cores, "3g")
    try {
      waitForAliveWorkers(workers)
      val spark = GraftSession.local(workers * cores,
        s"graft-standalone-$workers",
        "spark.master" -> masterUrl,
        "spark.executor.cores" -> cores.toString,
        "spark.executor.memory" -> "2g",
        // ship the app jar exactly as spark-submit would (running the
        // classes dir via executor extraClassPath instead trips lambda
        // deserialization: SerializedLambda → Function3 cast failures)
        "spark.jars" -> appJar,
        "spark.executor.extraJavaOptions" ->
          ("-Xmn1500m -XX:+AlwaysPreTouch " +
            s"-XX:ActiveProcessorCount=$cores " +
            BenchCluster.AddOpens.mkString(" ")),
        "spark.cores.max" -> (workers * cores).toString,
        GraftSession.ScanSplits,
        "spark.local.dir" -> BenchCluster.ShmLocalDir,
        // all executors must be up before the first measured pass
        "spark.scheduler.minRegisteredResourcesRatio" -> "1.0",
        "spark.scheduler.maxRegisteredResourcesWaitingTime" -> "60s")
      spark.sparkContext.setLogLevel("ERROR")
      try {
        import spark.implicits._
        def job(): Long = {
          val pages = spark.read.parquet(pagesPath).as[graft.model.Page]
          graft.pipeline.ExtractionPipeline.records(pages, partitions = 0)
            .count()
        }
        job() // warmup: JIT, codegen, parquet footers, shuffle services
        (0 until reps).map { _ =>
          val pids = executorPids()
          val c0 = cpuSeconds(pids)
          val t0 = System.nanoTime()
          val n = job()
          val sec = (System.nanoTime() - t0) / 1e9
          val cpu = cpuSeconds(pids) - c0
          Pass(sec, n, cpu / (sec * workers * cores))
        }
      } finally spark.stop()
    } finally {
      ws.foreach(_.destroy())
      master.destroy()
      ws.foreach(_.exitValue())
      master.exitValue()
      waitForPortFree(MasterPort, 30000)
    }
  }

  private def waitForPortFree(port: Int, timeoutMs: Long): Unit = {
    val t0 = System.currentTimeMillis()
    var free = false
    while (!free) {
      try {
        val ss = new java.net.ServerSocket()
        ss.setReuseAddress(true)
        ss.bind(new InetSocketAddress("localhost", port))
        ss.close(); free = true
      } catch {
        case _: Exception =>
          if (System.currentTimeMillis() - t0 > timeoutMs)
            sys.error(s"port $port still bound after ${timeoutMs}ms")
          Thread.sleep(200)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    new File(BenchCluster.ShmLocalDir).mkdirs()
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "800000").toLong
    val boost = sys.env.getOrElse("SPARK_GRAFT_BENCH_BOOST", "8").toInt
    val cores = sys.env.getOrElse("SPARK_GRAFT_EXEC_THREADS", "4").toInt
    val execN = sys.env.getOrElse("SPARK_GRAFT_EXEC_N", "1").toInt
    val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "2").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_CHILD_REPS", "2").toInt
    val path = BenchCluster.ensureBucketedTable(nPages, boost)
    val ts = (1 to trials).map { t =>
        val pN = runClusterSize(path, execN, cores, reps).minBy(_.sec)
        val p4N = runClusterSize(path, execN * 4, cores, reps).minBy(_.sec)
        val tr = BenchCluster.Trial(pN.sec, p4N.sec, pN.util, p4N.util)
        System.err.println(
          f"[standalone] trial $t tN=${tr.tN}%.2f t4N=${tr.t4N}%.2f " +
            f"utilN=${tr.utilN}%.2f util4N=${tr.util4N}%.2f " +
            f"eff=${tr.eff}%.3f rowsN=${pN.rows} rows4N=${p4N.rows}")
        tr
      }
    // shared credibility rule (eff ≤ 1 + util floor; see
    // BenchCluster.selectBest): eff > 1.0 means the N side landed in a
    // degraded host window, not superlinear scaling — never headline it
    println(
      f"""{"mode":"standalone-cluster","pages":$nPages,"boost":$boost,"workers_N":$execN,"workers_4N":${execN * 4},"cores_per_worker":$cores,${BenchCluster.pairsJson(nPages, ts)}}""")
  }
}
