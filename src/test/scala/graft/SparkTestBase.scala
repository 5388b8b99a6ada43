package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM, built the way
  * the shipped entry points build theirs.
  */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test",
    // bucketed-table tests (BucketingSpec) write managed tables here
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)

  /** Spark jobs `body` starts, counted after a listener-bus barrier. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      body
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(counter)
    jobs.get()
  }
}
