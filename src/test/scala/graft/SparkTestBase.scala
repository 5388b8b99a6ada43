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
}
