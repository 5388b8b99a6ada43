package graft

import graft.ops.SessionTuning
import org.apache.spark.sql.SparkSession

/** The one place this repo builds a SparkSession. `Bench` and `Verify`
  * keep their own builders: their output formats and session shapes are
  * fixed contracts.
  *
  * Every session gets the same SQL settings:
  *  - UTC session time zone;
  *  - `spark.sql.constraintPropagation.enabled=false`: alias
  *    substitution in constraint propagation goes exponential on deep
  *    multi-referenced text-feature projections (e.g. the curation
  *    gate), and nothing here benefits from inferred filters; see the
  *    `Curation.curate` scaladoc;
  *  - [[SessionTuning]] (the `InferFiltersFromGenerate` exclusion);
  *  - log level WARN.
  *
  * `conf` pairs are applied last, so they carry deployment settings
  * (`spark.local.dir`, a cluster master URL, jars, executor sizing, a
  * warehouse dir) and override a default where a caller needs to.
  */
object GraftSession {

  /** Split the file scan finely enough to feed every thread: the 128 MB
    * default gives ~8 splits for the bench table, which starves
    * local[32]. Same rule as sizing input splits on a real cluster.
    */
  val ScanSplits: (String, String) =
    "spark.sql.files.maxPartitionBytes" -> (8 * 1024 * 1024).toString

  /** [[ScanSplits]] plus the AQE coalesce floor. AQE coalesces shuffle
    * reads down to minPartitionSize (1 MB default) BEFORE parallelism
    * once partitions are small, but this engine's shuffles are
    * deliberately THIN (ids + 32-bit hashes standing in for text), so
    * "1 MB" of candidate pairs is ~50k rows of CPU-heavy exact-verify
    * work squeezed onto 1-4 cores (measured: q95's 1M-pair block join
    * ran 4-way). 64 KB keeps thin stages at full parallelism;
    * corpus-sized shuffles never see this floor. Passed by the mains
    * that time catalog queries, matching `Bench`'s session.
    */
  val SplitRules: Seq[(String, String)] = Seq(ScanSplits,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

  private val ZoneKey = "spark.sql.session.timeZone"

  /** The session zone Spark picks when a builder does not pin one (a
    * `-Dspark.sql.session.timeZone` property, else the JVM zone). The
    * sessions `Bench` launches pass it to keep the zone their scaling
    * series were measured under.
    */
  def unpinnedZone: (String, String) = ZoneKey ->
    sys.props.getOrElse(ZoneKey, java.util.TimeZone.getDefault.getID)

  /** `local[cpus]` with `cpus` shuffle partitions, UI off, driver bound
    * to localhost.
    */
  def local(cpus: Int, app: String, conf: (String, String)*): SparkSession =
    build(app, Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.driver.host" -> "localhost") ++ conf)

  /** spark-submit entry points: the master comes from spark-submit, else
    * `SPARK_MASTER`, else `local[*]`, so a bare `runMain` works too.
    */
  def submit(app: String, conf: (String, String)*): SparkSession =
    build(app, ("spark.master" -> sys.props.getOrElse("spark.master",
      sys.env.getOrElse("SPARK_MASTER", "local[*]"))) +: conf)

  private def build(app: String, conf: Seq[(String, String)]): SparkSession = {
    val base = SparkSession.builder().appName(app)
      .config(ZoneKey, "UTC")
      .config("spark.sql.constraintPropagation.enabled", "false")
    val s = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    SessionTuning(s)
    s
  }
}
