package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Stage-level checkpoint/resume for corpus-GLOBAL pipelines.
  *
  * `TableIO.runResumable`'s bucket-wave protocol fits per-document
  * work, where the url-hash bucket is a valid commit unit. Corpus-wide
  * stages (paragraph dedup, minhash clustering) have cross-bucket
  * dependencies — their natural commit unit is the STAGE: each stage
  * writes its full output as a parquet table plus a commit marker
  * (`CommitLog`, the same record protocol as TableIO's `_lineage`); a
  * resumed run reuses every committed stage's table and recomputes only
  * from the first uncommitted stage. This is the intermediate-table
  * checkpointing a 100 TB multi-stage curation job does between its
  * global barriers (on a cluster: Iceberg snapshot commits; here:
  * parquet dir + marker).
  *
  * A kill mid-write leaves no marker → the stage reruns and its
  * Overwrite replaces any partial files. A marker records stage, rows
  * (observed in the data write, like a bucket's lineage) and timing.
  */
object StagedJob {

  def markerPath(out: String, name: String) =
    Paths.get(out, s"stage_$name", "_COMMITTED")

  def committed(out: String, name: String): Boolean =
    CommitLog.read(markerPath(out, name)).isDefined

  /** Run (or reuse) one named stage. `f` is only evaluated when the
    * stage is not yet committed. Returns the stage's table, always read
    * back from disk so downstream stages depend on the committed bytes,
    * not on in-memory lineage: a fresh stage with the written schema (no
    * footer-inference job), a reused one by reading its footers once.
    *
    * @param requiredCols columns the CURRENT code expects in this
    *                     stage's output. A committed table missing any
    *                     of them was written by an older pipeline
    *                     version (e.g. the gate's `_red` → `_paras`
    *                     format change) — reusing it would fail many
    *                     stages later with an unresolved-column error,
    *                     so the stale commit is invalidated and the
    *                     stage recomputed instead.
    */
  def stage(spark: SparkSession, out: String, name: String,
      requiredCols: Seq[String] = Nil)
      (f: => DataFrame): DataFrame = {
    val dir = s"$out/stage_$name"
    val marker = markerPath(out, name)
    if (committed(out, name)) {
      val reused = spark.read.parquet(dir)
      val missing = requiredCols.filterNot(reused.columns.toSet)
      if (missing.isEmpty) return reused
      System.err.println(s"[graft] stage $name was committed by an " +
        s"older pipeline version (missing ${missing.mkString(", ")}); " +
        "recomputing")
      Files.delete(marker)
    }
    val t0 = System.currentTimeMillis()
    val df = f
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(dir)
    CommitLog.write(marker, Seq("stage" -> name, "rows" -> rows.get("rows"),
      "start_ms" -> t0, "end_ms" -> System.currentTimeMillis()))
    spark.read.schema(df.schema).parquet(dir)
  }

  /** Rows recorded in a committed stage's marker. */
  def readRows(out: String, name: String): Option[Long] =
    CommitLog.read(markerPath(out, name)).flatMap(_.get("rows")).map(_.toLong)
}
