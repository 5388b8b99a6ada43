package graft

import graft.ops.Curation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evidence harness for the round-4 stratum-window fix: times the OLD
  * shape (one `Window.partitionBy(stratum)` running sum — the whole
  * stratum in ONE task) against the sharded [[Curation.tokenBudgetAssign]]
  * on a corpus with one hot stratum, and asserts the outputs are
  * identical. The old shape's wall-clock is bounded below by the hot
  * stratum's single task regardless of cores; the sharded form spreads
  * it across the cluster — the gap here at 90%-hot/`local[N]` scale is
  * the lower bound of the gap at 10^12-doc/1000-executor scale, where
  * the single task simply never finishes.
  *
  * Usage: runMain graft.BenchShard [rows] [cores]
  */
object BenchShard {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(5000000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = GraftSession.local(cores, "graft-bench-shard",
      "spark.sql.shuffle.partitions" -> (cores * 2).toString)

    // 90% of the corpus in one stratum ("en") — the web reality
    val docs = spark.range(0, rows, 1, cores * 2)
      .select(col("id"),
        when(pmod(col("id"), lit(10)) < 9, lit("en"))
          .otherwise(lit("de")).as("lang"),
        (pmod(col("id") * 2654435761L, lit(200)) + 10L).as("n_toks"))
      .localCheckpoint() // both paths read identical materialized input

    val budgets = Map("en" -> (rows * 20L), "de" -> (rows * 2L))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // OLD shape: the whole stratum is one window partition = one task
    def oldForm(input: org.apache.spark.sql.DataFrame = docs): Long = {
      val ord = md5(concat(col("id").cast("string"), lit(":budget")))
      val w = Window.partitionBy(col("lang")).orderBy(col("_ord"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val budgetCol = budgets.toSeq.sortBy(_._1)
        .foldLeft(lit(0L)) { case (els, (k, v)) =>
          when(col("lang") === k, lit(v)).otherwise(els) }
      input.select(col("id"), col("lang"),
          col("n_toks").cast("long").as("n_tokens"), ord.as("_ord"))
        .withColumn("_cum", sum(col("n_tokens")).over(w))
        .withColumn("start_tok", col("_cum") - col("n_tokens"))
        .withColumn("kept", col("start_tok") < budgetCol)
        .filter(col("kept")).count()
    }
    def newForm(input: org.apache.spark.sql.DataFrame = docs): Long =
      Curation.tokenBudgetAssign(input, "id", "lang", "n_toks", budgets)
        .filter(col("kept")).count()

    // IDENTICAL treatment for both forms: warm each on a small prefix
    // (codegen/JIT), then take each form's min of 2 measured passes —
    // anything asymmetric would bias the published comparison
    val small = docs.limit(10000).localCheckpoint()
    newForm(small); oldForm(small)
    val (keptNew, tNew) = time(newForm())
    val (keptOld, tOld) = time(oldForm())
    val (keptNew2, tNew2) = time(newForm())
    val (keptOld2, tOld2) = time(oldForm())
    require(keptOld == keptNew && keptNew == keptNew2 && keptOld == keptOld2,
      s"results differ: old=$keptOld/$keptOld2 new=$keptNew/$keptNew2")
    val bestOld = math.min(tOld, tOld2)
    val bestNew = math.min(tNew, tNew2)
    println(f"""{"metric":"stratum_window_shapes","rows":$rows,"cores":$cores,"kept":$keptNew,"sec_single_window":$bestOld%.2f,"sec_sharded":$bestNew%.2f,"speedup":${bestOld / bestNew}%.2f}""")
    spark.stop()
  }
}
