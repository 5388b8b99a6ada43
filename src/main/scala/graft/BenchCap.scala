package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evidence harness for the round-5 bucket-cap fix: times the OLD
  * guard shape (`count(*).over(Window.partitionBy(band, bucket))` —
  * the entire hot bucket funneled through ONE task just to measure
  * its size) against the shipped two-pass form
  * (map-side-combinable groupBy → broadcast anti-join of the small
  * over-cap set, `ops.Dedup.capBuckets`) on a banded table with one
  * viral bucket, and asserts the surviving row sets are identical.
  *
  * The old shape completes here (counting is linear), but its
  * wall-clock is bounded below by the hot bucket's single task no
  * matter how many cores exist — at design scale a viral
  * (band, bucket) of 10^8 rows is one straggler materializing
  * gigabytes before dropping them; the two-pass form never moves the
  * hot bucket's rows to one place at all.
  *
  * Usage: runMain graft.BenchCap [rows] [hotFrac%] [cores]
  */
object BenchCap {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val hotPct = args.lift(1).map(_.toInt).getOrElse(50)
    val cores = args.lift(2).map(_.toInt).getOrElse(16)
    val maxBucket = 1000
    val spark = GraftSession.local(cores, "graft-bench-cap",
      "spark.sql.shuffle.partitions" -> (cores * 2).toString)

    // hotPct% of rows land in ONE (band, bucket) — the viral
    // boilerplate page every real crawl has; the rest spread over
    // small buckets that survive the cap
    val banded = spark.range(0, rows, 1, cores * 2)
      .select(col("id"),
        pmod(col("id"), lit(4)).cast("int").as("band"),
        when(pmod(col("id"), lit(100)) < hotPct, lit("HOT"))
          .otherwise(
            concat(lit("b"), pmod(col("id") * 2654435761L,
              lit(rows / 200L)).cast("string"))).as("bucket"))
      .localCheckpoint() // both paths read identical materialized input

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // OLD shape: size every bucket via a count-over-window
    def oldForm(): (Long, Long) = {
      val w = Window.partitionBy(col("band"), col("bucket"))
      val r = banded.withColumn("_bsz", count(lit(1)).over(w))
        .filter(col("_bsz") <= maxBucket).drop("_bsz")
        .agg(count(lit(1)), sum(col("id"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // NEW shape: the shipped two-pass guard
    def newForm(): (Long, Long) = {
      val r = graft.ops.Dedup.capBuckets(banded, maxBucket)
        .agg(count(lit(1)), sum(col("id"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    // warm both, then min-of-2 each
    oldForm(); newForm()
    val o = Seq.fill(2)(time(oldForm())).map(_._2).min
    val n = Seq.fill(2)(time(newForm())).map(_._2).min
    // identical survivors (count + id checksum)
    val oc = oldForm(); val nc = newForm()
    require(oc == nc, s"survivor mismatch: old=$oc new=$nc")
    println(s"""{"metric":"cap_guard","rows":$rows,"hot_pct":$hotPct,""" +
      s""""cores":$cores,"survivors":${oc._1},""" +
      s""""old_window_sec":${f"$o%.2f"},"two_pass_sec":${f"$n%.2f"},""" +
      s""""speedup":${f"${o / n}%.2f"}}""")
    spark.stop()
  }
}
