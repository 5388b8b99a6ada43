package graft.catalog

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** q26_media and q27_frames read no table (their media rows come from
  * `Multimodal.synth`), so they have no DuckDB oracle. Their oracle is
  * a plain-Scala fold over the same 500 rows, re-derived on the driver
  * from the generator's definition.
  */
class MultimodalQueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  private case class Media(kind: String, w: Int, h: Int, dur: Int,
      nBytes: Int)

  /** `Multimodal.synth`'s draws for media ids 0 until n. */
  private def generated(n: Int): Seq[Media] = (0 until n).map { id =>
    val i = id.toLong
    val rng = new scala.util.Random(i * 0xC2B2AE3D27D4EB4FL)
    val kind = Vector("image", "audio", "video")(rng.nextInt(3))
    val w = if (kind == "audio") 0 else 160 + 16 * rng.nextInt(100)
    val h = if (kind == "audio") 0 else 90 + 9 * rng.nextInt(100)
    val dur = if (kind == "image") 0 else 1000 + rng.nextInt(600000)
    // fakeBytes: a 16-byte header, then 64 + nextInt(192) body bytes
    val body = 64 + new scala.util.Random(i * 0x9E3779B97F4A7C15L).nextInt(192)
    Media(kind, w, h, dur, 16 + body)
  }

  private def run(name: String): Seq[Seq[Any]] = {
    val df: DataFrame = SparkEntry.queries(name)(spark, "")
    df.collect().toSeq.map((r: Row) => r.toSeq.map {
      case n: java.lang.Number => n.longValue
      case v => v
    })
  }

  test("q26_media and q27_frames == a driver-side fold over the 500 " +
      "generated media rows") {
    val media = generated(500)
    val byKind = media.groupBy(_.kind).toSeq.sortBy(_._1)
    // withResizePlan: 336x336 box, aspect kept, never upscaled
    def resizeW(m: Media): Long =
      if (m.w > 0)
        math.floor(m.w * math.min(math.min(336.0 / m.w, 336.0 / m.h), 1.0))
          .toLong
      else 0L
    val q26 = byKind.map { case (kind, ms) =>
      Seq(kind, ms.size.toLong, ms.map(_.nBytes.toLong).sum,
        ms.map(resizeW).sum)
    }
    // sampleFrames at a 10 s step: frames 0 .. floor((dur - 1) / 10000)
    val q27 = byKind.flatMap { case (kind, ms) =>
      val frames = ms.filter(_.dur > 0).map(m => (m.dur - 1) / 10000 + 1L)
      if (frames.isEmpty) None
      else Some(Seq(kind, frames.sum, frames.max - 1))
    }
    assert(q26.map(_.head) == Seq("audio", "image", "video"))
    assert(q27.map(_.head) == Seq("audio", "video"))
    assert(run("q26_media") == q26)
    assert(run("q27_frames") == q27)
  }
}
