package graft.ops

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** The Spark internals [[Checkpoints]] relies on: `localCheckpoint()`
  * leaves exactly one LogicalRDD leaf whose rdd is registered as
  * persistent, and unpersisting that rdd drops the registration.
  */
class CheckpointsSpec extends AnyFunSuite {
  test("a localCheckpoint is one persistent RDD until released") {
    val spark = SparkTestBase.spark
    val df = spark.range(100).toDF().localCheckpoint()
    val rdds = Checkpoints.rdds(df)
    assert(rdds.size == 1)
    val id = rdds.head.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    Checkpoints.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }
}
