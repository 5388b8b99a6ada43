package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The RDDs that hold a `localCheckpoint`'ed frame's blocks: the
  * LogicalRDD leaves of its analyzed plan. Probe these, not the frame's
  * `.rdd`, which wraps the checkpoint in a fresh deserialization RDD
  * whose storage level is always NONE.
  */
private[graft] object Checkpoints {
  def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Release the blocks behind a localCheckpoint'ed frame. Safe only
    * once nothing downstream can re-read it (a truncated-lineage RDD
    * cannot be recomputed after unpersist).
    */
  def release(df: DataFrame): Unit = rdds(df).foreach(_.unpersist(false))
}
