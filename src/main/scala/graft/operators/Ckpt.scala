package graft.operators

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftshim.DatasetOf

/** Local checkpoints: take one that keeps its producer's clustering
  * ([[Ckpt.local]]), and actually release one's storage blocks.
  *
  * `Dataset.unpersist()` routes through the CacheManager, which holds no
  * entry for a checkpoint-backed LogicalRDD, so on a checkpointed frame
  * it is a NO-OP (r17 verdict finding): the persisted RDD's blocks live
  * until the driver GCs the RDD object and the ContextCleaner notices —
  * in an iterative loop, one dead generation of blocks per round held
  * between GC cycles. This helper unpersists the underlying
  * checkpoint RDD itself (non-blocking), freeing the blocks as soon as
  * the call is made.
  *
  * Safety contract (caller's burden, same as `RDD.unpersist`): the frame
  * must already be MATERIALIZED (its consumer's action has run) and no
  * later job may recompute from it — a freed lazy checkpoint would
  * re-execute its (truncated: empty) lineage and fail. The CC loop
  * therefore frees a round's blocks only AFTER the action that
  * materializes the next round's checkpoint (pinned in CkptSpec).
  */
object Ckpt {
  /** An eager local checkpoint that keeps the clustering of the plan that
    * produced it. Spark takes a checkpoint's partitioning from the root of
    * the executed plan, and an adaptive root reports none, so a consumer
    * keyed like the producer (a window over the same key) would shuffle
    * the rows again. The checkpoint's RDD holds the final adaptive plan's
    * output partitions as they are, so its `LogicalRDD` is rebound to that
    * plan's output partitioning (a coalesced read reports its own count).
    * Any other frame keeps Spark's checkpoint as it is. */
  def local(df: DataFrame): DataFrame = {
    val ckpt = df.localCheckpoint(eager = true)
    (ckpt.queryExecution.logical, df.queryExecution.executedPlan) match {
      case (r: LogicalRDD, a: AdaptiveSparkPlanExec) if a.isFinalPlan =>
        val spark = ckpt.sparkSession.asInstanceOf[classic.SparkSession]
        DatasetOf(spark, LogicalRDD(r.output, r.rdd, a.executedPlan.outputPartitioning,
          r.outputOrdering, r.isStreaming, r.stream)(
          spark, Some(r.computeStats()), Some(r.constraints)))
      case _ => ckpt
    }
  }

  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => () // not a checkpoint-backed frame: nothing to free
  }

  /** True when the frame is checkpoint-backed AND its underlying RDD's
    * storage level is still set (i.e. not yet freed) — spec/probe
    * support. */
  def isHeld(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: LogicalRDD =>
      r.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
    case _ => false
  }
}
