package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftshim.DatasetOf
import org.apache.spark.sql.types.StructType

/** Local checkpoints: take one that keeps its producer's clustering
  * ([[Ckpt.local]]), actually release one's storage blocks, and analyze a
  * plan once to run it over each call's frames ([[Ckpt.prepare]]).
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

  /** A frame's analyzed plan, built once over stand-in leaves and run per
    * call over real frames ([[Prepared.bind]]). */
  final class Prepared private[Ckpt] (val standIns: Seq[LocalRelation], val plan: LogicalPlan) {

    /** The prepared plan over `frames` (one per stand-in, in order), under
      * `spark`. Each frame's analyzed plan takes its stand-in's place, under
      * a projection that gives the frame's columns, matched by name (not by
      * position: a partitioned read lists its partition column last), the
      * stand-in's ids and so the plan above keeps its analysis. Pass the
      * caller's session, not a frame's: the executors' generated classes
      * are cached per session, so a per-call session compiles anew. */
    def bind(spark: SparkSession, frames: DataFrame*): DataFrame = {
      val bound: Map[LogicalPlan, LogicalPlan] = standIns.zip(frames).map { case (leaf, df) =>
        val in = df.queryExecution.analyzed
        leaf -> Project(leaf.output.map { a =>
          val column = in.output.find(o => o.name == a.name && o.dataType == a.dataType)
          require(column.isDefined, s"no column ${a.name} ${a.dataType.simpleString} to bind")
          Alias(column.get, a.name)(exprId = a.exprId)
        }, in)
      }.toMap
      DatasetOf(spark.asInstanceOf[classic.SparkSession],
        plan.transformUp { case l: LocalRelation if bound.contains(l) => bound(l) })
    }
  }

  /** Prepares `build`'s plan over stand-ins of the given schemas (empty
    * relations), under `spark`: analyzed once, here. Every stand-in column
    * is nullable, so no step above it is analyzed as if a bound frame's
    * column could hold no null. */
  def prepare(spark: SparkSession, schemas: StructType*)(
      build: Seq[DataFrame] => DataFrame): Prepared = {
    val standIns = schemas.map(s => LocalRelation(StructType(s.map(_.copy(nullable = true)))))
    val session = spark.asInstanceOf[classic.SparkSession]
    new Prepared(standIns, build(standIns.map(DatasetOf(session, _))).queryExecution.analyzed)
  }

  /** One prepared plan and the key of everything baked into it: the plan
    * is prepared again when asked for under another key. */
  final class Slot {
    private var held: Option[(Any, Prepared)] = None

    def apply(key: Any)(prepare: => Prepared): Prepared = synchronized {
      if (!held.exists(_._1 == key)) held = Some(key -> prepare)
      held.get._2
    }

    /** The plan held now, if any. */
    def current: Option[Prepared] = synchronized(held.map(_._2))
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
