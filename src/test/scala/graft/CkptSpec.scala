package graft

import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.row_number
import org.apache.spark.storage.StorageLevel
import graft.operators.Ckpt

/** Pins the r18 checkpoint-reclamation contract (r17 verdict #2):
  * `Dataset.unpersist()` on a localCheckpoint'd frame is a CacheManager
  * no-op (its blocks survive), while [[Ckpt.free]] releases the
  * underlying checkpoint RDD's blocks immediately — the behaviour the
  * CC loop relies on to hold ~one generation of label blocks. */
class CkptSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private def persistentIds = spark.sparkContext.getPersistentRDDs.keySet

  test("Dataset.unpersist is a no-op on a localCheckpoint'd frame; " +
    "Ckpt.free actually releases its blocks") {
    val before = persistentIds
    val df = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .localCheckpoint(true) // eager: blocks exist now
    val newIds = persistentIds -- before
    assert(newIds.size === 1, "expected exactly one new persistent RDD")
    assert(Ckpt.isHeld(df))

    df.unpersist(blocking = true) // the r17-verdict no-op
    assert(Ckpt.isHeld(df),
      "Dataset.unpersist unexpectedly freed a checkpoint — if Spark " +
        "fixed this, the CC loop's free-after-materialize ordering " +
        "must be re-audited before simplifying Ckpt away")
    assert((persistentIds -- before) === newIds)

    Ckpt.free(df)
    assert(!Ckpt.isHeld(df))
    assert((persistentIds -- before).isEmpty,
      "Ckpt.free must drop the checkpoint RDD from the persistence map")
  }

  test("Ckpt.free after the consumer materialized a LAZY dependent " +
    "checkpoint leaves the dependent readable (the CC-loop ordering)") {
    val a = (1 to 300).map(i => (i.toLong, i * 2L)).toDF("k", "v")
      .localCheckpoint(true)
    // lazy checkpoint derived from `a`, as each CC round derives from
    // the previous round's labels
    val b = a.withColumn("w", $"v" + 1L)
      .localCheckpoint(false, StorageLevel.DISK_ONLY)
    assert(b.count() === 300L) // materializes b FROM a's blocks
    Ckpt.free(a) // a's blocks now dead — b must no longer need them
    assert(b.agg(org.apache.spark.sql.functions.sum($"w"))
      .first().getLong(0) === (1 to 300).map(i => i * 2L + 1L).sum)
    Ckpt.free(b)
    assert(!Ckpt.isHeld(b))
  }

  test("Ckpt.free and isHeld are safe no-ops on a non-checkpointed frame") {
    val df = (1 to 10).toDF("x")
    assert(!Ckpt.isHeld(df))
    Ckpt.free(df) // must not throw
    assert(df.count() === 10L)
  }

  test("Ckpt.local keeps the producer's clustering: a window keyed like it " +
    "plans no exchange, and free/isHeld work on it") {
    val before = persistentIds
    val df = Ckpt.local((1 to 500).map(i => (i % 7L, i.toLong)).toDF("k", "v")
      .repartition($"k"))
    val ckpt = df.queryExecution.logical match { case r: LogicalRDD => r }
    assert(ckpt.outputPartitioning.satisfies(
      ClusteredDistribution(ckpt.output.filter(_.name == "k"))), ckpt.outputPartitioning)
    assert(ckpt.outputPartitioning.numPartitions === ckpt.rdd.getNumPartitions)

    val firsts = df.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
      .where($"rn" === 1)
    assert(collect(firsts.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }
      .isEmpty, firsts.queryExecution.executedPlan.treeString)
    assert(firsts.select("k", "v").as[(Long, Long)].collect().sorted.toSeq ===
      (1L to 7L).map(v => (v % 7L, v)).sorted)

    assert(Ckpt.isHeld(df))
    Ckpt.free(df)
    assert(!Ckpt.isHeld(df))
    assert((persistentIds -- before).isEmpty)
  }
}
