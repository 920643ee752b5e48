package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-shard assignment: give every document a deterministic global
  * training order — a reproducible pseudo-shuffle by the portable hash,
  * so the order is layout- and engine-independent — and cut that order
  * into fixed-size shards. Each document's shard is *named*, so a
  * loader manifest, a resume cursor, or a per-shard audit can be
  * computed without writing files.
  *
  * Scale shape (the [[Sampling.selectToTokenBudget]] recipe): a single
  * global `row_number` window would sort the corpus in ONE task, so the
  * rank is computed per range-shard `pb·nShards div granularity` —
  * contiguous RANGES of the portable-bucket value, so concatenating
  * shards in shard order reproduces the global (pb, doc_id) order — and
  * made global with a broadcast prefix-sum offset join over ≤ `nShards`
  * rows. The shard key must be a function of pb alone (not of doc_id):
  * crossing pb with a doc_id range would scatter each range across
  * ~granularity pb values and blow the offset table up to corpus size.
  *
  * CONTRACT: parallelism caps at `nShards ≤ granularity`, and each
  * shard sorts ~corpus/nShards rows in one task — at real scale raise
  * `granularity` (and `nShards` with it) so a shard's slice fits one
  * task comfortably (e.g. granularity 10⁷, nShards 10⁵ at 10¹¹ docs);
  * the offset table stays nShards-sized, never corpus-sized.
  */
object Sharding {

  /** (doc_id, train_rank, shard_id): train_rank is the 1-based position
    * in the deterministic pseudo-shuffled order (portable hash of
    * doc_id, ties by doc_id), shard_id = (train_rank − 1) div
    * recordsPerShard. Equal to the single-window formulation row for
    * row (pinned in CurationSpec).
    */
  def assignShards(docs: DataFrame, recordsPerShard: Long, seed: Int = 42,
                   nShards: Int = 32, granularity: Int = 10000): DataFrame = {
    require(recordsPerShard >= 1, "recordsPerShard must be >= 1")
    require(nShards >= 1 && nShards <= granularity,
      s"need 1 <= nShards <= granularity, got nShards=$nShards granularity=$granularity")
    val local = docs.select(col("doc_id"))
      .withColumn("pb", Sampling.portableBucket(col("doc_id"), seed, granularity))
      .withColumn("rs", expr(s"(pb * $nShards) div $granularity"))
    // (rs, pb, doc_id) order ≡ (pb, doc_id) order: rs is a monotone
    // step function of pb, so shards are contiguous pb ranges.
    val w = Window.partitionBy("rs").orderBy("pb", "doc_id")
    val assigned = local
      .withColumn("local_rank", row_number().over(w).cast("long"))
    // Offset table: one row per occupied range-shard — ≤ nShards rows
    // always (the unpartitioned prefix window runs over THAT table only).
    val wo = Window.orderBy("rs")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("rs").agg(count(lit(1)).as("n"))
      .withColumn("rank_offset", coalesce(sum("n").over(wo), lit(0L)))
      .select(col("rs"), col("rank_offset"))
    assigned.join(broadcast(offsets), Seq("rs"))
      .withColumn("train_rank", col("rank_offset") + col("local_rank"))
      .withColumn("shard_id", expr(s"(train_rank - 1) div $recordsPerShard"))
      .select(col("doc_id"), col("train_rank"), col("shard_id"))
  }
}
