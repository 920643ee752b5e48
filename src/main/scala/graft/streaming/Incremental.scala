package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.{Pipeline, io => gio}
import graft.bronze.{EventDecode, Innings}
import graft.model.Schemas
import graft.operators.Ckpt
import graft.silver.Enrich

/** Streaming/incremental ingestion (SURVEY §2.10, T1–T5).
  *
  * The reference is an S3-event → Lambda → Glue cascade: each new raw
  * CSV triggers bronze append+dedup+rewrite for its match, then a silver
  * partition replace (reference: pipeline_2026/ex_match_rb.py:156-236,
  * ex_match_bs.py:461-472). Spark-first formulation:
  *
  *  - T1 event trigger  → Structured Streaming file source over the raw
  *    directory (`Trigger.AvailableNow` = drain-everything-new, the
  *    batch-queue semantics of the reference's event bus);
  *  - T2 append + dedup → `foreachBatch`: merge the batch's decoded rows
  *    with the stored bronze rows of the affected matches, first-wins
  *    keyed dedup (new rows get a seq offset past their match's stored
  *    maximum, so re-delivered duplicates lose to their original);
  *  - T3 partition replace → dynamic partition overwrite of exactly the
  *    affected `match` (bronze) and `(match, innings)` (silver)
  *    partitions — untouched matches are never rewritten;
  *  - T5 late/duplicate data → same dedup; state never expires, matching
  *    the reference (no watermark exists there).
  *
  * One pass per micro-batch. A snapshot is a few hundred rows, so its
  * latency is the fixed cost of each Spark action and shuffle, not data
  * volume. The batch therefore runs:
  *  - one action for the affected match ids (a per-partition distinct);
  *  - one shuffle by `match` for all of bronze: it clusters the seq
  *    offset, the first-wins dedup and both innings windows (every
  *    window's keys include `match`), ending in one eager checkpoint;
  *  - silver derived from that checkpoint (the rows just written, no
  *    re-read of the table), whose fuzzy names cost one action
  *    ([[graft.silver.FuzzyNames.normalize]]).
  * The checkpoint's blocks are freed once both writes commit.
  *
  * Scale: each micro-batch shuffles only the affected matches' rows; the
  * checkpoint dir gives exactly-once file processing. At 100 TB the unit
  * of work stays one match (a few thousand rows), not the table.
  */
object Incremental {

  /** The shared per-batch computation: decode, merge with the stored
    * bronze rows of the affected matches (innings assignment needs
    * whole-match context), first-wins dedup, innings segmentation.
    * Returns the bronze rows of the affected matches — a checkpoint,
    * lineage-truncated, safe to write over `bronzePath`, and exactly the
    * rows the write stores for them — or None for an empty batch. */
  private def bronzeForBatch(spark: SparkSession, rawBatch: DataFrame,
                             bronzePath: String): Option[DataFrame] = {
    val matches = rawBatch.select("match").rdd
      .mapPartitions(_.map(_.getString(0)).toSet.iterator)
      .collect().distinct.toSeq
    if (matches.isEmpty) return None
    // decode on the unshuffled source read: `seq` (monotonically
    // increasing id) is fixed below the exchange
    val decoded = EventDecode.decode(rawBatch)

    // Pinned read-back schema (plan-only, no job): partition-column
    // inference would retype numeric-looking match ids (merging '01'
    // with '1'), break the unionByName below, and defeat the isin
    // partition filter — the exact failure RunPipeline's silver
    // read-back fixed.
    val bronzeSchema = Innings.addInnings(Pipeline.dedupDecoded(decoded)).schema

    val merged =
      if (gio.Tables.tableExists(spark, bronzePath)) {
        val existing = spark.read.schema(bronzeSchema).parquet(bronzePath)
          .where(col("match").isin(matches: _*))
          .select(decoded.columns.toIndexedSeq.map(col): _*)
        // new rows sort after their match's stored rows: offset = the
        // match's stored max(seq) + 1 (0 for a match not stored yet)
        val stored = col("_stored")
        val offset = coalesce(
          max(when(stored, col("seq"))).over(Window.partitionBy("match")) + 1,
          lit(0L))
        existing.withColumn("_stored", lit(true))
          .unionByName(decoded.withColumn("_stored", lit(false)))
          .repartition(col("match"))
          .withColumn("seq", when(stored, col("seq")).otherwise(col("seq") + offset))
          .drop("_stored")
      } else decoded.repartition(col("match"))

    // Materialize (lineage-truncating) BEFORE the overwrite: the merged
    // plan lazily reads bronzePath, the same path the write replaces.
    // Dynamic partition overwrite defers deletion to job commit, but a
    // recompute-during-write (task retry) or a mid-commit crash would
    // otherwise read partially-replaced state with no recovery copy.
    Some(Innings.addInnings(Pipeline.dedupDecoded(merged))
      .localCheckpoint(eager = true))
  }

  /** Process one micro-batch of raw snapshot rows (exposed for tests +
    * reuse by a non-streaming backfill). T3 as dynamic partition
    * overwrite: the affected `match` / `(match, innings)` partitions are
    * rewritten wholesale. Silver derives from the bronze checkpoint just
    * written (the parquet round trip is lossless), whose blocks are
    * freed once both writes commit. */
  def processBatch(spark: SparkSession, rawBatch: DataFrame, meta: DataFrame,
                   bronzePath: String, silverPath: String,
                   players: Option[DataFrame] = None): Unit =
    bronzeForBatch(spark, rawBatch, bronzePath).foreach { bronze =>
      bronze.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("match").parquet(bronzePath)
      Enrich.transform(spark, bronze, meta, players)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("match", "innings").parquet(silverPath)
      Ckpt.free(bronze)
    }

  /** The alternative T2/T3 formulation: keyed MERGE upsert (Delta MERGE
    * semantics via [[graft.io.Tables.mergeUpsertKeyed]]) instead of
    * partition overwrite. Bronze merges on the logical delivery identity
    * ([[Pipeline.dupKey]] — first-wins dedup makes the batch unique on
    * it); silver on the ball key `(match, innings, over, ball, rebowl)`
    * (unique after Enrich's keyed dedup). Row-level instead of
    * partition-level replacement: re-delivered identical rows rewrite in
    * place, unrelated rows in the same partition are carried over by the
    * merge, and both modes converge to the same stored tables
    * (IncrementalSpec pins this). Innings stay stable under merge
    * because batch rows always sequence AFTER stored rows, so session
    * boundaries of already-stored deliveries never move.
    */
  def processBatchMerge(spark: SparkSession, rawBatch: DataFrame,
                        meta: DataFrame, bronzePath: String,
                        silverPath: String,
                        players: Option[DataFrame] = None): Unit =
    bronzeForBatch(spark, rawBatch, bronzePath).foreach { bronze =>
      gio.Tables.mergeUpsertKeyed(spark, bronze, bronzePath,
        keys = Pipeline.dupKey, partitionCols = Seq("match"))
      // materialize ONCE: mergeUpsertKeyed evaluates its source plan
      // several times (dup-key guard, partition-tuple collect,
      // anti-join keys, final write) — an unmaterialized silver would
      // re-run the whole enrichment per pass
      val silver = Enrich.transform(spark, bronze, meta, players)
        .localCheckpoint(true)
      gio.Tables.mergeUpsertKeyed(spark, silver, silverPath,
        keys = Seq("match", "innings", "over", "ball", "rebowl"),
        partitionCols = Seq("match", "innings"))
      Ckpt.free(silver)
      Ckpt.free(bronze)
    }

  /** T1: watch `rawDir` for new CSV snapshots and upsert bronze+silver
    * per micro-batch. `AvailableNow` drains everything unprocessed and
    * terminates — call again to pick up later arrivals (the reference's
    * polling loop, ex_match_raw.py:270-271). */
  def run(spark: SparkSession, rawDir: String, meta: DataFrame,
          bronzePath: String, silverPath: String, checkpoint: String,
          players: Option[DataFrame] = None,
          mergeMode: Boolean = false): StreamingQuery = {
    val stream = spark.readStream
      .option("header", "true")
      .schema(Schemas.rawBall)
      .csv(rawDir)
    val upsert: (SparkSession, DataFrame, DataFrame, String, String,
      Option[DataFrame]) => Unit =
      if (mergeMode) processBatchMerge else processBatch
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsert(spark, batch, meta, bronzePath, silverPath, players)
      }
      .start()
  }
}
