package graft.streaming

import java.util.concurrent.{ExecutionException, FutureTask}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
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
  *    affected bronze and silver partitions, through the sinks that own
  *    the table layouts ([[graft.io.Tables.upsertPartitions]] by `match`,
  *    [[graft.io.Tables.upsertSilverPartitions]]) — untouched matches are
  *    never rewritten;
  *  - T5 late/duplicate data → same dedup; state never expires, matching
  *    the reference (no watermark exists there).
  *
  * One pass per micro-batch, in overlapping branches. A snapshot is a
  * few hundred rows, so its latency is the fixed cost of each Spark
  * action on the critical path, not data volume. The batch therefore
  * runs:
  *  - the two dimensions (the players catalog and the prepared match
  *    meta, [[graft.silver.Enrich.Dims]]), one action each, on their own
  *    driver threads, beside the bronze chain;
  *  - one action for the affected match ids (a per-partition distinct),
  *    on its own thread beside the planning of the bronze chain;
  *  - one shuffle by `match` over the batch's rows and the stored rows
  *    of exactly the affected matches' directories, in one plan shape
  *    whatever the store holds: it clusters the seq offset, the dedup
  *    and both innings windows (every window's keys include `match`),
  *    ending in one eager checkpoint that keeps the clustering
  *    ([[graft.operators.Ckpt.local]]);
  *  - the bronze write on a second thread, beside the silver chain on
  *    the batch thread: silver derives from the same checkpoint (the
  *    rows being written, no re-read of the table); its dedup runs in
  *    the checkpoint's clustering, its fuzzy names score in the silver
  *    tasks and its meta is a map lookup, so none costs a job.
  * That is 7 Spark jobs, 4 on the critical path: the ids (beside the
  * dimensions), the checkpoint (shuffle + count), the silver write.
  * The batch returns only once both writes are joined, and a failure in
  * either fails it (the stream then does not commit the offset, and a
  * replay converges). The checkpoint's blocks are freed after the join,
  * whether the writes succeeded or not. Forked threads are created per
  * batch, so they inherit the batch thread's Spark local properties (job
  * group, scheduler pool, SQL execution).
  *
  * The bronze and silver chains are analyzed once per JVM, not once per
  * batch: each is a prepared plan ([[graft.operators.Ckpt.prepare]]) over
  * stand-in leaves, and every batch, the first included, binds its own
  * leaves into it (the raw rows and the stored read for bronze, the
  * checkpoint for silver). A plan is prepared again only when its key
  * changes. The bronze key is the session, `bronzePath` and the raw
  * batch's schema. The silver key is the session, the dimensions (by
  * value, so equal dimensions reuse the broadcasts baked into the plan)
  * and the checkpoint's schema. A batch binds under the caller's
  * session, never under the batch frame's: each drain's query hands its
  * batches a session of its own, and the executors cache generated
  * classes per session, so they would compile the plan anew each drain.
  *
  * A keyed-MERGE formulation (Delta `MERGE ON` the delivery key) once
  * stood beside this one and converged to the same tables; it cost 24
  * Spark jobs per snapshot of a stored match, all serial, against 7
  * here, and was removed.
  *
  * Scale: each micro-batch lists and shuffles only the affected matches'
  * rows; the checkpoint dir gives exactly-once file processing. At 100 TB
  * the unit of work stays one match (a few thousand rows), not the table.
  */
object Incremental {

  /** A driver thread running `body`, created on (so inheriting the
    * Spark local properties of) the calling thread. */
  private final class Fork[T](name: String)(body: => T) {
    private val task = new FutureTask[T](() => body)
    private val thread = new Thread(task, s"incremental-$name")
    thread.setDaemon(true)
    thread.start()

    /** Waits for the thread; rethrows its failure. */
    def join(): T =
      try task.get() catch { case e: ExecutionException => throw e.getCause }
  }

  /** Runs `body`, then joins every fork whether or not `body` failed, so
    * no fork outlives the call (short of an interrupt: a stopped query
    * cancels the forks' jobs through the inherited job group). The first
    * failure is thrown, with any later ones attached to it as
    * suppressed. */
  private def joining[T](forks: Seq[Fork[_]])(body: => T): T = {
    var failure: Throwable = null
    def fail(t: Throwable): Unit =
      if (failure == null) failure = t else if (t ne failure) failure.addSuppressed(t)
    val result = try Some(body) catch { case t: Throwable => fail(t); None }
    forks.foreach(f => try f.join() catch { case t: Throwable => fail(t) })
    if (failure != null) throw failure
    result.get
  }

  /** The prepared bronze and silver plans, each with its key (the
    * decode branches on a raw `seq` column, so the raw schema is in
    * bronze's key). */
  private[graft] val bronzePlan, silverPlan = new Ckpt.Slot

  /** decode → union with the stored rows → seq offset → first-wins dedup
    * → innings, over the raw batch and the stored rows of its matches. */
  private def bronzeChain(leaves: Seq[DataFrame]): DataFrame = {
    val Seq(raw, stored) = leaves
    val decoded = EventDecode.decode(raw)
    val existing = stored.select(decoded.columns.toIndexedSeq.map(col): _*)
    // new rows sort after their match's stored rows: offset = the
    // match's stored max(seq) + 1 (0 for a match not stored yet)
    val isStored = col("_stored")
    val offset =
      coalesce(max(when(isStored, col("seq"))).over(Window.partitionBy("match")) + 1, lit(0L))
    val merged = existing.withColumn("_stored", lit(true))
      .unionByName(decoded.withColumn("_stored", lit(false)))
      .repartition(col("match"))
      .withColumn("seq", when(isStored, col("seq")).otherwise(col("seq") + offset))
      .drop("_stored")
    Innings.addInnings(Pipeline.dedupDecoded(merged))
  }

  /** The shared per-batch computation: decode, merge with the stored
    * bronze rows of the affected matches (innings assignment needs
    * whole-match context), first-wins dedup, innings segmentation.
    * Returns the bronze rows of the affected matches — a checkpoint,
    * lineage-truncated, safe to write over `bronzePath`, clustered by
    * `match`, and exactly the rows the write stores for them — or None
    * for an empty batch. The plan has one shape whatever the store holds,
    * prepared once ([[bronzeChain]]) and bound to each batch's raw rows
    * and stored read: the first batch of a JVM compiles the plan every
    * later one runs. */
  private def bronzeForBatch(spark: SparkSession, rawBatch: DataFrame,
                             bronzePath: String): Option[DataFrame] = {
    // the affected ids, collected beside the plan preparation (the
    // decode's `seq`, a monotonically increasing id, is fixed on the
    // unshuffled read)
    val ids = new Fork("match-ids")(rawBatch.select("match").rdd
      .mapPartitions(_.map(_.getString(0)).toSet.iterator)
      .collect().distinct.toSeq)
    val schema = rawBatch.schema
    val plan = joining(Seq(ids))(bronzePlan((spark, bronzePath, schema))(
      Ckpt.prepare(spark, schema, Schemas.bronzeDelivery)(bronzeChain)))
    val matches = ids.join()
    if (matches.isEmpty) return None

    // the stored rows of exactly the affected matches' directories (made
    // empty for a new match; none for a null id), read with the pinned
    // schema: no listing grows with the store, no '01' id becomes '1'
    val base = new Path(bronzePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = matches.filter(m => m != null && m.nonEmpty)
      .map(m => new Path(base, ExternalCatalogUtils.getPartitionPathString("match", m)))
    (base +: dirs).foreach(fs.mkdirs)
    val existing = spark.read.schema(Schemas.bronzeDelivery)
      .option("basePath", bronzePath).parquet(dirs.map(_.toString): _*)

    // Materialize (lineage-truncating) BEFORE the overwrite: the merged
    // plan lazily reads bronzePath, the path the write replaces, and a
    // task retry or a mid-commit crash would otherwise read partially
    // replaced state with no recovery copy.
    Some(Ckpt.local(plan.bind(spark, rawBatch, existing)))
  }

  /** Process one micro-batch of raw snapshot rows (exposed for tests +
    * reuse by a non-streaming backfill). T3 as dynamic partition
    * overwrite: the affected bronze and silver partitions are rewritten
    * wholesale ([[graft.io.Tables.upsertPartitions]],
    * [[graft.io.Tables.upsertSilverPartitions]]). The dimensions load on
    * their own threads beside the bronze chain, and the bronze write runs
    * on its own thread beside the silver chain; both writes read the
    * bronze checkpoint, whose blocks are freed once both are joined. */
  def processBatch(spark: SparkSession, rawBatch: DataFrame, meta: DataFrame,
                   bronzePath: String, silverPath: String,
                   players: Option[DataFrame] = None): Unit = {
    val metaFork = new Fork("meta")(Enrich.loadMeta(meta))
    val squadsFork = new Fork("catalog")(Enrich.loadSquads(players))
    joining(Seq(metaFork, squadsFork)) {
      bronzeForBatch(spark, rawBatch, bronzePath).foreach { bronze =>
        try {
          val bronzeWrite = new Fork("bronze-write")(
            gio.Tables.upsertPartitions(bronze, bronzePath, Seq("match")))
          joining(Seq(bronzeWrite)) {
            val dims = Enrich.Dims(metaFork.join(), squadsFork.join())
            val silver = silverPlan((spark, dims, bronze.schema))(Ckpt.prepare(
              spark, bronze.schema)(b => Enrich.transformWith(spark, b.head, dims)))
            gio.Tables.upsertSilverPartitions(silver.bind(spark, bronze), silverPath)
          }
        } finally Ckpt.free(bronze)
      }
    }
  }

  /** T1: watch `rawDir` for new CSV snapshots and upsert bronze+silver
    * per micro-batch. `AvailableNow` drains everything unprocessed and
    * terminates — call again to pick up later arrivals (the reference's
    * polling loop, ex_match_raw.py:270-271). */
  def run(spark: SparkSession, rawDir: String, meta: DataFrame,
          bronzePath: String, silverPath: String, checkpoint: String,
          players: Option[DataFrame] = None): StreamingQuery = {
    val stream = spark.readStream
      .option("header", "true")
      .schema(Schemas.rawBall)
      .csv(rawDir)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, meta, bronzePath, silverPath, players)
      }
      .start()
  }
}
