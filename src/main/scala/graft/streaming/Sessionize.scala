package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization with custom state (the
  * `flatMapGroupsWithState` family): the streaming twin of the batch
  * window sessionization (queries `q_w1_sessionize` / bronze Innings).
  *
  * A session = consecutive events of one user with gaps ≤ `gapUs`
  * microseconds. Each micro-batch emits an updated snapshot of every
  * session it touched (Update semantics); the keyed state carries the
  * open tail of each user's last session across batches, so replaying a
  * per-user time-ordered stream in any number of micro-batches converges
  * to the batch answer exactly (late-arrival semantics on [[updateUser]]).
  *
  * Scale shape: state is one small record per user (not per event);
  * events shuffle once on user_id; per-batch work is O(batch) after the
  * in-group sort.
  */
object Sessionize {

  case class Event(user_id: Long, us: Long, event_id: Long)

  case class SessionSnapshot(
      user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, last_us: Long)

  /** Open-tail state per user: the running session and how many
    * sessions this user has seen so far. */
  case class UserTail(sessionId: Long, nEvents: Long, startUs: Long, lastUs: Long)

  /** Late-data semantics (watermark-style): batches are folded in
    * event-time order within the batch; an event arriving AFTER a later
    * event has already extended the open session merges into that
    * session if it falls within `gap` of the session's span (start/last
    * adjust to cover it), and is DROPPED if it predates the open
    * session's reach entirely — the closed history cannot be revised
    * without unbounded state. Convergence with the batch answer is
    * exact when micro-batches arrive per-user time-ordered (the file-
    * source case tested), and degrades only by dropped too-late events
    * otherwise.
    */
  def updateUser(gapUs: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[UserTail]): Iterator[SessionSnapshot] = {
    val sorted = events.toSeq.sortBy(e => (e.us, e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    var tail = state.getOption.getOrElse(UserTail(0L, 0L, 0L, Long.MinValue))
    val out = Seq.newBuilder[SessionSnapshot]
    sorted.foreach { e =>
      if (tail.nEvents == 0L || e.us - tail.lastUs > gapUs) {
        if (tail.nEvents > 0L)
          out += SessionSnapshot(userId, tail.sessionId, tail.nEvents,
            tail.startUs, tail.lastUs)
        tail = UserTail(tail.sessionId + 1, 1L, e.us, e.us)
      } else if (e.us >= tail.startUs - gapUs) {
        // in-order, or late-but-within-reach: extend span monotonically
        tail = tail.copy(nEvents = tail.nEvents + 1,
          startUs = math.min(tail.startUs, e.us),
          lastUs = math.max(tail.lastUs, e.us))
      }
      // else: too late for the open session — dropped (watermark)
    }
    out += SessionSnapshot(userId, tail.sessionId, tail.nEvents,
      tail.startUs, tail.lastUs)
    state.update(tail)
    out.result().iterator
  }

  /** events: streaming Dataset[Event] (strictly, any Dataset — the same
    * code path also runs in batch mode for testing the fold logic).
    * Emits session snapshots; the LAST snapshot per (user_id,
    * session_id) is the session's final shape.
    */
  def sessions(events: Dataset[Event], gapUs: Long): Dataset[SessionSnapshot] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        updateUser(gapUs))
  }

  /** File-stream entry: watch `eventsDir` for parquet event files and
    * maintain a sessions table at `outPath` via foreachBatch upsert
    * (latest snapshot per (user_id, session_id) wins).
    *
    * Each micro-batch merges into the table's committed snapshot
    * ([[graft.io.Manifest.read]]) and publishes the result with
    * [[graft.io.Manifest.publishOverwrite]]: one manifest commit, so a
    * crash at any step leaves the last committed table whole, and the
    * replayed batch merges into it again. Files a crashed batch left
    * behind are never read. [[graft.io.Manifest.vacuum]] then deletes
    * the superseded snapshot and any such leftovers, so the directory
    * holds one snapshot and a plain parquet read of `outPath` sees
    * exactly the table. Single writer: one query per `outPath`.
    */
  def run(spark: SparkSession, eventsDir: String, outPath: String,
          checkpoint: String, gapUs: Long = 1800000000L) = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // A file stream needs a declared schema; sniff the physical ts type
    // from whatever files are already present (nanosecond BIGINT vs
    // timestamp[us] — both driver snapshot forms occur, see
    // queries.Tables.usFromTs). An empty dir defaults to the current
    // timestamp[us] form.
    // Only the cannot-infer case (empty/absent dir) may default; any
    // other read failure (permissions, corrupt footer) must surface now,
    // not as a confusing mid-stream schema mismatch later.
    val tsType =
      try spark.read.parquet(eventsDir).schema("ts").dataType.sql
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"sessionize: cannot sniff ts type from $eventsDir " +
              s"(${e.getMessage.takeWhile(_ != '\n')}); defaulting TIMESTAMP_NTZ")
          "TIMESTAMP_NTZ"
      }
    val raw = spark.readStream
      .schema(s"event_id BIGINT, ts $tsType, user_id BIGINT")
      .parquet(eventsDir)
    val stream = raw
      .select(col("user_id"), graft.queries.Tables.usFromTs(raw).as("us"),
        col("event_id"))
      .as[Event]
    sessions(stream, gapUs).writeStream
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[SessionSnapshot], _: Long) =>
        val spark2 = batch.sparkSession
        // data files, not the bare directory: a first drain that died
        // mid-publish leaves a directory holding only its stage
        val updated =
          if (graft.io.Tables.hasDataFiles(spark2, outPath))
            graft.io.Manifest.read(spark2, outPath)
              .join(batch.toDF(), Seq("user_id", "session_id"), "left_anti")
              .unionByName(batch.toDF())
          else batch.toDF()
        // `updated` reads the committed snapshot lazily; the publish
        // writes the new one beside it and swaps by one manifest commit,
        // and only then does vacuum drop the superseded files
        graft.io.Manifest.publishOverwrite(updated, outPath)
        graft.io.Manifest.vacuum(spark2, outPath)
        ()
      }
      .start()
  }
}
