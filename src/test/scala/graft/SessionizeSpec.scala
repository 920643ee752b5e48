package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.streaming.Sessionize

/** Streaming sessionization (flatMapGroupsWithState) must converge to
  * the batch window-sessionization answer regardless of how the stream
  * is chopped into micro-batches/drains. */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private val gapUs = 1800000000L

  /** Batch truth: q_w1_sessionize shape over the same events. */
  private def batchSessions(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val lagUs = lag(col("us"), 1).over(w)
    val boundary = when(lagUs.isNull || col("us") - lagUs > gapUs, 1L).otherwise(0L)
    df.withColumn("session_id", sum(boundary).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("us").as("start_us"),
        max("us").as("last_us"))
  }

  private def key(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("user_id", "session_id", "n_events", "start_us", "last_us")
      .collect().map(_.mkString("|")).toSet

  test("two streamed drains converge to the batch sessionization") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"))
    val n = events.count()

    val base = Files.createTempDirectory("graft-sess").toString
    val inDir = s"$base/in"; val outPath = s"$base/sessions"
    val ckpt = s"$base/ckpt"

    // chunk 1: first 60% of events by event_id (arrival order != time
    // order across users — state must absorb that)
    val cut = events.orderBy("event_id").limit((n * 0.6).toInt).cache()
    cut.coalesce(1).write.parquet(inDir)

    Sessionize.run(spark, inDir, outPath, ckpt, gapUs).awaitTermination()
    assert(Tables0.exists(spark, outPath))

    // chunk 2: append the remaining events as a new file in the dir
    val rest = events.join(cut.select("event_id"), Seq("event_id"), "left_anti")
    rest.coalesce(1).write.mode("append").parquet(inDir)
    Sessionize.run(spark, inDir, outPath, ckpt, gapUs).awaitTermination()

    val streamed = spark.read.parquet(outPath)
    val truth = batchSessions(
      events.select(col("user_id"),
        graft.queries.Tables.usFromTs(events).as("us"), col("event_id")))
    assert(key(streamed) === key(truth))
  }

  test("a crashed drain's leftovers in the sessions table are never read") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"))
    val base = Files.createTempDirectory("graft-sess-crash").toString
    val inDir = s"$base/in"; val outPath = s"$base/sessions"
    val ckpt = s"$base/ckpt"
    val cut = events.orderBy("event_id").limit((events.count() / 2).toInt)
      .cache()
    cut.coalesce(1).write.parquet(inDir)
    // a first drain that died mid-write leaves only its stage: no table
    val junk = Seq(Sessionize.SessionSnapshot(-1L, 1L, 7L, 0L, 1L)).toDF()
    junk.write.parquet(s"$outPath/.stage-first")
    Sessionize.run(spark, inDir, outPath, ckpt, gapUs).awaitTermination()

    // what a drain that died before its commit leaves in the table: data
    // files moved in but never committed, and a stage it never emptied
    junk.write.mode("append").parquet(outPath)
    junk.write.parquet(s"$outPath/.stage-crashed")

    events.join(cut.select("event_id"), Seq("event_id"), "left_anti")
      .coalesce(1).write.mode("append").parquet(inDir)
    Sessionize.run(spark, inDir, outPath, ckpt, gapUs).awaitTermination()

    val truth = key(batchSessions(
      events.select(col("user_id"),
        graft.queries.Tables.usFromTs(events).as("us"), col("event_id"))))
    assert(key(graft.io.Manifest.read(spark, outPath)) === truth)
    // the drain's vacuum leaves one snapshot for plain readers too
    assert(key(spark.read.parquet(outPath)) === truth)
    assert(!new java.io.File(s"$outPath/.stage-crashed").exists())
  }

  test("session fold logic handles gaps and batch-order arrival") {
    val evs = Seq(
      Sessionize.Event(1L, 1000L, 1), Sessionize.Event(1L, 2000L, 2),
      Sessionize.Event(1L, 2000L + gapUs + 1, 3),
      Sessionize.Event(2L, 500L, 4)).toDS()
    val out = Sessionize.sessions(evs, gapUs).collect()
    val finalByKey = out.groupBy(s => (s.user_id, s.session_id))
      .map { case (k, snaps) => k -> snaps.maxBy(_.n_events) }
    assert(finalByKey((1L, 1L)).n_events === 2)
    assert(finalByKey((1L, 2L)).n_events === 1)
    assert(finalByKey((2L, 1L)).n_events === 1)
  }
}

/** Tiny alias to avoid importing graft.io.Tables over the queries one. */
private object Tables0 {
  def exists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    graft.io.Tables.tableExists(spark, path)
}
