package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.graftprobe.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.streaming.Incremental

/** Streaming/incremental contract (SURVEY §2.10): draining the raw
  * directory in two AvailableNow passes produces the same silver table as
  * one batch run, and re-delivered duplicate snapshots are idempotent.
  */
class IncrementalSpec extends SparkSpec {

  private def writeMatchCsvs(dir: String, matchIds: Seq[String]): Unit =
    matchIds.foreach(m => writeSnapshot(s"$dir/$m.csv", m, Int.MaxValue))

  /** A cumulative scrape of match `m`: its first `rows` deliveries. */
  private def writeSnapshot(path: String, m: String, rows: Int): Unit = {
    val (rawRows, _) = Fixtures.seasonRows
    val header = "match,date,time,venue,over,ball,bowler,batsman,ball_event,event_info,extract_time"
    val lines = rawRows.filter(_.getString(0) == m).take(rows).map { r =>
      (0 until 11).map(i => Option(r.getString(i)).getOrElse("")).mkString(",")
    }
    Files.write(Paths.get(path), (header +: lines).mkString("\n").getBytes("UTF-8"))
  }

  /** A players catalog NDJSON (read back through Tables.readPlayers)
    * whose names differ from the scraped ones by a trailing "x", so the
    * fuzzy normalization rewrites every name. */
  private def writePlayers(base: String): DataFrame = {
    val (rawRows, _) = Fixtures.seasonRows
    val names = rawRows.flatMap(r => Seq(r.getString(6), r.getString(7))).distinct.sorted
    val team = Map("alp" -> "Alpha", "bet" -> "Beta", "gam" -> "Gamma", "del" -> "Delta")
    val dir = Files.createDirectories(Paths.get(s"$base/players"))
    Files.write(dir.resolve("players.json"), names.map(n =>
      s"""{"Name":"${n}x","Team":"${team(n.take(3))}"}""").mkString("\n").getBytes("UTF-8"))
    graft.io.Tables.readPlayers(spark, dir.toString)
  }

  private def silverSummary(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("match", "innings", "over", "ball", "rebowl", "runs",
        "total_runs", "score", "fallen_wickets", "batting_team",
        "bowling_team", "wicket_method")
      .collect().map(_.mkString("|")).sorted.toSeq

  test("two incremental drains == one batch run; duplicate redelivery is a no-op") {
    val base = Files.createTempDirectory("graft-incr").toString
    val rawDir = s"$base/raw"; Files.createDirectories(Paths.get(rawDir))
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val ckpt = s"$base/ckpt"

    val (_, meta) = Fixtures.rawSeason(spark)
    val allMatches = meta.select("short_name").collect().map(_.getString(0)).toSeq
    val (firstHalf, secondHalf) = allMatches.splitAt(allMatches.size / 2)

    // drain 1: first half of the season
    writeMatchCsvs(rawDir, firstHalf)
    Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt)
      .awaitTermination()
    val afterFirst = spark.read.parquet(silverPath)
    assert(afterFirst.select("match").distinct().count() === firstHalf.size.toLong)

    // drain 2: rest of the season + a re-delivered duplicate of match 1
    writeMatchCsvs(rawDir + "/", secondHalf)
    val dup = Paths.get(s"$rawDir/${firstHalf.head}.csv")
    Files.copy(dup, Paths.get(s"$rawDir/${firstHalf.head}_redelivery.csv"))
    Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt)
      .awaitTermination()

    val incremental = spark.read.parquet(silverPath)
    val (rawAll, _) = Fixtures.rawSeason(spark)
    val batch = Pipeline.toSilver(spark, Pipeline.toBronze(rawAll), meta)

    assert(silverSummary(incremental) === silverSummary(batch))

    // drain 3: nothing new → silver unchanged (idempotence)
    Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt)
      .awaitTermination()
    assert(silverSummary(spark.read.parquet(silverPath)) === silverSummary(batch))
  }

  test("keyed MERGE upsert: re-delivered MODIFIED row updates in place") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-merge").toString + "/t"

    // initial table: 2 partitions, 2 rows each, keyed by (part, id)
    val initial = Seq(
      ("p1", 1L, "a", 10), ("p1", 2L, "b", 20),
      ("p2", 3L, "c", 30), ("p2", 4L, "d", 40))
      .toDF("part", "id", "name", "value")
    graft.io.Tables.mergeUpsertKeyed(spark, initial, path,
      keys = Seq("part", "id"), partitionCols = Seq("part"))

    val untouchedFiles = Files.list(Paths.get(s"$path/part=p2")).toArray.toSet

    // merge batch: id=1 re-delivered MODIFIED + id=9 brand new, both p1
    val batch = Seq(("p1", 1L, "a2", 11), ("p1", 9L, "z", 90))
      .toDF("part", "id", "name", "value")
    graft.io.Tables.mergeUpsertKeyed(spark, batch, path,
      keys = Seq("part", "id"), partitionCols = Seq("part"))

    val after = spark.read.parquet(path)
      .select("part", "id", "name", "value").as[(String, Long, String, Int)]
      .collect().sortBy(_._2).toSeq
    assert(after === Seq(
      ("p1", 1L, "a2", 11), // updated in place, not duplicated
      ("p1", 2L, "b", 20),
      ("p2", 3L, "c", 30), ("p2", 4L, "d", 40),
      ("p1", 9L, "z", 90)).sortBy(_._2))

    // the untouched partition's files were not rewritten
    assert(Files.list(Paths.get(s"$path/part=p2")).toArray.toSet === untouchedFiles)

    // idempotence: re-merging the identical batch is a no-op
    graft.io.Tables.mergeUpsertKeyed(spark, batch, path,
      keys = Seq("part", "id"), partitionCols = Seq("part"))
    assert(spark.read.parquet(path).count() === 5)

    // an EMPTY batch is a no-op, not a crash
    graft.io.Tables.mergeUpsertKeyed(spark, batch.limit(0), path,
      keys = Seq("part", "id"), partitionCols = Seq("part"))
    assert(spark.read.parquet(path).count() === 5)

    // a key shape that could silently duplicate moved rows is rejected
    intercept[IllegalArgumentException] {
      graft.io.Tables.mergeUpsertKeyed(spark, batch, path,
        keys = Seq("id"), partitionCols = Seq("part"))
    }

    // duplicate SOURCE keys fail fast (Delta MERGE multi-match
    // semantics) — the union would otherwise store BOTH rows
    val dupBatch = Seq(("p1", 1L, "first", 1), ("p1", 1L, "second", 2))
      .toDF("part", "id", "name", "value")
    intercept[IllegalArgumentException] {
      graft.io.Tables.mergeUpsertKeyed(spark, dupBatch, path,
        keys = Seq("part", "id"), partitionCols = Seq("part"))
    }
    // and the failed merge left the table untouched
    assert(spark.read.parquet(path).count() === 5)
  }

  test("keyed MERGE upsert: null key/partition values update, not duplicate") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-merge-null").toString + "/t"
    val initial = Seq((Option("p1"), 1L, 10), (Option.empty[String], 2L, 20))
      .toDF("part", "id", "value")
    graft.io.Tables.mergeUpsertKeyed(spark, initial, path,
      keys = Seq("part", "id"), partitionCols = Seq("part"))
    // re-deliver the null-partition row modified
    val batch = Seq((Option.empty[String], 2L, 99)).toDF("part", "id", "value")
    graft.io.Tables.mergeUpsertKeyed(spark, batch, path,
      keys = Seq("part", "id"), partitionCols = Seq("part"))
    val after = spark.read.parquet(path).select("id", "value")
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(after === Seq((1L, 10), (2L, 99)),
      s"null-keyed row must update in place, got $after")
  }

  test("merge-mode incremental drain converges to the overwrite mode") {
    // the alternative T2/T3 formulation — keyed MERGE upsert instead of
    // dynamic partition overwrite — must produce the SAME stored bronze
    // and silver tables over the same batch sequence, including a
    // re-delivered duplicate
    val base = Files.createTempDirectory("graft-incr-merge").toString
    val rawDir = s"$base/raw"; Files.createDirectories(Paths.get(rawDir))
    val (_, meta) = Fixtures.rawSeason(spark)
    val allMatches = meta.select("short_name").collect().map(_.getString(0)).toSeq
    val (firstHalf, secondHalf) = allMatches.splitAt(allMatches.size / 2)

    def drainAll(mergeMode: Boolean, tag: String): (String, String) = {
      val bronzePath = s"$base/bronze_$tag"; val silverPath = s"$base/silver_$tag"
      val ckpt = s"$base/ckpt_$tag"
      writeMatchCsvs(rawDir, firstHalf)
      Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt,
        mergeMode = mergeMode).awaitTermination()
      writeMatchCsvs(rawDir, secondHalf)
      Files.copy(Paths.get(s"$rawDir/${firstHalf.head}.csv"),
        Paths.get(s"$rawDir/${firstHalf.head}_redelivery.csv"))
      Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt,
        mergeMode = mergeMode).awaitTermination()
      Files.delete(Paths.get(s"$rawDir/${firstHalf.head}_redelivery.csv"))
      (bronzePath, silverPath)
    }

    val (bronzeA, silverA) = drainAll(mergeMode = false, "overwrite")
    val (bronzeB, silverB) = drainAll(mergeMode = true, "merge")

    def bronzeSummary(path: String): Seq[String] =
      spark.read.parquet(path)
        .select("match", "innings", "over", "ball", "rebowl", "runs",
          "total_runs", "wicket", "wicket_method")
        .collect().map(_.mkString("|")).sorted.toSeq
    assert(bronzeSummary(bronzeB) === bronzeSummary(bronzeA))
    assert(silverSummary(spark.read.parquet(silverB)) ===
      silverSummary(spark.read.parquet(silverA)))

    // and the merge mode agrees with the one-shot batch pipeline
    val (rawAll, _) = Fixtures.rawSeason(spark)
    assert(silverSummary(spark.read.parquet(silverB)) ===
      silverSummary(Pipeline.toSilver(spark, Pipeline.toBronze(rawAll), meta)))
  }

  test("bronze dedup is deterministic under input repartitioning") {
    val (raw, _) = Fixtures.rawSeason(spark)
    // duplicate every row (re-scrape overlap), shuffle partitioning
    val doubled = raw.unionByName(raw)
    def summarize(df: org.apache.spark.sql.DataFrame): Seq[String] =
      Pipeline.toBronze(df)
        .select("match", "innings", "over", "ball", "score", "fallen_wickets")
        .collect().map(_.mkString("|")).sorted.toSeq
    val a = summarize(doubled.repartition(8))
    val b = summarize(doubled.repartition(3))
    val c = summarize(raw)
    assert(a === b)
    assert(a === c)
  }

  test("a re-scrape of two stored matches in one batch equals the batch silver") {
    val base = Files.createTempDirectory("graft-incr-two").toString
    val rawDir = s"$base/raw"; Files.createDirectories(Paths.get(rawDir))
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val ckpt = s"$base/ckpt"
    val (_, meta) = Fixtures.rawSeason(spark)
    val players = writePlayers(base)
    val Seq(m1, m2) = meta.select("short_name").collect().map(_.getString(0)).toSeq.take(2)

    // drain 1: partial scrapes of both matches (different lengths, so
    // their stored seq maxima differ)
    writeSnapshot(s"$rawDir/a_$m1.csv", m1, 25)
    writeSnapshot(s"$rawDir/a_$m2.csv", m2, 40)
    Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt, Some(players))
      .awaitTermination()
    // drain 2: one micro-batch re-scraping BOTH stored matches in full
    writeSnapshot(s"$rawDir/b_$m1.csv", m1, Int.MaxValue)
    writeSnapshot(s"$rawDir/b_$m2.csv", m2, Int.MaxValue)
    Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt, Some(players))
      .awaitTermination()

    val batch = Pipeline.toSilver(spark,
      Pipeline.toBronze(graft.io.Tables.readRawBallCsv(spark, rawDir)), meta, Some(players))
    val stored = spark.read.schema(batch.schema).parquet(silverPath)
    val cols = batch.columns.filter(_ != "seq").toSeq
    val b = batch.select(cols.map(col): _*)
    val st = stored.select(cols.map(col): _*)
    assert(b.exceptAll(st).isEmpty && st.exceptAll(b).isEmpty,
      "stored silver must equal the batch silver on every column but seq")
    assert(stored.where(col("batsman").endsWith("x")).count() === stored.count(),
      "every name normalized to the catalog")

    // within each match, rows come in the same seq order
    def ordered(df: DataFrame, m: String): Seq[String] =
      df.where(col("match") === m).orderBy("seq")
        .select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq
    Seq(m1, m2).foreach(m => assert(ordered(stored, m) === ordered(batch, m), m))
  }

  test("a micro-batch frees its checkpoints once its writes commit") {
    val base = Files.createTempDirectory("graft-incr-free").toString
    val rawDir = s"$base/raw"; Files.createDirectories(Paths.get(rawDir))
    val (_, meta) = Fixtures.rawSeason(spark)
    val m = meta.select("short_name").first().getString(0)
    writeMatchCsvs(rawDir, Seq(m))
    val batch = graft.io.Tables.readRawBallCsv(spark, rawDir)
    val freed = ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        freed.synchronized(freed += e.rddId)
    }
    // checkpoints per (new store, existing store) batch: overwrite mode
    // holds bronze; merge mode holds bronze and silver, and each keyed
    // merge into an existing table holds its merged rows
    Seq(false -> 2, true -> 6).foreach { case (mergeMode, checkpoints) =>
      val bronzePath = s"$base/bronze_$mergeMode"; val silverPath = s"$base/silver_$mergeMode"
      val upsert = if (mergeMode) Incremental.processBatchMerge _ else Incremental.processBatch _
      val held = spark.sparkContext.getPersistentRDDs.keySet
      val firstId = spark.sparkContext.emptyRDD[Int].id
      freed.synchronized(freed.clear())
      spark.sparkContext.addSparkListener(listener)
      try {
        upsert(spark, batch, meta, bronzePath, silverPath, None) // new store
        upsert(spark, batch, meta, bronzePath, silverPath, None) // existing store
        ListenerDrain.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(spark.sparkContext.getPersistentRDDs.keySet === held,
        s"mergeMode=$mergeMode: a checkpoint outlived its micro-batch")
      assert(freed.synchronized(freed.filter(_ > firstId).toSet.size) === checkpoints)
    }
  }

  test("one snapshot of a stored match costs at most 9 Spark jobs") {
    val base = Files.createTempDirectory("graft-incr-jobs").toString
    val rawDir = s"$base/raw"; Files.createDirectories(Paths.get(rawDir))
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val ckpt = s"$base/ckpt"
    val (_, meta) = Fixtures.rawSeason(spark)
    val players = writePlayers(base)
    val m = meta.select("short_name").first().getString(0)
    def drain(): Unit = {
      val q = Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt, Some(players))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    writeSnapshot(s"$rawDir/1_$m.csv", m, 30)
    drain()

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val untagged = new java.util.concurrent.atomic.AtomicInteger
    val tag = "graft.spec.caller"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(e.properties).forall(_.getProperty(tag) != "jobs")) untagged.incrementAndGet()
      }
    }
    writeSnapshot(s"$rawDir/2_$m.csv", m, 60)
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, "jobs")
    try {
      drain()
      ListenerDrain.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.setLocalProperty(tag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
    // affected ids 1, bronze checkpoint 2 (shuffle by match + count),
    // catalog 1, meta 1, bronze write 1, name pairs 1, silver write 2
    // (Enrich.dedup shuffle + write)
    assert(jobs.get <= 9)
    // the jobs of the batch's own driver threads carry the caller's
    // local properties, as the stream thread's do
    assert(untagged.get === 0, "a job lost the caller's local properties")
    assert(spark.read.parquet(bronzePath).count() === 60L, "the snapshot landed")
  }

  test("a failed write fails the batch, frees its checkpoint, and a replay converges") {
    val base = Files.createTempDirectory("graft-incr-fail").toString
    val rawDir = s"$base/raw"; Files.createDirectories(Paths.get(rawDir))
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val ckpt = s"$base/ckpt"
    val (_, meta) = Fixtures.rawSeason(spark)
    val players = writePlayers(base)
    val Seq(m1, m2) = meta.select("short_name").collect().map(_.getString(0)).toSeq.take(2)
    def run() = Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt, Some(players))

    writeSnapshot(s"$rawDir/a_$m1.csv", m1, 25)
    run().awaitTermination()
    // a plain file where the silver table directory goes (the stored
    // silver moved aside): the next batch's silver write fails, its
    // bronze write (beside it) does not
    val obstacle = Paths.get(silverPath)
    Files.move(obstacle, Paths.get(s"$base/silver_aside"))
    Files.write(obstacle, "not a table".getBytes("UTF-8"))
    writeSnapshot(s"$rawDir/b_$m1.csv", m1, Int.MaxValue)
    writeSnapshot(s"$rawDir/b_$m2.csv", m2, 30)

    val freed = ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        freed.synchronized(freed += e.rddId)
    }
    val held = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.addSparkListener(listener)
    val q = run()
    try {
      intercept[StreamingQueryException](q.awaitTermination())
      ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(q.exception.isDefined, "the query surfaces the write's failure")
    assert(spark.sparkContext.getPersistentRDDs.keySet === held,
      "the failed batch's checkpoint was not freed")
    assert(freed.synchronized(freed.nonEmpty), "the failed batch checkpointed bronze")

    // remove the obstacle: the uncommitted batch replays and converges
    Files.delete(obstacle)
    val replay = run()
    replay.awaitTermination()
    replay.exception.foreach(e => throw e)

    val batch = Pipeline.toSilver(spark,
      Pipeline.toBronze(graft.io.Tables.readRawBallCsv(spark, rawDir)), meta, Some(players))
    val stored = spark.read.schema(batch.schema).parquet(silverPath)
    val cols = batch.columns.filter(_ != "seq").toSeq.map(col)
    val b = batch.select(cols: _*)
    val st = stored.select(cols: _*)
    assert(b.exceptAll(st).isEmpty && st.exceptAll(b).isEmpty,
      "stored silver must equal the batch silver on every column but seq")
    assert(stored.select("match").distinct().count() === 2L)
  }
}
