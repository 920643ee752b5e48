package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
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

  private def bronzeSummary(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("match", "innings", "over", "ball", "rebowl", "runs",
        "total_runs", "wicket", "wicket_method")
      .collect().map(_.mkString("|")).sorted.toSeq

  /** The files stored for match `m` under each table root, by their
    * path relative to it: `match=m/…` (bronze), `match=m/innings=…/…`
    * (silver). */
  private def storedFiles(m: String, tables: String*): Set[String] =
    tables.flatMap { t =>
      val dir = Paths.get(s"$t/match=$m")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => Paths.get(t).relativize(f).toString).toList
      finally walk.close()
    }.toSet

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
    // the first-half matches drain 2 does not re-deliver
    val untouched = firstHalf.tail
    assert(untouched.nonEmpty)
    val untouchedFiles = untouched.map(m => m -> storedFiles(m, bronzePath, silverPath)).toMap
    untouchedFiles.foreach { case (m, files) =>
      assert(files.exists(_.startsWith(s"match=$m/part-")), s"$m: no bronze files")
      assert(files.exists(_.startsWith(s"match=$m/innings=")), s"$m: no silver files")
    }

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
    // stored bronze equals the batch bronze over every landed file,
    // the re-delivered duplicate included
    assert(bronzeSummary(spark.read.parquet(bronzePath)) ===
      bronzeSummary(Pipeline.toBronze(graft.io.Tables.readRawBallCsv(spark, rawDir))))
    // drain 2 rewrote neither table's partitions of the matches it did
    // not deliver: the same files, by name
    untouched.foreach(m =>
      assert(storedFiles(m, bronzePath, silverPath) === untouchedFiles(m), s"$m was rewritten"))

    // drain 3: nothing new → silver unchanged (idempotence)
    Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt)
      .awaitTermination()
    assert(silverSummary(spark.read.parquet(silverPath)) === silverSummary(batch))
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
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val held = spark.sparkContext.getPersistentRDDs.keySet
    val firstId = spark.sparkContext.emptyRDD[Int].id
    spark.sparkContext.addSparkListener(listener)
    try {
      Incremental.processBatch(spark, batch, meta, bronzePath, silverPath) // new store
      Incremental.processBatch(spark, batch, meta, bronzePath, silverPath) // existing store
      ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.sparkContext.getPersistentRDDs.keySet === held,
      "a checkpoint outlived its micro-batch")
    // one checkpoint per batch: its bronze rows
    assert(freed.synchronized(freed.filter(_ > firstId).toSet.size) === 2)
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
