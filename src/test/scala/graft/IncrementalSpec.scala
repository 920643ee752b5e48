package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.graftprobe.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.model.Schemas
import graft.operators.Ckpt
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

  /** The Spark jobs of one drained snapshot of a stored match (its second
    * scrape: 60 rows over 30 stored), with `fillers` more matches stored
    * beside it. Every job must carry the caller's local properties, and
    * the snapshot must land. */
  private def storedSnapshotJobs(fillers: Int): Int = {
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
    if (fillers > 0) {
      // copies of the stored match under other ids: more bronze
      // directories, none of them affected by the snapshot
      val stored = spark.read.schema(Schemas.bronzeDelivery).parquet(bronzePath)
      val ids = spark.range(fillers).select(format_string("filler_%02d", col("id")).as("match"))
      graft.io.Tables.upsertPartitions(
        stored.drop("match").crossJoin(ids).select(stored.columns.toIndexedSeq.map(col): _*),
        bronzePath, Seq("match"))
    }

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
    // the jobs of the batch's own driver threads carry the caller's
    // local properties, as the stream thread's do
    assert(untagged.get === 0, "a job lost the caller's local properties")
    val landed = spark.read.schema(Schemas.bronzeDelivery).parquet(bronzePath)
    assert(landed.where(col("match") === m).count() === 60L, "the snapshot landed")
    assert(landed.select("match").distinct().count() === fillers + 1L)
    jobs.get
  }

  // affected ids 1, catalog 1, meta 1 (the three side by side), bronze
  // checkpoint 2 (shuffle by match + count), bronze write 1, silver
  // write 1: silver's dedup runs in the checkpoint's clustering, and the
  // fuzzy names score in the silver tasks
  test("one snapshot of a stored match costs at most 7 Spark jobs") {
    assert(storedSnapshotJobs(fillers = 0) <= 7)
  }

  test("one snapshot costs at most 7 Spark jobs with 40 matches stored " +
    "(past the parallel partition-discovery threshold, 32)") {
    assert(storedSnapshotJobs(fillers = 39) <= 7)
  }

  test("the first snapshot into an empty store and a snapshot of a stored " +
    "match checkpoint through one physical plan shape") {
    val base = Files.createTempDirectory("graft-incr-shape").toString
    val rawDir = s"$base/raw"; Files.createDirectories(Paths.get(rawDir))
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val ckpt = s"$base/ckpt"
    val (_, meta) = Fixtures.rawSeason(spark)
    val m = meta.select("short_name").first().getString(0)
    val shapes = ArrayBuffer.empty[Seq[String]]
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint")
          shapes.synchronized(shapes += collect(qe.executedPlan) { case p => p.nodeName })
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Seq(30, 60).foreach { rows =>
        writeSnapshot(s"$rawDir/${rows}_$m.csv", m, rows)
        val q = Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
      ListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val Seq(first, stored) = shapes.synchronized(shapes.toSeq)
    assert(first.contains("Union"), first.mkString(" > "))
    assert(first === stored, "the plan branches on the store's state")
  }

  test("bronze rows carry the pinned read schema: Schemas.bronzeDelivery's " +
    "names and types, in order") {
    val (raw, _) = Fixtures.rawSeason(spark)
    def shape(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType)
    assert(shape(Pipeline.toBronze(raw).schema) === shape(Schemas.bronzeDelivery))
  }

  test("a stored match '1' and a landed '01' stay two matches; an id that " +
    "needs path escaping round-trips") {
    val base = Files.createTempDirectory("graft-incr-ids").toString
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val (rawRows, _) = Fixtures.seasonRows
    val (_, meta) = Fixtures.rawSeason(spark)
    val m = meta.select("short_name").first().getString(0)
    val rows = rawRows.filter(_.getString(0) == m)
    /** The rows of `m`, relabelled: one (id, rows) part per match. */
    def landing(parts: (String, Seq[Row])*): DataFrame = spark.createDataFrame(
      parts.flatMap { case (id, rs) => rs.map(r => Row.fromSeq(id +: r.toSeq.tail)) }.asJava,
      Schemas.rawBall)
    val odd = "a/b=c%d"
    Incremental.processBatch(spark, landing("1" -> rows.take(25), odd -> rows.take(30)),
      meta, bronzePath, silverPath)
    // the odd id's second landing holds only its next 30 deliveries: its
    // stored 30 survive only if the batch read them back
    Incremental.processBatch(spark, landing("01" -> rows.take(40), odd -> rows.slice(30, 60)),
      meta, bronzePath, silverPath)

    val stored = spark.read.schema(Schemas.bronzeDelivery).parquet(bronzePath)
    val counts = stored.groupBy("match").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("1" -> 25L, "01" -> 40L, odd -> 60L))
    assert(Files.isDirectory(Paths.get(s"$bronzePath/match=a%2Fb%3Dc%25d")))
    assert(bronzeSummary(stored.where(col("match") === odd)) ===
      bronzeSummary(Pipeline.toBronze(landing(odd -> rows.take(60)))))
    assert(spark.read.parquet(silverPath).where(col("match") === odd).count() === 60L)
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

  /** `plan` with each leaf bound by [[Ckpt.Prepared.bind]] (a projection
    * that aliases its child's columns to a stand-in's ids) put back as
    * that stand-in, and the bound children's outputs, by stand-in. */
  private def unbind(prepared: Ckpt.Prepared, plan: LogicalPlan)
      : (LogicalPlan, Map[Int, Seq[String]]) = {
    val children = ArrayBuffer.empty[(Int, Seq[String])]
    val standIn = prepared.standIns.zipWithIndex.map { case (l, i) =>
      l.output.map(_.exprId) -> (l, i) }.toMap
    val unbound = plan.transformUp {
      case p @ Project(list, child) if list.forall(_.isInstanceOf[Alias]) &&
          standIn.contains(list.map(_.exprId)) =>
        val (leaf, i) = standIn(list.map(_.exprId))
        children += i -> child.output.map(_.name)
        leaf
    }
    (unbound, children.toMap)
  }

  test("the first landing into an empty store and a landing of a stored " +
    "match run one prepared analyzed plan, bound to their own leaves by name") {
    val base = Files.createTempDirectory("graft-incr-prepared").toString
    val rawDir = s"$base/raw"; Files.createDirectories(Paths.get(rawDir))
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val ckpt = s"$base/ckpt"
    val (_, meta) = Fixtures.rawSeason(spark)
    val m = meta.select("short_name").first().getString(0)
    val plans = ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.synchronized(plans += qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val preparations = Seq(30, 60).map { rows =>
      writeSnapshot(s"$rawDir/${rows}_$m.csv", m, rows)
      spark.listenerManager.register(listener)
      try {
        val q = Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        ListenerDrain.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      (Incremental.bronzePlan.current.get, Incremental.silverPlan.current.get)
    }
    val Seq((bronze, silver), (bronze2, silver2)) = preparations
    assert((bronze2 eq bronze) && (silver2 eq silver), "a landing prepared its plans again")
    val Seq(first, stored) = plans.synchronized(plans.toSeq).map(unbind(bronze, _))
    assert(first._1 == bronze.plan, "the first landing ran another plan")
    assert(stored._1 == bronze.plan, "the stored match's landing ran another plan")
    // the stored read (leaf 1) lists `match` at its schema position over
    // empty directories, and last, as the partition column, over files
    assert(first._2(1).head === "match")
    assert(stored._2(1).last === "match")
    assert(spark.read.schema(Schemas.bronzeDelivery).parquet(bronzePath).count() === 60L)
  }

  test("new dimensions prepare silver again and reach it; a raw batch " +
    "carrying `seq` gets its own bronze plan") {
    val base = Files.createTempDirectory("graft-incr-reprepare").toString
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val (rawRows, _) = Fixtures.seasonRows
    val (_, meta) = Fixtures.rawSeason(spark)
    val m = meta.select("short_name").first().getString(0)
    val rows = rawRows.filter(_.getString(0) == m)
    def landing(rs: Seq[Row]): DataFrame =
      spark.createDataFrame(rs.asJava, Schemas.rawBall)
    def plans = (Incremental.bronzePlan.current.get, Incremental.silverPlan.current.get)

    Incremental.processBatch(spark, landing(rows.take(30)), meta, bronzePath, silverPath)
    val (bronze, silver) = plans
    Incremental.processBatch(spark, landing(rows.take(40)), meta, bronzePath, silverPath)
    assert(plans._1 eq bronze); assert(plans._2 eq silver)

    // one meta row edited: its venue and toss decision
    val edited = meta.withColumn("venue",
        when(col("short_name") === m, lit("Edited Park")).otherwise(col("venue")))
      .withColumn("toss_decision",
        when(col("short_name") === m, lit("edited")).otherwise(col("toss_decision")))
    Incremental.processBatch(spark, landing(rows.take(50)), edited, bronzePath, silverPath)
    assert(plans._1 eq bronze, "the bronze plan depends on no dimension")
    assert(plans._2 ne silver, "new dimensions reused the old silver plan")
    val stored = spark.read.parquet(silverPath).where(col("match") === m)
    assert(stored.count() === 50L)
    assert(stored.select("venue", "toss_decision").distinct().collect().toSeq ===
      Seq(Row("Edited Park", "edited")))

    // the decode keeps a batch's own `seq`: another bronze plan
    val withSeq = landing(rows.take(60)).withColumn("seq", monotonically_increasing_id())
    Incremental.processBatch(spark, withSeq, edited, bronzePath, silverPath)
    val seqBronze = plans._1
    assert(seqBronze ne bronze, "a raw batch with `seq` reused the plan without it")
    Incremental.processBatch(spark, landing(rows.take(70)), edited, bronzePath, silverPath)
    assert(plans._1 ne seqBronze)
    val landed = spark.read.schema(Schemas.bronzeDelivery).parquet(bronzePath)
    assert(bronzeSummary(landed) === bronzeSummary(Pipeline.toBronze(landing(rows.take(70)))))
  }

  test("a stored match's later drains in one session compile no new " +
    "generated classes") {
    val base = Files.createTempDirectory("graft-incr-codegen").toString
    val rawDir = s"$base/raw"; Files.createDirectories(Paths.get(rawDir))
    val bronzePath = s"$base/bronze"; val silverPath = s"$base/silver"
    val ckpt = s"$base/ckpt"
    val (_, meta) = Fixtures.rawSeason(spark)
    val players = writePlayers(base)
    val m = meta.select("short_name").first().getString(0)
    /** Lands a snapshot of `rows` deliveries and drains it: the classes
      * the drain compiled. */
    def drain(name: String, rows: Int): Long = {
      writeSnapshot(s"$rawDir/${name}_$m.csv", m, rows)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = Incremental.run(spark, rawDir, meta, bronzePath, silverPath, ckpt, Some(players))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val compiled = Seq("a" -> 30, "b" -> 60, "c" -> 60, "d" -> 60).map((drain _).tupled)
    assert(compiled.last === 0L, s"classes compiled per drain: ${compiled.mkString(" ")}")
  }
}
