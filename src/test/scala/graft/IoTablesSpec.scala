package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Source/sink layer (SURVEY §2.1 S1–S12) against real files. */
class IoTablesSpec extends SparkSpec {

  private lazy val base = Files.createTempDirectory("graft-io").toString

  private def write(path: String, content: String): String = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
    path
  }

  test("S1: raw ball CSV scan with pinned schema") {
    val p = write(s"$base/raw/01.csv",
      """match,date,time,venue,over,ball,bowler,batsman,ball_event,event_info,extract_time
        |m1,Apr 01,19:30,V,0,1,bow1,bat1,four,,t0
        |m1,Apr 01,19:30,V,0,2,bow1,bat1,no run,,t0""".stripMargin)
    val df = Tables.readRawBallCsv(spark, p)
    assert(df.count() === 2)
    assert(df.schema.fields.forall(_.dataType.typeName === "string"))
  }

  test("S5/P6: pathGlobFilter selects only matching files") {
    write(s"$base/mixed/a_keep.csv",
      "match,date,time,venue,over,ball,bowler,batsman,ball_event,event_info,extract_time\nm1,d,t,v,0,1,bo,ba,four,,t0")
    write(s"$base/mixed/b_skip.txt", "junk")
    val df = Tables.readRawBallCsvGlob(spark, s"$base/mixed", "*_keep.csv")
    assert(df.count() === 1)
  }

  test("S2: NDJSON scan + array-JSON fallback via byte sniff (no Spark job)") {
    val nd = write(s"$base/bronze/m1_brnz.json",
      """{"match":"m1","over":0,"ball":1,"runs":4,"total_runs":4,"innings":1,"seq":0}
        |{"match":"m1","over":0,"ball":2,"runs":0,"total_runs":0,"innings":1,"seq":1}""".stripMargin)
    assert(Tables.readBronzeNdjson(spark, nd).count() === 2)
    val arr = write(s"$base/bronze2/m2_brnz.json",
      """[{"match":"m2","over":0,"ball":1,"runs":6,"total_runs":6,"innings":1,"seq":0},
        | {"match":"m2","over":0,"ball":2,"runs":1,"total_runs":1,"innings":1,"seq":1}]""".stripMargin)
    val adf = Tables.readBronzeNdjson(spark, arr)
    assert(adf.count() === 2)
    assert(adf.where(col("runs") === 6).count() === 1)
  }

  test("S2: mixed NDJSON and array-JSON files in ONE directory") {
    write(s"$base/bronze3/a_brnz.json",
      """{"match":"m1","over":0,"ball":1,"runs":4,"total_runs":4,"innings":1,"seq":0}""")
    write(s"$base/bronze3/b_brnz.json",
      """[{"match":"m2","over":0,"ball":1,"runs":6,"total_runs":6,"innings":1,"seq":0},
        | {"match":"m2","over":0,"ball":2,"runs":1,"total_runs":1,"innings":1,"seq":1}]""".stripMargin)
    val df = Tables.readBronzeNdjson(spark, s"$base/bronze3")
    assert(df.count() === 3)
    assert(df.where(col("runs").isNull).count() === 0)
  }

  test("S3: multiLine meta JSON object") {
    val p = write(s"$base/meta/m1_meta.json",
      """{
        |  "match": "1st Match", "short_name": "m1",
        |  "home_team": "Alpha", "away_team": "Beta",
        |  "toss_winner": "Alpha", "toss_decision": "bat first"
        |}""".stripMargin)
    val df = Tables.readMetaJson(spark, p)
    assert(df.count() === 1)
    assert(df.select("home_team").first().getString(0) === "Alpha")
  }

  test("S4: players NDJSON skips bad lines") {
    val p = write(s"$base/players/players.json",
      """{"Name":"Virat Kohli","Team":"Alpha","Keeper":false}
        |this is not json
        |{"Name":"MS Dhoni","Team":"Beta","Keeper":true}""".stripMargin)
    val df = Tables.readPlayers(spark, p)
    assert(df.count() === 2)
  }

  test("S7/S8/S12: partitioned write, dynamic partition upsert, existence probe") {
    val (raw, meta) = Fixtures.rawSeason(spark)
    val silver = Pipeline.toSilver(spark, Pipeline.toBronze(raw), meta)
    val path = s"$base/silver"
    assert(!Tables.tableExists(spark, path))
    Tables.writeSilver(silver, path)
    assert(Tables.tableExists(spark, path))
    val before = spark.read.parquet(path)
    val matches = before.select("match").distinct().count()

    // upsert only match 1's partitions with a doctored frame: other
    // matches must remain untouched, match 1 fully replaced
    val m1 = silver.select(silver.columns.toIndexedSeq.map(col): _*)
      .where(col("match").startsWith("01_"))
      .withColumn("venue", lit("REPLACED"))
    Tables.upsertSilverPartitions(m1, path)
    val after = spark.read.parquet(path)
    assert(after.select("match").distinct().count() === matches)
    assert(after.where(col("match").startsWith("01_"))
      .select("venue").distinct().collect().map(_.getString(0)).toSeq === Seq("REPLACED"))
    assert(after.where(!col("match").startsWith("01_") && col("venue") === "REPLACED").count() === 0)
  }

  test("tiered silver read: first parquet tier wins, CSV fallback, error when empty") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val df = spark.range(3).select(col("id"), concat(lit("v"), col("id")).as("v"))
    val tierDir = s"$base/tiered"
    val primary = s"$tierDir/primary"; val secondary = s"$tierDir/secondary"
    val csvDir = s"$tierDir/csv"

    // the FIRST tier exists but holds no VISIBLE data files (crashed
    // write: part-files nested under _temporary are hidden to
    // spark.read) → it must not shadow the valid second tier
    Files.createDirectories(java.nio.file.Paths.get(s"$primary/_temporary/0"))
    Files.write(java.nio.file.Paths.get(s"$primary/_temporary/0/part-00000.parquet"),
      "junk".getBytes("UTF-8"))
    df.write.parquet(secondary)
    val fromSecondary = Tables.readSilverTiered(spark,
      Seq(primary, secondary), Some(csvDir), schema)
    assert(fromSecondary.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))

    // no parquet tier → nested CSV fallback with pinned schema
    df.write.option("header", "true").csv(s"$csvDir/nested")
    val fromCsv = Tables.readSilverTiered(spark,
      Seq(s"$tierDir/missing-a", s"$tierDir/missing-b"), Some(csvDir), schema)
    assert(fromCsv.schema === schema)
    assert(fromCsv.count() === 3)

    // nothing anywhere → explicit error, not an empty frame
    intercept[IllegalArgumentException] {
      Tables.readSilverTiered(spark, Seq(s"$tierDir/nope"), None, schema)
    }
  }

  test("S10: CSV sink round-trips") {
    val df = spark.range(5).select(col("id"), (col("id") * 2).as("dbl"))
    val path = s"$base/csv-out"
    Tables.writeCsv(df, path)
    val back = spark.read.option("header", "true").csv(path)
    assert(back.count() === 5)
  }
}
