package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.graftprobe.ListenerDrain
import graft.silver.{Enrich, FuzzyNames}
import graft.silver.FuzzyNames._

/** WRatio scorer spec — realistic abbreviation pairs that rapidfuzz's
  * default `process.extractOne` scorer matches at cutoff 75 but plain
  * normalized-indel ratio does not (VERDICT r1 finding #1). */
class FuzzyNamesSpec extends SparkSpec {

  test("indel ratio basics") {
    assert(ratio("abc", "abc") === 100.0)
    assert(ratio("", "") === 100.0)
    assert(ratio("abc", "xyz") === 0.0)
    // Gama vs Gamma: indel 1, total 9
    assert(math.abs(ratio("Gama", "Gamma") - 100.0 * (1 - 1.0 / 9)) < 1e-9)
  }

  test("partial ratio finds embedded substrings") {
    assert(partialRatio("Kohli", "Virat Kohli") === 100.0)
    assert(partialRatio("Virat Kohli", "Kohli") === 100.0)
    assert(partialRatio("", "x") === 0.0)
  }

  test("token scorers ignore word order") {
    assert(tokenSortRatio("Kohli Virat", "Virat Kohli") === 100.0)
    assert(tokenSetRatio("Kohli", "Kohli Virat Kohli") === 100.0)
    // shared token "Dhoni" ⇒ partial token-set hits 100
    assert(partialTokenSetRatio("MS Dhoni", "Mahendra Singh Dhoni") === 100.0)
  }

  test("WRatio matches abbreviated names at cutoff 75 where ratio fails") {
    val pairs = Seq(
      ("V Kohli", "Virat Kohli"),
      ("MS Dhoni", "Mahendra Singh Dhoni"),
      ("R Sharma", "Rohit Sharma"),
      ("Dhoni", "MS Dhoni"))
    pairs.foreach { case (abbr, full) =>
      assert(wratio(abbr, full) >= 75.0,
        s"WRatio('$abbr','$full') = ${wratio(abbr, full)} < 75")
    }
    // plain ratio fails at least one of these — the r1 divergence
    assert(pairs.exists { case (a, f) => ratio(a, f) < 75.0 })
  }

  test("WRatio keeps unrelated names below cutoff") {
    assert(wratio("Bumrah", "Ashwin") < 75.0)
    assert(wratio("V Kohli", "S Iyer") < 75.0)
  }

  test("extractOne honors cutoff and prefers best score") {
    val squad = Seq("Virat Kohli", "Rohit Sharma", "Jasprit Bumrah")
    assert(extractOne("V Kohli", squad, 75.0) === Some("Virat Kohli"))
    assert(extractOne("R Sharma", squad, 75.0) === Some("Rohit Sharma"))
    assert(extractOne("Zzzz Qqqq", squad, 75.0) === None)
  }

  test("teamChoices scopes candidates to the squad, fuzzy team key at 70") {
    val squads = Map(
      "Mumbai Indians" -> Seq("Rohit Sharma", "Jasprit Bumrah"),
      "Chennai Super Kings" -> Seq("MS Dhoni"))
    val all = squads.values.flatten.toSeq
    // exact team key
    assert(teamChoices("Mumbai Indians", squads, all) === Seq("Rohit Sharma", "Jasprit Bumrah"))
    // misspelled team key fuzzy-matches at cutoff 70 (X2)
    assert(teamChoices("Mumbai Indian", squads, all) === Seq("Rohit Sharma", "Jasprit Bumrah"))
    // unknown team falls back to the full catalog
    assert(teamChoices("Gotham Knights", squads, all) === all)
    // null/N-A team → full catalog
    assert(teamChoices(null, squads, all) === all)
    assert(teamChoices("N/A", squads, all) === all)
  }

  test("matchPlayerName passthroughs") {
    assert(matchPlayerName(null, Seq("A")) === "N/A")
    assert(matchPlayerName("N/A", Seq("A")) === "N/A")
    assert(matchPlayerName("  X Y  ", Nil) === "X Y")
  }
  private val roles = Seq("batsman" -> "batting_team", "bowler" -> "bowling_team",
    "out_batsman" -> "batting_team")

  /** normalize must equal the row-wise reference: every name matched
    * against teamChoices(its scoping team) of the same catalog. */
  private def assertRowWise(silver: DataFrame, players: DataFrame): Unit = {
    val (byTeam, all) = squadMap(players)
    val expected = silver.collect().map { r =>
      roles.foldLeft(r.toSeq) { case (vs, (name, team)) =>
        vs.updated(r.fieldIndex(name), matchPlayerName(
          r.getAs[String](name), teamChoices(r.getAs[String](team), byTeam, all)))
      }.mkString("|")
    }.sorted.toSeq
    val got = FuzzyNames.normalize(spark, silver, players)
      .select(silver.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(got === expected)
  }

  test("normalize == row-wise matchPlayerName over teamChoices, frame-level") {
    import spark.implicits._
    val silver = Seq[(String, String, String, String, String, String)](
      // exact squad keys, abbreviated names
      ("m1", "Mumbai Indians", "Chennai Super Kings", "R Sharma", "Dhoni", "R Sharma"),
      // null names → "N/A"; padded name trimmed
      ("m1", "Mumbai Indians", "Chennai Super Kings", null, " MS Dhoni ", null),
      // misspelled team key: squad chosen at the fuzzy cutoff of 70
      ("m2", "Mumbai Indian", "Chennai Super King", "J Bumrah", "MS Dhoni", "N/A"),
      // unknown team: the full catalog
      ("m3", "Gotham Knights", "N/A", "V Kohli", "Bumrah", "Zzzz Qqqq"),
      // the same pair twice in one frame, and across roles
      ("m3", "Gotham Knights", "N/A", "V Kohli", "V Kohli", "V Kohli"))
      .toDF("match", "batting_team", "bowling_team", "batsman", "bowler", "out_batsman")
    val players = Seq(
      ("Rohit Sharma", "Mumbai Indians"), ("Jasprit Bumrah", "Mumbai Indians"),
      ("MS Dhoni", "Chennai Super Kings"), ("Virat Kohli", "Royal Challengers"),
      ("Dhoni Junior", null)).toDF("Name", "Team")
    assertRowWise(silver, players)
    // the same rows over 3 partitions, the ("Gotham Knights", "V Kohli")
    // row in every one: each task scores the pair through its own memo
    val rows = silver.collect()
    val spread = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(rows(0), rows(4), rows(1), rows(4), rows(2), rows(3), rows(4)), 3), silver.schema)
    assert(spread.rdd.glom().collect().map(_.count(_ == rows(4))).toSeq === Seq(1, 1, 1))
    assertRowWise(spread, players)
    // and the names really moved
    assert(FuzzyNames.normalize(spark, silver, players).where($"match" === "m1")
      .select("batsman").as[String].collect().toSet === Set("Rohit Sharma", "N/A"))

    // a catalog whose rows all have a null Name: no choices anywhere,
    // names are only trimmed / N-A'd
    val nullNames = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(null, "Mumbai Indians"),
      org.apache.spark.sql.Row(null, null))),
      StructType(Seq(StructField("Name", StringType), StructField("Team", StringType))))
    assertRowWise(silver, nullNames)
  }

  test("Enrich.transform with an empty players frame passes names through") {
    val (raw, meta) = Fixtures.rawSeason(spark)
    val bronze = Pipeline.toBronze(raw)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("Name", StringType), StructField("Team", StringType))))
    def rows(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
    val withEmpty = Enrich.transform(spark, bronze, meta, Some(empty))
    assert(rows(withEmpty) === rows(Enrich.transform(spark, bronze, meta, None)))
    val names = Seq("batsman", "bowler", "out_batsman").map(org.apache.spark.sql.functions.col)
    assert(withEmpty.select(names: _*).except(bronze.select(names: _*)).isEmpty,
      "every silver name is a raw bronze name")
  }

  test("Enrich.transformWith over loaded dims starts no Spark job until consumed") {
    import spark.implicits._
    val (raw, meta) = Fixtures.rawSeason(spark)
    val bronze = Pipeline.toBronze(raw)
    // the fixture's squad names, each misspelled with a trailing "x"
    val players = Seq("Alpha", "Beta", "Gamma", "Delta").flatMap(t =>
      (1 to 6).map(i => (s"${t.toLowerCase.take(3)}_p${i}x", t))).toDF("Name", "Team")
    val dims = Enrich.Dims(Enrich.loadMeta(meta), Enrich.loadSquads(Some(players)))
    assert(dims.squads.nonEmpty)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val silver = try {
      val s = Enrich.transformWith(spark, bronze, dims)
      ListenerDrain.drain(spark.sparkContext)
      s
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0, "building the silver frame ran a Spark job")
    // consumed, it is the silver of the two-step transform, names moved
    def rows(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
    assert(rows(silver) === rows(Enrich.transform(spark, bronze, meta, Some(players))))
    assert(silver.select("batsman").as[String].collect().forall(_.endsWith("x")))
  }
}
