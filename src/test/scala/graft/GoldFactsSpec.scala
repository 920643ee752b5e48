package graft

import java.nio.file.Files
import org.apache.spark.graftprobe.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** The four per-table silver formulations that `GoldTables` replaced
  * with folds over one facts frame, kept verbatim as the reference the
  * facts design must reproduce. */
object ReferenceGold {

  /** The reference's ÷0→÷1 KPI guard (ex_match_sg.py:144-146,166-170):
    * a zero denominator divides by 1 instead of NULLing out. Reproduced
    * exactly — deviating drifts every 0-ball/0-wicket KPI.
    */
  private def div0to1(x: Column, y: Column): Column =
    x / when(y === 0, 1).otherwise(y)

  /** Cricket overs notation: completed overs + balls-in-over/10
    * (ex_match_sg.py:165). */
  private def oversNotation(balls: Column): Column =
    floor(balls / 6) + (balls % 6) / 10.0

  private def validName(c: Column): Column = c.isNotNull && c =!= "N/A"

  /** gold_batsman_stats (ex_match_sg.py:121-148). */
  def batsmanStats(silver: DataFrame): DataFrame = {
    val bat = silver.where(validName(col("batsman")))

    val stats = bat.groupBy("batsman").agg(
      countDistinct("match").as("matches"),
      sum("runs").as("total_runs"),
      sum("is_legal_delivery").as("legal_balls"),
      sum("is_four").as("fours"),
      sum("is_six").as("sixes"),
      sum("is_dot_ball").as("dot_balls"))

    // highest score: per-(batsman, match) run sum, then max — two-level agg
    // with map-side partials; no join back needed beyond the small result.
    val highest = bat.groupBy("batsman", "match")
      .agg(sum("runs").as("match_runs"))
      .groupBy("batsman").agg(max("match_runs").as("highest_score"))

    // dismissals counted over the FULL frame (ex_match_sg.py:138 uses df,
    // not the batsman-filtered slice).
    val outs = silver.where(validName(col("out_batsman")))
      .groupBy(col("out_batsman").as("batsman"))
      .agg(count(lit(1)).as("times_out"))

    stats
      .join(highest, Seq("batsman"), "left")
      .join(outs, Seq("batsman"), "left")
      .withColumn("times_out", coalesce(col("times_out"), lit(0L)))
      .withColumn("strike_rate", round(div0to1(col("total_runs") * 100.0, col("legal_balls")), 2))
      .withColumn("batting_avg", round(div0to1(col("total_runs").cast("double"), col("times_out")), 2))
      .withColumn("dot_ball_pct", round(div0to1(col("dot_balls") * 100.0, col("legal_balls")), 2))
      .orderBy(desc("total_runs"))
  }

  /** gold_bowler_stats (ex_match_sg.py:150-172). */
  def bowlerStats(silver: DataFrame): DataFrame =
    silver.where(validName(col("bowler")))
      .groupBy("bowler").agg(
        countDistinct("match").as("matches"),
        sum("total_runs").as("total_runs_conceded"),
        sum("is_legal_delivery").as("legal_balls"),
        sum("wicket").as("wickets"),
        sum("is_dot_ball").as("dot_balls"),
        sum("is_four").as("fours_conceded"),
        sum("is_six").as("sixes_conceded"))
      .withColumn("overs_bowled", oversNotation(col("legal_balls")))
      .withColumn("economy_rate",
        round(div0to1(col("total_runs_conceded").cast("double"), col("legal_balls") / 6.0), 2))
      .withColumn("bowling_avg",
        round(div0to1(col("total_runs_conceded").cast("double"), col("wickets")), 2))
      .withColumn("strike_rate",
        round(div0to1(col("legal_balls").cast("double"), col("wickets")), 2))
      .withColumn("dot_ball_pct",
        round(div0to1(col("dot_balls") * 100.0, col("legal_balls")), 2))
      .orderBy(desc("wickets"), asc("economy_rate"))

  /** gold_team_stats (ex_match_sg.py:174-208).
    *
    * The reference computes the powerplay run rate as a separate
    * filter+groupBy+merge (J3); here it is a conditional aggregate in the
    * SAME groupBy — one shuffle instead of two, identical results
    * (left-join-miss ⇔ all-null conditional sum).
    */
  def teamStats(silver: DataFrame): DataFrame = {
    val pp = col("innings_phase") === "Powerplay"
    silver.where(validName(col("batting_team")))
      .groupBy(col("batting_team").as("team")).agg(
        countDistinct("match").as("matches"),
        sum("total_runs").as("total_runs"),
        sum("wicket").as("total_wickets_lost"),
        sum("is_legal_delivery").as("legal_balls"),
        sum("is_four").as("fours"),
        sum("is_six").as("sixes"),
        sum(when(pp, col("total_runs"))).as("pp_runs"),
        sum(when(pp, col("is_legal_delivery"))).as("pp_balls"))
      .withColumn("overs_batted", oversNotation(col("legal_balls")))
      .withColumn("overall_run_rate",
        round(div0to1(col("total_runs").cast("double"), col("legal_balls") / 6.0), 2))
      .withColumn("pp_run_rate",
        round(div0to1(col("pp_runs").cast("double"), col("pp_balls") / 6.0), 2))
      .drop("pp_runs", "pp_balls")
      .orderBy(desc("total_runs"))
  }

  /** gold_tournament_standings (ex_match_sg.py:210-297).
    *
    * The reference folds standings in two driver loops (per match, per
    * team). Re-expressed distributed: per-(match, team) batting/bowling
    * sums (one shuffle), a 2-team self-pairing window to decide
    * winner/loser/tie, then a team-level aggregation.
    *
    * Two documented reference quirks handled intentionally:
    *  - ties: the reference compares `winner == None`, so tied matches
    *    never actually count (ex_match_sg.py:256-258); we implement the
    *    evident intent (tie ⇒ both sides played+1, tied_nr+1, 1 point,
    *    per :247-248,262).
    *  - matches whose delivery rows show ≠2 batting teams are silently
    *    excluded from win/loss (ex_match_sg.py:238) — reproduced.
    *  - run-rate guard here is `if overs > 0 else 0.0` (:273-275), NOT
    *    the ÷1 guard the leaderboards use.
    */
  def tournamentStandings(silver: DataFrame): DataFrame = {
    val clean = silver.where(
      validName(col("batting_team")) && validName(col("bowling_team")))

    val batted = clean.groupBy(col("match"), col("batting_team").as("team"))
      .agg(sum("total_runs").as("runs_scored"),
        sum("is_legal_delivery").as("legal_balls_batted"))

    val bowled = clean.groupBy(col("match"), col("bowling_team").as("team"))
      .agg(sum("total_runs").as("runs_conceded"),
        sum("is_legal_delivery").as("legal_balls_bowled"))

    val matchStats = batted.join(bowled, Seq("match", "team"), "outer")
      .na.fill(0)

    // Win/loss/tie per match, only for matches with exactly 2 batting
    // sides: rank teams within the match by runs.
    val wMatch = Window.partitionBy("match")
    val perMatch = batted
      .withColumn("n_teams", count(lit(1)).over(wMatch))
      .where(col("n_teams") === 2)
      .withColumn("max_runs", max("runs_scored").over(wMatch))
      .withColumn("min_runs", min("runs_scored").over(wMatch))
      .withColumn("is_tie", (col("max_runs") === col("min_runs")).cast("int"))
      .withColumn("won", (col("is_tie") === 0 && col("runs_scored") === col("max_runs")).cast("int"))
      .withColumn("lost", (col("is_tie") === 0 && col("runs_scored") === col("min_runs")).cast("int"))

    val results = perMatch.groupBy("team").agg(
      sum("won").as("won"), sum("lost").as("lost"), sum("is_tie").as("tied_nr"))

    val totals = matchStats.groupBy("team").agg(
      sum("runs_scored").as("runs_for"),
      sum("legal_balls_batted").as("balls_for"),
      sum("runs_conceded").as("runs_against"),
      sum("legal_balls_bowled").as("balls_against"))

    def rr(runs: Column, balls: Column): Column =
      when(balls > 0, round(runs.cast("double") / (balls / 6.0), 2)).otherwise(0.0)

    val allTeams = clean.select(col("batting_team").as("team")).distinct()

    val standings = allTeams
      .join(results, Seq("team"), "left")
      .join(totals, Seq("team"), "left")
      .na.fill(0)
      .withColumn("played", col("won") + col("lost") + col("tied_nr"))
      .withColumn("points", col("won") * 2 + col("tied_nr"))
      .withColumn("avg_run_rate", rr(col("runs_for"), col("balls_for")))
      .withColumn("conceded_run_rate", rr(col("runs_against"), col("balls_against")))
      // NRR from the already-rounded rates (ex_match_sg.py:273-275).
      .withColumn("net_run_rate", round(col("avg_run_rate") - col("conceded_run_rate"), 3))
      .withColumn("overs_for", round(oversNotation(col("balls_for")), 1))
      .withColumn("overs_against", round(oversNotation(col("balls_against")), 1))

    // Deterministic rank: reference tie-breaks by pandas sort stability;
    // we pin the residual tie-break to team name.
    val rankW = Window.orderBy(
      desc("points"), desc("net_run_rate"), desc("avg_run_rate"), asc("team"))

    standings
      .withColumn("rank", row_number().over(rankW))
      .select("rank", "team", "played", "won", "lost", "tied_nr", "points",
        "net_run_rate", "avg_run_rate", "runs_for", "overs_for",
        "runs_against", "overs_against")
      .orderBy("rank")
  }
}

/** Gold from one per-match facts pass: `Pipeline.toGold` equals the
  * per-table silver formulations ([[ReferenceGold]]) on every reference
  * quirk, and a refresh stays within its job and plan bounds.
  */
class GoldFactsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val tables = Seq("gold_batsman_stats", "gold_bowler_stats",
    "gold_team_stats", "gold_tournament_standings")

  private def reference(silver: DataFrame): Map[String, DataFrame] = Map(
    "gold_batsman_stats" -> ReferenceGold.batsmanStats(silver),
    "gold_bowler_stats" -> ReferenceGold.bowlerStats(silver),
    "gold_team_stats" -> ReferenceGold.teamStats(silver),
    "gold_tournament_standings" -> ReferenceGold.tournamentStandings(silver))

  /** Same column names, order and types, and equal both ways as multisets. */
  private def assertGoldEqual(silver: DataFrame): Map[String, Long] = {
    val got = Pipeline.toGold(silver)
    val want = reference(silver)
    assert(got.keySet === want.keySet)
    tables.map { t =>
      val (g, w) = (got(t), want(t))
      assert(g.schema.map(f => f.name -> f.dataType) ===
        w.schema.map(f => f.name -> f.dataType), t)
      assert(g.exceptAll(w).count() === 0, s"$t: rows not in the reference")
      assert(w.exceptAll(g).count() === 0, s"$t: reference rows missing")
      t -> g.count()
    }.toMap
  }

  /** One silver delivery: the columns gold reads, the rest null. */
  private def del(m: String, batting: String, bowling: String, batsman: String,
      bowler: String, runs: Int, extra: Int = 0, legal: Int = 1,
      out: String = null, phase: String = "Powerplay"): Row = {
    val v = Map[String, Any]("match" -> m, "batting_team" -> batting,
      "bowling_team" -> bowling, "batsman" -> batsman, "bowler" -> bowler,
      "runs" -> runs, "extra_runs" -> extra, "total_runs" -> (runs + extra),
      "is_legal_delivery" -> legal, "is_four" -> (if (runs == 4) 1 else 0),
      "is_six" -> (if (runs == 6) 1 else 0),
      "is_dot_ball" -> (if (runs + extra == 0 && legal == 1) 1 else 0),
      "wicket" -> (if (out != null) 1 else 0), "out_batsman" -> out,
      "innings_phase" -> phase)
    Row.fromSeq(Schemas.silverDelivery.fieldNames.toSeq.map(v.getOrElse(_, null)))
  }

  private def silverOf(rows: Seq[Row]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 3), Schemas.silverDelivery)

  private lazy val fixtureSilver = {
    val (raw, meta) = Fixtures.rawSeason(spark)
    Pipeline.toSilver(spark, Pipeline.toBronze(raw), meta)
  }

  test("hand-made silver: ties, 1 and 3 batting sides, invalid names, 0 balls") {
    val rows = Seq(
      // "101": Alpha 10 vs Beta 11, Beta wins; invalid names in every role
      del("101", "Alpha", "Beta", "a1", "b1", 4),
      del("101", "Alpha", "Beta", "a1", "b1", 6, phase = "Middle"),
      del("101", "Alpha", "Beta", "a2", "b1", 0, out = "a2"),
      // a run-out of a non-striker who never faces a ball
      del("101", "Alpha", "Beta", "a1", "b2", 0, out = "ghost"),
      del("101", "Alpha", "Beta", "N/A", null, 0, out = "N/A"),
      del("101", "Alpha", "N/A", null, "N/A", 1),
      del("101", null, "Beta", "a3", "b2", 2),
      del("101", "N/A", "Alpha", "b3", "a9", 3),
      del("101", "Beta", "Alpha", "b3", "a9", 6),
      del("101", "Beta", "Alpha", "b3", "a9", 4, extra = 1, legal = 0),
      del("101", "Beta", "Alpha", "b4", "a9", 0, out = null),
      // "102": Alpha 7 vs Gamma 7, a tie; a1 dismissed again
      del("102", "Alpha", "Gamma", "a1", "g1", 6),
      del("102", "Alpha", "Gamma", "a1", "g1", 1, out = "a1"),
      del("102", "Gamma", "Alpha", "g2", "a9", 4),
      del("102", "Gamma", "Alpha", "g2", "a9", 3),
      // "103": one batting side; Omega only ever bowls
      del("103", "Alpha", "Omega", "a1", "o1", 4),
      del("103", "Alpha", "Omega", "a2", "o1", 0, out = "a2"),
      // "104": three batting sides (corrupt rows) — excluded from win/loss
      del("104", "Beta", "Gamma", "b3", "g1", 2),
      del("104", "Gamma", "Beta", "g2", "b1", 5, phase = "Death"),
      del("104", "Delta", "Beta", "d1", "b1", 1, phase = "Middle"),
      // "105": Epsilon faces no legal ball (the ÷0→÷1 guard) and Zeta
      // bats outside the powerplay only (null pp_run_rate)
      del("105", "Epsilon", "Zeta", "e1", "z1", 0, extra = 1, legal = 0),
      del("105", "Epsilon", "Zeta", "e1", "z1", 0, extra = 5, legal = 0),
      del("105", "Zeta", "Epsilon", "z2", "e9", 1, phase = "Middle"),
      del("105", "Zeta", "Epsilon", "z2", "e9", 0, phase = "Death"))
    val counts = assertGoldEqual(silverOf(rows))
    assert(counts.values.forall(_ > 0))
    val standings = Pipeline.toGold(silverOf(rows))("gold_tournament_standings")
    assert(standings.where(col("team") === "Omega").count() === 0)
    assert(standings.where(col("team") === "Gamma").select("tied_nr").first().getLong(0) === 1L)
  }

  test("an empty silver frame gives four empty tables") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.silverDelivery)
    assert(assertGoldEqual(empty).values.forall(_ == 0L))
  }

  test("the synthetic season's gold equals the per-table reference") {
    assert(assertGoldEqual(fixtureSilver).values.forall(_ > 0))
  }

  test("a gold refresh (toGold + 4 × writeGold) costs at most 6 Spark jobs") {
    val base = Files.createTempDirectory("graft-gold-jobs").toString
    fixtureSilver.write.parquet(s"$base/silver")
    val silver = spark.read.parquet(s"$base/silver")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val gold = try {
      val g = Pipeline.toGold(silver)
      g.foreach { case (name, df) => graft.io.Tables.writeGold(df, s"$base/$name") }
      ListenerDrain.drain(spark.sparkContext)
      g
    } finally spark.sparkContext.removeSparkListener(listener)
    // the facts exchange (run by toGold) + one job per table write
    assert(jobs.get <= 6)
    // no table re-shuffles: every fold runs above the one-partition
    // facts scan without an Exchange
    tables.foreach { t =>
      gold(t).collect()
      val plan = gold(t).queryExecution.executedPlan
      assert(collect(plan) { case e: Exchange => e }.isEmpty, s"$t: $plan")
      assert(collect(plan) { case s: RDDScanExec => s }.nonEmpty, s"$t: $plan")
    }
  }
}
