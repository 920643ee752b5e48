package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gold analytics tables (reference: pipeline_2026/ex_match_sg.py:121-297).
  *
  * The reference recomputes each table from the whole silver table. Here
  * every gold column is a fold over per-match partials, so one silver pass
  * builds them all: [[facts]] holds per-(match, role, name) partial sums
  * (one scan, one hash aggregation, its one shuffle keyed by match), and
  * each table is a group-by over the facts. The reference's driver-side
  * Python loops (match winners, standings fold) become a window over each
  * match's batting sides and the same team-level group-by.
  *
  * At any scale the data-sized work is that single distributed scan and
  * aggregation. The folds read O(matches × names) rows, about 54 a match:
  * ~4k for a 74-match season, ~60k for every IPL match ever played. The
  * facts are checkpointed on one partition, so every group-by, both
  * windows and the final sort run without an exchange, and each table
  * write is a single job.
  */
object GoldTables {

  /** The reference's ÷0→÷1 KPI guard (ex_match_sg.py:144-146,166-170):
    * a zero denominator divides by 1 instead of NULLing out. Reproduced
    * exactly — deviating drifts every 0-ball/0-wicket KPI.
    */
  private def div0to1(x: Column, y: Column): Column =
    x / when(y === 0, 1).otherwise(y)

  private def rate(x: Column, y: Column): Column = round(div0to1(x, y), 2)

  /** Cricket overs notation: completed overs + balls-in-over/10
    * (ex_match_sg.py:165). */
  private def oversNotation(balls: Column): Column =
    floor(balls / 6) + (balls % 6) / 10.0

  private def validName(c: Column): Column = c.isNotNull && c =!= "N/A"

  /** Measure `c` of the `role` partials only (null elsewhere). */
  private def of(role: String, c: String): Column = when(col("role") === role, col(c))

  /** Per-(match, role, name) partial sums of silver: each delivery counts
    * once per role, under that role's name filter — `bat` (batsman),
    * `out` (out_batsman; the reference counts dismissals over the FULL
    * frame, ex_match_sg.py:138), `bowl`, `team` (batting side), and for
    * standings `batted`/`bowled` (both sides valid). `runs` is the
    * batsman's runs for `bat`, total_runs otherwise; `rows` counts rows.
    *
    * Lazily checkpointed, then coalesced to one partition: the first
    * table write materializes the KB-scale blocks and the other three
    * read them; the ContextCleaner frees them once the frames are
    * dropped. With adaptive execution on, the facts shuffle runs here.
    */
  def facts(silver: DataFrame): DataFrame = {
    def part(role: String, name: String, runs: String, also: Column = lit(true)): Column =
      when(validName(col(name)) && also,
        struct(lit(role).as("role"), col(name).as("name"), col(runs).as("runs")))
    val pp = col("innings_phase") === "Powerplay"
    silver
      .select(col("match"), explode(array(
          part("bat", "batsman", "runs"), part("out", "out_batsman", "runs"),
          part("bowl", "bowler", "total_runs"), part("team", "batting_team", "total_runs"),
          part("batted", "batting_team", "total_runs", validName(col("bowling_team"))),
          part("bowled", "bowling_team", "total_runs", validName(col("batting_team"))))).as("p"),
        col("is_legal_delivery"), col("is_four"), col("is_six"),
        col("is_dot_ball"), col("wicket"), col("total_runs"), pp.as("pp"))
      .where(col("p").isNotNull)
      .groupBy(col("match"), col("p.role").as("role"), col("p.name").as("name"))
      .agg(sum("p.runs").as("runs"), sum("is_legal_delivery").as("balls"),
        sum("is_four").as("fours"), sum("is_six").as("sixes"),
        sum("is_dot_ball").as("dots"), sum("wicket").as("wickets"),
        count(lit(1)).as("rows"),
        sum(when(col("pp"), col("total_runs"))).as("pp_runs"),
        sum(when(col("pp"), col("is_legal_delivery"))).as("pp_balls"))
      .localCheckpoint(false)
      .coalesce(1)
  }

  /** gold_batsman_stats (ex_match_sg.py:121-148): `matches` counts the
    * batsman's per-match partials, `highest_score` is their max; only
    * names that batted are kept, with their dismissals folded in. */
  def batsmanStats(facts: DataFrame): DataFrame =
    facts.where(col("role").isin("bat", "out"))
      .groupBy(col("name").as("batsman")).agg(
        count(of("bat", "rows")).as("matches"),
        sum(of("bat", "runs")).as("total_runs"), sum(of("bat", "balls")).as("legal_balls"),
        sum(of("bat", "fours")).as("fours"), sum(of("bat", "sixes")).as("sixes"),
        sum(of("bat", "dots")).as("dot_balls"),
        max(of("bat", "runs")).as("highest_score"),
        coalesce(sum(of("out", "rows")), lit(0L)).as("times_out"))
      .where(col("matches") > 0)
      .withColumn("strike_rate", rate(col("total_runs") * 100.0, col("legal_balls")))
      .withColumn("batting_avg", rate(col("total_runs").cast("double"), col("times_out")))
      .withColumn("dot_ball_pct", rate(col("dot_balls") * 100.0, col("legal_balls")))
      .orderBy(desc("total_runs"))

  /** gold_bowler_stats (ex_match_sg.py:150-172). */
  def bowlerStats(facts: DataFrame): DataFrame =
    facts.where(col("role") === "bowl")
      .groupBy(col("name").as("bowler")).agg(
        count(lit(1)).as("matches"),
        sum("runs").as("total_runs_conceded"), sum("balls").as("legal_balls"),
        sum("wickets").as("wickets"), sum("dots").as("dot_balls"),
        sum("fours").as("fours_conceded"), sum("sixes").as("sixes_conceded"))
      .withColumn("overs_bowled", oversNotation(col("legal_balls")))
      .withColumn("economy_rate",
        rate(col("total_runs_conceded").cast("double"), col("legal_balls") / 6.0))
      .withColumn("bowling_avg", rate(col("total_runs_conceded").cast("double"), col("wickets")))
      .withColumn("strike_rate", rate(col("legal_balls").cast("double"), col("wickets")))
      .withColumn("dot_ball_pct", rate(col("dot_balls") * 100.0, col("legal_balls")))
      .orderBy(desc("wickets"), asc("economy_rate"))

  /** gold_team_stats (ex_match_sg.py:174-208). The reference's separate
    * powerplay filter+groupBy+merge (J3) is a conditional partial in the
    * facts (left-join-miss ⇔ all-null conditional sum). */
  def teamStats(facts: DataFrame): DataFrame =
    facts.where(col("role") === "team")
      .groupBy(col("name").as("team")).agg(
        count(lit(1)).as("matches"),
        sum("runs").as("total_runs"),
        sum("wickets").as("total_wickets_lost"),
        sum("balls").as("legal_balls"),
        sum("fours").as("fours"), sum("sixes").as("sixes"),
        sum("pp_runs").as("pp_runs"), sum("pp_balls").as("pp_balls"))
      .withColumn("overs_batted", oversNotation(col("legal_balls")))
      .withColumn("overall_run_rate",
        rate(col("total_runs").cast("double"), col("legal_balls") / 6.0))
      .withColumn("pp_run_rate", rate(col("pp_runs").cast("double"), col("pp_balls") / 6.0))
      .drop("pp_runs", "pp_balls")
      .orderBy(desc("total_runs"))

  /** gold_tournament_standings (ex_match_sg.py:210-297).
    *
    * The reference folds standings in two driver loops (per match, per
    * team). Here a window over each match's `batted` partials decides
    * winner/loser/tie, and one team-level group-by sums results and runs.
    *
    * Documented reference quirks handled intentionally:
    *  - ties: the reference compares `winner == None`, so tied matches
    *    never actually count (ex_match_sg.py:256-258); we implement the
    *    evident intent (tie ⇒ both sides played+1, tied_nr+1, 1 point,
    *    per :247-248,262).
    *  - matches whose delivery rows show ≠2 batting teams are silently
    *    excluded from win/loss (ex_match_sg.py:238) — reproduced.
    *  - run-rate guard here is `if overs > 0 else 0.0` (:273-275), NOT
    *    the ÷1 guard the leaderboards use.
    *  - only teams that batted are ranked; a side that only bowled is not.
    */
  def tournamentStandings(facts: DataFrame): DataFrame = {
    // Win/loss/tie only for matches with exactly 2 batting sides: rank
    // the match's batted partials by runs.
    val wMatch = Window.partitionBy("match")
    def total(role: String, c: String): Column = coalesce(sum(of(role, c)), lit(0L))
    def rr(runs: Column, balls: Column): Column =
      when(balls > 0, round(runs.cast("double") / (balls / 6.0), 2)).otherwise(0.0)

    val standings = facts.where(col("role").isin("batted", "bowled"))
      .withColumns(Map(
        "n_teams" -> count(of("batted", "rows")).over(wMatch),
        "max_runs" -> max(of("batted", "runs")).over(wMatch),
        "min_runs" -> min(of("batted", "runs")).over(wMatch)))
      .withColumn("is_tie", when(col("n_teams") === 2,
        (col("max_runs") === col("min_runs")).cast("int")))
      .withColumn("won", (col("is_tie") === 0 && col("runs") === col("max_runs")).cast("int"))
      .withColumn("lost", (col("is_tie") === 0 && col("runs") === col("min_runs")).cast("int"))
      .groupBy(col("name").as("team")).agg(
        count(of("batted", "rows")).as("batted"),
        total("batted", "won").as("won"), total("batted", "lost").as("lost"),
        total("batted", "is_tie").as("tied_nr"),
        total("batted", "runs").as("runs_for"), total("batted", "balls").as("balls_for"),
        total("bowled", "runs").as("runs_against"), total("bowled", "balls").as("balls_against"))
      .where(col("batted") > 0)
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
