package graft.silver

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bronze → silver enrichment (reference: pipeline_2026/ex_match_bs.py:281-349).
  *
  * Every step is a pure column expression except the fuzzy name
  * normalization (FuzzyNames). The per-match metadata is a tiny dimension
  * — it joins in via `broadcast`, so the fact table never shuffles for it.
  */
object Enrich {

  /** Null-coercion defaults (ex_match_bs.py:286-294). */
  private val intDefaults: Seq[(String, Int)] = Seq(
    "over" -> 0, "ball" -> 1, "runs" -> 0, "extra_runs" -> 0,
    "total_runs" -> 0, "wicket" -> 0, "innings" -> 1, "rebowl" -> 0)

  def coerceTypes(df: DataFrame): DataFrame =
    intDefaults.foldLeft(df) { case (d, (c, dflt)) =>
      if (d.columns.contains(c))
        d.withColumn(c, coalesce(col(c).cast("int"), lit(dflt)))
      else d.withColumn(c, lit(dflt))
    }

  /** Innings phase bucketing (ex_match_bs.py:261-274). */
  def inningsPhase(over: Column): Column =
    when(over.isNull, "Unknown")
      .when(over < 6, "Powerplay")
      .when(over < 15, "Middle Overs")
      .when(over < 20, "Death Overs")
      .otherwise("Super Over")

  /** Derived features + boolean-as-int flags (ex_match_bs.py:297-304). */
  def derive(df: DataFrame): DataFrame = df
    .withColumn("over_decimal", round(col("over") + col("ball") / 10.0, 1))
    .withColumn("innings_phase", inningsPhase(col("over")))
    .withColumn("is_dot_ball", (col("total_runs") === 0).cast("int"))
    .withColumn("is_boundary", col("runs").isin(4, 6).cast("int"))
    .withColumn("is_four", (col("runs") === 4).cast("int"))
    .withColumn("is_six", (col("runs") === 6).cast("int"))
    .withColumn("is_legal_delivery",
      (!lower(col("extra_type")).isin("wide", "no ball", "no-ball", "5 wides")).cast("int"))

  /** Per-match first-innings sides from toss metadata
    * (ex_match_bs.py:212-247): the toss winner (fuzzy-reconciled to
    * home/away when the scrape misspells it) bats first iff the decision
    * contains "bat"; even innings swap sides.
    *
    * Returns the meta frame with match_key, inn1_batting, inn1_bowling.
    */
  def prepMeta(meta: DataFrame): DataFrame = {
    val sides = udf { (home: String, away: String, tossWinner: String, tossDecision: String) =>
      if (home == null || away == null || home == "N/A" || away == "N/A") ("N/A", "N/A")
      else {
        val tw0 = if (tossWinner == null) "N/A" else tossWinner
        val tw =
          if (tw0 == home || tw0 == away) tw0
          else FuzzyNames.extractOne(tw0, Seq(home, away), 0.0).getOrElse(tw0)
        val tl = if (tw == home) away else home
        val dec = if (tossDecision == null) "" else tossDecision.toLowerCase
        if (dec.contains("bat")) (tw, tl) else (tl, tw)
      }
    }
    meta
      .withColumn("match_key", coalesce(col("short_name"), col("match")))
      .withColumn("_sides", sides(col("home_team"), col("away_team"),
        col("toss_winner"), col("toss_decision")))
      .select(
        col("match_key"),
        col("_sides._1").as("inn1_batting"),
        col("_sides._2").as("inn1_bowling"),
        col("venue").as("meta_venue"),
        col("toss_winner").as("meta_toss_winner"),
        col("toss_decision").as("meta_toss_decision"),
        col("date").as("meta_date"))
  }

  /** Attach batting/bowling teams + metadata literals via a broadcast
    * join (ex_match_bs.py:307-312, 339-344). Matches without metadata get
    * "N/A" teams, mirroring the reference's empty-meta branch (:225-226).
    */
  def withTeamsAndMeta(df: DataFrame, meta: DataFrame): DataFrame = {
    val m = prepMeta(meta)
    val odd = col("innings") % 2 === 1
    df.join(broadcast(m), df("match") === m("match_key"), "left")
      .withColumn("batting_team",
        coalesce(when(odd, col("inn1_batting")).otherwise(col("inn1_bowling")), lit("N/A")))
      .withColumn("bowling_team",
        coalesce(when(odd, col("inn1_bowling")).otherwise(col("inn1_batting")), lit("N/A")))
      .withColumn("venue", coalesce(col("meta_venue"), lit("N/A")))
      .withColumn("toss_winner", coalesce(col("meta_toss_winner"), lit("N/A")))
      .withColumn("toss_decision", coalesce(col("meta_toss_decision"), lit("N/A")))
      .withColumn("date", coalesce(col("date"), col("meta_date")))
      .drop("match_key", "inn1_batting", "inn1_bowling",
        "meta_venue", "meta_toss_winner", "meta_toss_decision", "meta_date")
  }

  /** First-wins keyed dedup on (match, innings, over, ball, rebowl)
    * (ex_match_bs.py:347). "First" = ingest order, made explicit by the
    * `seq` column (the reference relies on frame order).
    */
  def dedup(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("match", "innings", "over", "ball", "rebowl")
      .orderBy("seq")
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** Full bronze → silver transform. `players` may be empty (no fuzzy
    * normalization applied then, mirroring the reference's empty-catalog
    * passthrough); one catalog read gives both its emptiness and the
    * squad map.
    */
  def transform(spark: SparkSession, bronze: DataFrame, meta: DataFrame,
                players: Option[DataFrame] = None): DataFrame = {
    val typed = derive(coerceTypes(bronze))
    val withMeta = withTeamsAndMeta(typed, meta)
    val named = players.map(FuzzyNames.catalogRows) match {
      case Some(catalog) if catalog.nonEmpty =>
        FuzzyNames.normalizeWith(spark, withMeta, FuzzyNames.squads(catalog))
      case _ => withMeta
    }
    dedup(named)
  }
}
