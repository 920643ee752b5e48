package graft.silver

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bronze → silver enrichment (reference: pipeline_2026/ex_match_bs.py:281-349).
  *
  * Every step is a pure column expression except the two dimension
  * lookups. Both dimensions are tiny and load on the driver first
  * ([[Dims]]: [[loadMeta]] and [[loadSquads]], one action each, the
  * only actions of the layer), so a caller can read them beside other
  * work ([[graft.streaming.Incremental]] does). Then the transform is
  * plan-only: the per-match metadata applies through a broadcast-variable
  * map lookup keyed by `match`, and the players squads through the
  * fuzzy names ([[FuzzyNames]]), scored in the tasks. Neither is a join:
  * the fact table never shuffles for them, and building the silver
  * frame starts no Spark job.
  *
  * Each step adds its columns in one ordered `withColumns`: every
  * `withColumn` re-analyzes the whole plan on the driver, a cost the
  * incremental micro-batch pays on its critical path.
  */
object Enrich {

  /** One match's metadata, as [[loadMeta]] prepares it: the
    * first-innings sides and the raw venue, toss and date. */
  final case class MatchMeta(inn1Batting: String, inn1Bowling: String,
                             venue: String, tossWinner: String,
                             tossDecision: String, date: String)

  /** The silver dimensions, already on the driver: the prepared meta by
    * match key ([[loadMeta]]) and the players squads ([[loadSquads]];
    * None means no fuzzy normalization). */
  final case class Dims(meta: Map[String, MatchMeta],
                        squads: Option[(Map[String, Seq[String]], Seq[String])])

  /** Null-coercion defaults (ex_match_bs.py:286-294). */
  private val intDefaults: Seq[(String, Int)] = Seq(
    "over" -> 0, "ball" -> 1, "runs" -> 0, "extra_runs" -> 0,
    "total_runs" -> 0, "wicket" -> 0, "innings" -> 1, "rebowl" -> 0)

  def coerceTypes(df: DataFrame): DataFrame =
    df.withColumns(ListMap(intDefaults.map { case (c, dflt) =>
      c -> (if (df.columns.contains(c)) coalesce(col(c).cast("int"), lit(dflt)) else lit(dflt))
    }: _*))

  /** Innings phase bucketing (ex_match_bs.py:261-274). */
  def inningsPhase(over: Column): Column =
    when(over.isNull, "Unknown")
      .when(over < 6, "Powerplay")
      .when(over < 15, "Middle Overs")
      .when(over < 20, "Death Overs")
      .otherwise("Super Over")

  /** Derived features + boolean-as-int flags (ex_match_bs.py:297-304). */
  def derive(df: DataFrame): DataFrame = df.withColumns(ListMap(
    "over_decimal" -> round(col("over") + col("ball") / 10.0, 1),
    "innings_phase" -> inningsPhase(col("over")),
    "is_dot_ball" -> (col("total_runs") === 0).cast("int"),
    "is_boundary" -> col("runs").isin(4, 6).cast("int"),
    "is_four" -> (col("runs") === 4).cast("int"),
    "is_six" -> (col("runs") === 6).cast("int"),
    "is_legal_delivery" ->
      (!lower(col("extra_type")).isin("wide", "no ball", "no-ball", "5 wides")).cast("int")))

  /** Per-match first-innings (batting, bowling) sides from toss
    * metadata (ex_match_bs.py:212-247): the toss winner (fuzzy-reconciled
    * to home/away when the scrape misspells it) bats first iff the
    * decision contains "bat". A plain driver function over the collected
    * meta rows ([[loadMeta]]). */
  private def sides(home: String, away: String, tossWinner: String,
                    tossDecision: String): (String, String) =
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

  /** The match meta by key (`short_name`, else `match`), in one action:
    * the raw meta columns are collected and [[sides]] runs on the driver.
    * A key on several meta rows resolves to the row that sorts first on
    * (inn1_batting, inn1_bowling, venue, toss_winner, toss_decision,
    * date), nulls first: the choice does not depend on the meta frame's
    * row order. Rows with a null key are dropped (no delivery could
    * match them). */
  def loadMeta(meta: DataFrame): Map[String, MatchMeta] =
    meta.select(coalesce(col("short_name"), col("match")), col("home_team"),
        col("away_team"), col("toss_winner"), col("toss_decision"), col("venue"),
        col("date"))
      .collect().filter(!_.isNullAt(0))
      .map { r =>
        val Seq(key, home, away, toss, decision, venue, date) = (0 until 7).map(r.getString)
        val (bat, bowl) = sides(home, away, toss, decision)
        key -> MatchMeta(bat, bowl, venue, toss, decision, date)
      }
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).minBy(sortKey) }

  private def sortKey(m: MatchMeta) =
    (Option(m.inn1Batting), Option(m.inn1Bowling), Option(m.venue),
      Option(m.tossWinner), Option(m.tossDecision), Option(m.date))

  /** The players squads, in one action per catalog: None without a
    * catalog or with an empty one (names pass through then, mirroring
    * the reference's empty-catalog passthrough). */
  def loadSquads(players: Option[DataFrame]): Option[(Map[String, Seq[String]], Seq[String])] =
    players.map(FuzzyNames.catalogRows).filter(_.nonEmpty).map(FuzzyNames.squads)

  /** Attach batting/bowling teams + metadata literals
    * (ex_match_bs.py:307-312, 339-344). Loads the meta on the driver
    * ([[loadMeta]]) and applies it as a map lookup. */
  def withTeamsAndMeta(df: DataFrame, meta: DataFrame): DataFrame =
    withMetaLookup(df, loadMeta(meta))

  /** The meta lookup: one broadcast variable, one UDF call per row.
    * Matches without metadata get "N/A" teams, venue and toss, mirroring
    * the reference's empty-meta branch (:225-226); a delivery's own
    * `date` wins over the meta date; even innings swap the sides. */
  private def withMetaLookup(df: DataFrame, meta: Map[String, MatchMeta]): DataFrame = {
    val bcMeta = df.sparkSession.sparkContext.broadcast(meta)
    val lookup = udf((m: String) => Option(m).flatMap(bcMeta.value.get))
    val odd = col("innings") % 2 === 1
    val m = (f: String) => col(s"_meta.$f")
    df.withColumn("_meta", lookup(col("match")))
      .withColumns(ListMap(
        "batting_team" ->
          coalesce(when(odd, m("inn1Batting")).otherwise(m("inn1Bowling")), lit("N/A")),
        "bowling_team" ->
          coalesce(when(odd, m("inn1Bowling")).otherwise(m("inn1Batting")), lit("N/A")),
        "venue" -> coalesce(m("venue"), lit("N/A")),
        "toss_winner" -> coalesce(m("tossWinner"), lit("N/A")),
        "toss_decision" -> coalesce(m("tossDecision"), lit("N/A")),
        "date" -> coalesce(col("date"), m("date"))))
      .drop("_meta")
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
    * normalization applied then). Loads both dimensions in turn, then
    * runs [[transformWith]].
    */
  def transform(spark: SparkSession, bronze: DataFrame, meta: DataFrame,
                players: Option[DataFrame] = None): DataFrame =
    transformWith(spark, bronze, Dims(loadMeta(meta), loadSquads(players)))

  /** Bronze → silver over dimensions already loaded on the driver: the
    * one code path behind [[transform]] and the incremental micro-batch,
    * which loads the dimensions on their own threads. */
  def transformWith(spark: SparkSession, bronze: DataFrame, dims: Dims): DataFrame = {
    val withMeta = withMetaLookup(derive(coerceTypes(bronze)), dims.meta)
    dedup(dims.squads.fold(withMeta)(FuzzyNames.normalizeWith(spark, withMeta, _)))
  }
}
