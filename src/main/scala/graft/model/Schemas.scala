package graft.model

import org.apache.spark.sql.types._

/** Explicit StructTypes for every layer of the medallion dataflow.
  *
  * The reference infers schemas from CSV/JSON with defensive guards
  * (reference: pipeline_2026/ex_match_bs.py:286-294, 429-431); here each
  * layer is pinned so Catalyst plans against known types and the parquet
  * scans prune columns.
  */
object Schemas {

  /** Raw ball CSV — 11 string columns.
    * (reference: pipeline_2026/ex_match_raw.py:222) */
  val rawBall: StructType = StructType(Seq(
    StructField("match", StringType),
    StructField("date", StringType),
    StructField("time", StringType),
    StructField("venue", StringType),
    StructField("over", StringType),
    StructField("ball", StringType),
    StructField("bowler", StringType),
    StructField("batsman", StringType),
    StructField("ball_event", StringType),
    StructField("event_info", StringType),
    StructField("extract_time", StringType),
  ))

  /** Bronze delivery record: typed event decode + innings running state.
    * (reference: pipeline_2026/ex_match_rb.py:103-120, innings :127-154) */
  val bronzeDelivery: StructType = StructType(Seq(
    StructField("match", StringType),
    StructField("date", StringType),
    StructField("time", StringType),
    StructField("over", IntegerType),
    StructField("ball", IntegerType),
    StructField("bowler", StringType),
    StructField("batsman", StringType),
    StructField("runs", IntegerType),
    StructField("extra_runs", IntegerType),
    StructField("extra", IntegerType),
    StructField("extra_type", StringType),
    StructField("rebowl", IntegerType),
    StructField("wicket", IntegerType),
    StructField("wicket_method", StringType),
    StructField("out_batsman", StringType),
    StructField("total_runs", IntegerType),
    // Explicit ingest-order column; the reference relies on physical file
    // order for its stateful scans (SURVEY §2.5 note) — we pin it. It sits
    // where the decode emits it, before the innings state.
    StructField("seq", LongType),
    StructField("innings", IntegerType),
    StructField("score", IntegerType),
    StructField("fallen_wickets", IntegerType),
  ))

  /** Per-match metadata object.
    * (reference: pipeline_2026/ex_match_raw.py:237-249) */
  val matchMeta: StructType = StructType(Seq(
    StructField("match", StringType),
    StructField("short_name", StringType),
    StructField("home_team", StringType),
    StructField("away_team", StringType),
    StructField("date", StringType),
    StructField("time", StringType),
    StructField("venue", StringType),
    StructField("toss_winner", StringType),
    StructField("toss_decision", StringType),
  ))

  /** Player catalog NDJSON — keys read downstream are Name/Team.
    * (reference: pipeline_2026/ex_players.py:57-65, ex_match_bs.py:180-194) */
  val player: StructType = StructType(Seq(
    StructField("Name", StringType),
    StructField("Team", StringType),
    StructField("Country", StringType),
    StructField("Role", StringType),
    StructField("Keeper", BooleanType),
  ))

  /** Silver delivery = bronze + enrichment columns.
    * (reference: pipeline_2026/ex_match_bs.py:281-349) */
  val silverDelivery: StructType = StructType(
    bronzeDelivery.fields.toSeq ++ Seq(
      StructField("over_decimal", DoubleType),
      StructField("innings_phase", StringType),
      StructField("is_dot_ball", IntegerType),
      StructField("is_boundary", IntegerType),
      StructField("is_four", IntegerType),
      StructField("is_six", IntegerType),
      StructField("is_legal_delivery", IntegerType),
      StructField("batting_team", StringType),
      StructField("bowling_team", StringType),
      StructField("venue", StringType),
      StructField("toss_winner", StringType),
      StructField("toss_decision", StringType),
    ))
}
