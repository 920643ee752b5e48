package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import graft.bronze.{EventDecode, Innings}
import graft.silver.Enrich
import graft.gold.GoldTables

/** End-to-end medallion dataflow: raw ball CSV → bronze → silver → gold.
  *
  * The reference splits this across an S3-event Lambda and two Glue jobs
  * (SURVEY §3); here the process boundaries collapse into one lazy plan
  * per layer — each stage is a pure DataFrame => DataFrame function, so
  * Catalyst sees the whole lineage and optimizes across stages.
  */
object Pipeline {

  /** Raw → bronze: event decode + innings segmentation
    * (reference: pipeline_2026/ex_match_rb.py lambda body).
    * Includes the full-row dedup of re-scraped snapshots (:183).
    *
    * Deterministic dedup: the surviving row of each duplicate group is
    * the one with the smallest `seq` (first in ingest order) — a plain
    * `dropDuplicates` keeps an arbitrary partition's row, and since the
    * innings windows order by `seq`, that nondeterminism could flip
    * innings boundaries between runs.
    */
  def toBronze(raw: DataFrame): DataFrame =
    Innings.addInnings(dedupDecoded(EventDecode.decode(raw)))

  /** Logical identity of a decoded delivery row — everything except the
    * per-scrape `seq`/`extract_time`: the key of the first-wins dedup,
    * in the batch pipeline and in each incremental micro-batch. */
  val dupKey: Seq[String] = Seq("match", "over", "ball", "bowler",
    "batsman", "runs", "extra_runs", "extra", "extra_type", "rebowl",
    "wicket", "wicket_method", "out_batsman", "total_runs")

  /** First-in-ingest-order dedup of decoded delivery rows (also reused by
    * the incremental path, which merges decoded batches before innings
    * assignment). */
  def dedupDecoded(decoded: DataFrame): DataFrame = {
    val w = Window.partitionBy(dupKey.map(col): _*).orderBy("seq")
    decoded.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** Bronze → silver (reference: ex_match_bs.py transform_to_silver). */
  def toSilver(spark: SparkSession, bronze: DataFrame, meta: DataFrame,
               players: Option[DataFrame] = None): DataFrame =
    Enrich.transform(spark, bronze, meta, players)

  /** Silver → the four gold tables (reference: ex_match_sg.py). */
  def toGold(silver: DataFrame): Map[String, DataFrame] = Map(
    "gold_batsman_stats" -> GoldTables.batsmanStats(silver),
    "gold_bowler_stats" -> GoldTables.bowlerStats(silver),
    "gold_team_stats" -> GoldTables.teamStats(silver),
    "gold_tournament_standings" -> GoldTables.tournamentStandings(silver),
  )
}
