package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{LlmQueries, Q, RelationalQueries, SqlQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the full medallion pipeline (raw ball events → bronze
    * event-decode + innings sessionization → silver enrichment → gold
    * standings) over the deterministic synthetic season. Exercises scan,
    * when-chain decode, window sessionization, broadcast-variable meta
    * lookup, keyed dedup, an explode + groupBy into per-match facts, a
    * per-match window, window rank and sort.
    */
  def entry(spark: SparkSession): DataFrame = {
    val (raw, meta) = Fixtures.rawSeason(spark)
    Pipeline.toGold(
      Pipeline.toSilver(spark, Pipeline.toBronze(raw), meta))(
      "gold_tournament_standings")
  }

  /** Full registry: relational operator coverage (SURVEY §2 over the
    * TPC-H-ish testdata) + the LLM-training-data families. */
  val registry: Seq[Q] = RelationalQueries.all ++ SqlQueries.all ++ LlmQueries.all

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query has one except
    * `q_f15_timestamp`, whose `current_timestamp` is nondeterministic:
    * the driver records a weaker rows-only check for it (117
    * oracle-checked + 1 rows-only).
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
