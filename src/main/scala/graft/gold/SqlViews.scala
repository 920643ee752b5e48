package graft.gold

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** SQL/view consumer surface (reference README.md:155-183): the
  * reference's daily-driver interface is Athena SQL over Glue-catalog
  * gold tables in the `ipl_db` database. Registering the gold tables
  * under the same database name lets the README's queries run VERBATIM
  * through `spark.sql` — the session catalog playing the role of the
  * Glue crawler's.
  */
object SqlViews {

  val database = "ipl_db"

  /** Register the gold tables as catalog tables in [[database]] (managed
    * parquet, full overwrite — the reference's gold write disposition,
    * S9). After this, `spark.sql(pointsTableSql)` etc. run unmodified. */
  def registerGold(spark: SparkSession, gold: Map[String, DataFrame]): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    val dbLoc = spark.catalog.getDatabase(database).locationUri
    gold.foreach { case (name, df) =>
      // A table dropped from the in-memory catalog (e.g. by a previous
      // session's exit) can leave its managed location behind, which
      // CTAS refuses to reuse — clear the orphan so registration is
      // idempotent across sessions, not just within one. ONLY a
      // directory that is recognizably a Spark table artifact (holds a
      // _SUCCESS marker or part-* data files at its top level, possibly
      // under partition dirs) is removed; anything else under the
      // database location that merely shares a table's name is user
      // data and registration fails loudly instead of deleting it.
      if (!spark.catalog.tableExists(s"$database.$name"))
        graft.io.Tables.clearOrphanTableLocation(spark,
          new org.apache.hadoop.fs.Path(dbLoc, name.toLowerCase))
      df.write.mode(SaveMode.Overwrite).saveAsTable(s"$database.$name")
    }
  }

  /** README.md:156-168 — the points-table query, verbatim. */
  val pointsTableSql: String =
    """SELECT
      |    rank,
      |    team,
      |    played,
      |    won,
      |    lost,
      |    points,
      |    net_run_rate,
      |    avg_run_rate
      |FROM ipl_db.gold_tournament_standings
      |ORDER BY rank ASC;""".stripMargin

  /** README.md:171-183 — the Orange Cap query, verbatim. */
  val orangeCapSql: String =
    """SELECT
      |    batsman,
      |    total_runs,
      |    legal_balls,
      |    strike_rate,
      |    fours,
      |    sixes,
      |    highest_score
      |FROM ipl_db.gold_batsman_stats
      |ORDER BY total_runs DESC
      |LIMIT 10;""".stripMargin
}
