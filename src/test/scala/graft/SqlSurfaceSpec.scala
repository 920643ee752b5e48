package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.gold.SqlViews

/** The README's Athena SQL (reference README.md:155-183), run VERBATIM
  * through `spark.sql` against gold tables registered in the `ipl_db`
  * catalog database — the last user-facing surface of the reference: a
  * consumer who pastes the README queries into a SQL prompt gets the
  * same answers here.
  */
class SqlSurfaceSpec extends SparkSpec {

  private lazy val gold = {
    val (raw, meta) = Fixtures.rawSeason(spark)
    val g = Pipeline.toGold(Pipeline.toSilver(spark, Pipeline.toBronze(raw), meta))
    SqlViews.registerGold(spark, g)
    g
  }

  test("verbatim points-table SQL matches the DataFrame standings") {
    // forcing `gold` first runs the catalog registration
    val expected = gold("gold_tournament_standings")
      .select("rank", "team", "played", "won", "lost", "points",
        "net_run_rate", "avg_run_rate")
      .orderBy("rank").collect()
    val viaSql = spark.sql(SqlViews.pointsTableSql).collect()
    assert(viaSql.toSeq === expected.toSeq)
    assert(viaSql.map(_.getAs[Int]("rank")).toSeq ===
      (1 to viaSql.length).toSeq)
  }

  test("verbatim orange-cap SQL returns the true top-10 by total_runs") {
    val stats = gold("gold_batsman_stats") // forces registration
    val viaSql = spark.sql(SqlViews.orangeCapSql).collect()
    assert(viaSql.length === 10)
    // The README SQL has no tie-break, so compare tie-robustly: the
    // returned total_runs multiset must equal the true top-10 multiset,
    // and every returned row must be a real gold_batsman_stats row.
    val expectedRuns = stats.select("total_runs")
      .orderBy(desc("total_runs")).limit(10)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSql.map(_.getAs[Long]("total_runs")).sorted.toSeq === expectedRuns)
    val byBatsman = stats
      .select("batsman", "total_runs", "legal_balls", "strike_rate",
        "fours", "sixes", "highest_score")
      .collect().map(r => r.getString(0) -> r).toMap
    viaSql.foreach { r: Row =>
      assert(byBatsman(r.getAs[String]("batsman")).toSeq === r.toSeq)
    }
  }

  test("catalog registration is idempotent and droppable") {
    SqlViews.registerGold(spark, gold) // second registration overwrites
    assert(spark.sql(SqlViews.pointsTableSql).count() > 0)
    spark.sql(s"DROP DATABASE IF EXISTS ${SqlViews.database} CASCADE")
    assert(!spark.catalog.databaseExists(SqlViews.database))
  }

  test("registration refuses to delete a non-table directory at a table location") {
    val g = gold // force fixture
    spark.sql(s"DROP DATABASE IF EXISTS ${SqlViews.database} CASCADE")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${SqlViews.database}")
    val dbLoc = spark.catalog.getDatabase(SqlViews.database).locationUri
    val name = g.keys.head
    val loc = new org.apache.hadoop.fs.Path(dbLoc, name.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val userFile = new org.apache.hadoop.fs.Path(loc, "user_data.txt")
    fs.mkdirs(loc)
    val out = fs.create(userFile); out.write(42); out.close()
    try {
      // the dir shares the table's name but is NOT a Spark table
      // artifact — registration must fail loudly, never delete it
      intercept[IllegalArgumentException] { SqlViews.registerGold(spark, g) }
      assert(fs.exists(userFile), "user data must survive the refused registration")
    } finally {
      fs.delete(loc, true)
      SqlViews.registerGold(spark, g) // restore for any later suite
    }
  }
}
