package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.Pipeline
import graft.bronze.{EventDecode, Innings}
import graft.gold.{ConsumerQueries, SqlViews}
import graft.io.Tables
import graft.silver.{Enrich, FuzzyNames}
import PerfBench._

/** The medallion calls the benchmark makes, shared by the timed and the
  * traced runs: the gold refresh and the consumer surface, the batch
  * pipeline decomposed layer by layer, and the checks against the
  * generator's ground truth. */
object Medallion {

  final class Inputs(data: String) {
    val meta = s"$data/meta.json"
    val players = s"$data/players.ndjson"
    private val truthJson = json(s"$data/truth.json")
    val catalog: Set[String] = truthJson.get("catalog").elements.asScala.map(_.asText).toSet
    /** Ground truth of the store once the streamed match is complete. */
    val truth: JsonNode = truthJson.get("stream").get(0)
  }

  val goldNames = Seq("gold_batsman_stats", "gold_bowler_stats",
    "gold_team_stats", "gold_tournament_standings")

  /** RunPipeline.main's gold half: the four gold tables of `silver`
    * written under `out`, then registered for SQL (SqlViews.registerGold,
    * over the written tables). With tracing on, each gold table is
    * materialized inside its own span before it is written. */
  def refreshGold(spark: SparkSession, silver: DataFrame, out: String, t: Tracer): Unit = {
    Pipeline.toGold(silver).foreach { case (name, df) =>
      val g = if (t.on) t.span("gold", name)(df.localCheckpoint(eager = true)) else df
      t.span("io", "Tables.writeGold")(Tables.writeGold(g, s"$out/$name"))
    }
    t.span("serve", "SqlViews.registerGold")(SqlViews.registerGold(spark,
      goldNames.map(n => n -> spark.read.parquet(s"$out/$n")).toMap))
  }

  /** The consumer surface: the README SQL verbatim + ConsumerQueries. */
  def serveQueries(spark: SparkSession): Seq[(String, () => DataFrame)] = {
    def t(n: String) = spark.table(s"${SqlViews.database}.$n")
    Seq(
      "pointsTableSql" -> (() => spark.sql(SqlViews.pointsTableSql)),
      "orangeCapSql" -> (() => spark.sql(SqlViews.orangeCapSql)),
      "orangeCap" -> (() => ConsumerQueries.orangeCap(t("gold_batsman_stats"))),
      "purpleCap" -> (() => ConsumerQueries.purpleCap(t("gold_bowler_stats"))),
      "pointsTable" -> (() => ConsumerQueries.pointsTable(t("gold_tournament_standings"))),
      "powerplayLeaders" -> (() => ConsumerQueries.powerplayLeaders(t("gold_team_stats"))),
      "boundaryLeaders" -> (() => ConsumerQueries.boundaryLeaders(t("gold_batsman_stats"))))
  }

  /** One consumer query's latency and whether its result matched. */
  final case class Served(name: String, ms: Double, ok: Boolean)

  /** One round over the consumer queries, one client, closed loop, each
    * result checked against the ground truth. */
  def serve(spark: SparkSession, truth: JsonNode, t: Tracer): Seq[Served] =
    serveQueries(spark).map { case (name, q) =>
      val (rows, s) = seconds(t.span("serve", name)(q().collect().toSeq))
      val ok = checkServe(name, rows, truth)
      if (!ok) log(s"check failed: $name")
      Served(name, s * 1e3, ok)
    }

  private def intOf(r: Row, c: String): Long = r.getAs[Number](c).longValue

  /** A consumer query's rows against the ground truth. */
  def checkServe(name: String, rows: Seq[Row], truth: JsonNode): Boolean = {
    val table = truth.get("table")
    val batRuns = truth.get("bat_runs")
    def standingsOk = rows.size == table.size && rows.forall { r =>
      val t = table.get(r.getAs[String]("team"))
      t != null && intOf(r, "won") == t.get("won").asLong &&
        intOf(r, "lost") == t.get("lost").asLong &&
        intOf(r, "points") == t.get("points").asLong
    } && rows.map(intOf(_, "rank")) == (1 to rows.size).map(_.toLong)
    def runsOk = rows.forall { r =>
      val b = batRuns.get(r.getAs[String]("batsman"))
      b != null && b.asLong == intOf(r, "total_runs")
    }
    def capOk = rows.map(intOf(_, "total_runs")) ==
      batRuns.properties.asScala.toSeq.map(_.getValue.asLong)
        .sorted(Ordering[Long].reverse).take(10) && runsOk
    name match {
      case "pointsTableSql" | "pointsTable" => standingsOk
      case "orangeCapSql" | "orangeCap" => capOk
      case "boundaryLeaders" => rows.size == 10 && runsOk
      case "purpleCap" => rows.size == 10
      case "powerplayLeaders" => rows.size == math.min(10, table.size)
    }
  }

  /** Gold tables at `out` and their silver against the ground truth:
    * team runs and wickets, results and points (which sum to 2 per
    * decided or tied match), every batsman's runs, the silver row count
    * (unique deliveries) and every normalized name in the catalog. */
  def checkGold(spark: SparkSession, silver: DataFrame, out: String,
                in: Inputs, truth: JsonNode): Boolean = {
    def fail(msg: String): Boolean = { log(s"check failed: $msg"); false }
    def read(n: String) = spark.read.parquet(s"$out/$n").collect().toSeq
    val names = Seq("batsman", "bowler", "out_batsman").flatMap { c =>
      silver.select(col(c)).distinct().collect().map(_.getString(0))
    }.filter(n => n != null && n != "N/A").toSet
    val team = read("gold_team_stats")
    val standings = read("gold_tournament_standings").sortBy(intOf(_, "rank"))
    val bats = read("gold_batsman_stats")
    def of(field: String, key: String): Option[Long] =
      Option(truth.get(field).get(key)).map(_.asLong)
    val silverRows = silver.count()
    if (silverRows != truth.get("deliveries").asLong)
      fail(s"silver rows $silverRows != ${truth.get("deliveries")}")
    else if (!names.subsetOf(in.catalog))
      fail(s"names outside the catalog: ${(names -- in.catalog).take(5)}")
    else if (team.size != truth.get("team_runs").size || !team.forall { r =>
        val k = r.getAs[String]("team")
        of("team_runs", k).contains(intOf(r, "total_runs")) &&
          of("team_wkts", k).contains(intOf(r, "total_wickets_lost")) })
      fail("gold_team_stats runs/wickets")
    else if (!checkServe("pointsTable", standings, truth) ||
        standings.map(intOf(_, "points")).sum !=
          2 * (truth.get("decided").asLong + truth.get("tied").asLong))
      fail("gold_tournament_standings")
    else if (bats.size != truth.get("bat_runs").size || !bats.forall(r =>
        of("bat_runs", r.getAs[String]("batsman")).contains(intOf(r, "total_runs"))))
      fail("gold_batsman_stats runs")
    else true
  }

  final case class Facts(enriched: DataFrame, dupDropRatio: Double,
                         fuzzyPairs: Double, fuzzyChanged: Double)

  /** RunPipeline.main's silver half with each layer's output materialized
    * inside its span, so a span's time is that layer's work. The silver
    * steps are Enrich.transform's own sequence (coerceTypes, derive,
    * withTeamsAndMeta, FuzzyNames.normalize, dedup). Returns the counts
    * behind the bronze and silver ratios, taken outside every span: rows
    * dropped by the delivery dedup, and the (team, raw name) pairs
    * FuzzyNames.normalize scores per role with how many it rewrites
    * (through the same public functions its UDF calls). */
  def layeredSilver(spark: SparkSession, in: Inputs, raw: String, out: String,
                    t: Tracer): Facts = {
    def mat(df: DataFrame) = df.localCheckpoint(eager = true)
    val rawDf = t.span("io", "Tables.readRawBallCsv")(mat(Tables.readRawBallCsv(spark, raw)))
    val meta = Tables.readMetaJson(spark, in.meta)
    val players = Tables.readPlayers(spark, in.players)
    val decoded = t.span("bronze", "EventDecode.decode")(mat(EventDecode.decode(rawDf)))
    val deduped = t.span("bronze", "Pipeline.dedupDecoded")(mat(Pipeline.dedupDecoded(decoded)))
    val bronze = t.span("bronze", "Innings.addInnings")(mat(Innings.addInnings(deduped)))
    val enriched = t.span("silver", "Enrich.withTeamsAndMeta")(mat(
      Enrich.withTeamsAndMeta(Enrich.derive(Enrich.coerceTypes(bronze)), meta)))
    val named = t.span("silver", "FuzzyNames.normalize")(mat(
      FuzzyNames.normalize(spark, enriched, players)))
    val silver = t.span("silver", "Enrich.dedup")(mat(Enrich.dedup(named)))
    t.span("io", "Tables.writeSilver")(Tables.writeSilver(silver, s"$out/silver"))

    val nRaw = decoded.count().toDouble
    val (byTeam, all) = FuzzyNames.squadMap(players)
    val pairs = Seq("batting_team" -> "batsman", "bowling_team" -> "bowler",
      "batting_team" -> "out_batsman").flatMap { case (tc, nc) =>
      enriched.select(col(tc), col(nc)).distinct().collect()
        .map(r => (r.getString(0), r.getString(1)))
    }
    val changed = pairs.count { case (team, name) =>
      name != null && FuzzyNames.matchPlayerName(name,
        FuzzyNames.teamChoices(team, byTeam, all)) != name.trim
    }
    Facts(enriched, (nRaw - deduped.count()) / nRaw, pairs.size.toDouble,
      changed.toDouble / pairs.size)
  }

  /** README:64: FuzzyNames.normalize on one enriched frame, with the real
    * catalog (squad-scoped choices) and with Team nulled (teamChoices
    * falls back to the whole catalog): (scoped s, full-catalog s),
    * the faster of 2 runs each. */
  def fuzzyScope(spark: SparkSession, enriched: DataFrame, in: Inputs): (Double, Double) = {
    val players = Tables.readPlayers(spark, in.players)
    val unscoped = players.withColumn("Team", lit(null).cast("string"))
    def time(p: DataFrame) = (1 to 2).map(_ => seconds(
      FuzzyNames.normalize(spark, enriched, p)
        .write.format("noop").mode("overwrite").save())._2).min
    (time(players), time(unscoped))
  }
}
