package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.model.Schemas
import graft.silver.Enrich

/** The per-match meta lookup of `Enrich.withTeamsAndMeta`, on a
  * hand-made frame: missing meta, the `short_name` → `match` key
  * fallback, a duplicated key, the delivery's own date, and the side
  * swap of even innings. */
class EnrichMetaSpec extends SparkSpec {

  private val deliveries = StructType(Seq(
    StructField("match", StringType), StructField("innings", IntegerType),
    StructField("date", StringType), StructField("seq", LongType)))

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def metaRow(matchName: String, shortName: String, home: String, away: String,
                      date: String, venue: String, tossWinner: String, decision: String) =
    Row(matchName, shortName, home, away, date, "19:30", venue, tossWinner, decision)

  /** (match, innings) → (batting, bowling, venue, toss winner, toss decision, date). */
  private def enriched(df: DataFrame, meta: DataFrame): Map[(String, Int), Seq[String]] =
    Enrich.withTeamsAndMeta(df, meta)
      .select("match", "innings", "batting_team", "bowling_team", "venue",
        "toss_winner", "toss_decision", "date")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (2 until 8).map(r.getString)).toMap

  test("meta lookup: missing meta, key fallback, delivery date, even innings swap") {
    val df = frame(deliveries,
      Row("A", 1, null, 0L), Row("A", 2, "Apr 09", 1L),
      Row("B", 1, null, 2L), Row("B", 4, null, 3L),
      Row("Z", 1, "Apr 30", 4L))
    val meta = frame(Schemas.matchMeta,
      // keyed by short_name; Alpha won the toss and bats first
      metaRow("1st Match", "A", "Alpha", "Beta", "Apr 01", "V1", "Alpha", "bat first"),
      // null short_name: keyed by match; Delta won and bowls first
      metaRow("B", null, "Gamma", "Delta", "Apr 02", "V2", "Delta", "field"))
    val got = enriched(df, meta)
    assert(got(("A", 1)) === Seq("Alpha", "Beta", "V1", "Alpha", "bat first", "Apr 01"))
    // innings 2 swaps the sides; the delivery's own date wins
    assert(got(("A", 2)) === Seq("Beta", "Alpha", "V1", "Alpha", "bat first", "Apr 09"))
    assert(got(("B", 1)) === Seq("Gamma", "Delta", "V2", "Delta", "field", "Apr 02"))
    assert(got(("B", 4)) === Seq("Delta", "Gamma", "V2", "Delta", "field", "Apr 02"))
    // no meta row: N/A teams, venue and toss; the delivery date stays
    assert(got(("Z", 1)) === Seq("N/A", "N/A", "N/A", "N/A", "N/A", "Apr 30"))
    // the lookup keeps the frame's rows and columns, adding the five
    assert(Enrich.withTeamsAndMeta(df, meta).columns.toSeq === deliveries.fieldNames.toSeq ++
      Seq("batting_team", "bowling_team", "venue", "toss_winner", "toss_decision"))
    assert(Enrich.withTeamsAndMeta(df, meta).count() === 5L)
  }

  test("meta lookup: a duplicated match key resolves to the row that sorts first") {
    val df = frame(deliveries, Row("D", 1, null, 0L), Row("D", 2, null, 1L))
    // same key "D" (once by short_name, once by the match fallback);
    // the same sides, so the venue decides: "Arena" < "Stadium"
    val stadium = metaRow("x", "D", "Alpha", "Beta", "Apr 03", "Stadium", "Alpha", "bat")
    val arena = metaRow("D", null, "Alpha", "Beta", "Apr 04", "Arena", "Alpha", "bat")
    val want = Map(
      ("D", 1) -> Seq("Alpha", "Beta", "Arena", "Alpha", "bat", "Apr 04"),
      ("D", 2) -> Seq("Beta", "Alpha", "Arena", "Alpha", "bat", "Apr 04"))
    // whatever the meta frame's row order and partitioning
    assert(enriched(df, frame(Schemas.matchMeta, stadium, arena)) === want)
    assert(enriched(df, frame(Schemas.matchMeta, arena, stadium)) === want)
    assert(enriched(df, frame(Schemas.matchMeta, stadium, arena, stadium).repartition(3)) === want)
    // one row per delivery, never one per meta row
    assert(Enrich.withTeamsAndMeta(df, frame(Schemas.matchMeta, stadium, arena)).count() === 2L)
    // the sides sort before the venue: the row whose first-innings
    // batting side sorts first wins (Alpha bats first in `arena`,
    // Beta in `bowl`)
    val bowl = metaRow("D", null, "Alpha", "Beta", "Apr 05", "Aaa", "Alpha", "bowl")
    assert(enriched(df, frame(Schemas.matchMeta, bowl, arena))(("D", 1)) ===
      Seq("Alpha", "Beta", "Arena", "Alpha", "bat", "Apr 04"))
  }
}
