package graft

import org.apache.spark.sql.functions._

/** Accuracy contracts for the sketch aggregates (no cross-engine oracle
  * exists for HLL/KLL internals — the contract is bounded error vs the
  * exact answer). */
class ApproxAggSpec extends SparkSpec {

  private lazy val events =
    graft.queries.Tables.events(spark, "/root/testdata/sf0.01")

  test("approx_count_distinct within 5% of exact") {
    val both = events.groupBy("event_type").agg(
        countDistinct("user_id").as("exact"),
        approx_count_distinct("user_id", 0.02).as("approx"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val (e, a) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.05, s"${r.getString(0)}: $a vs $e")
    }
  }

  test("q_approx_distinct's pre-dedup shape answers like the one-aggregate shape") {
    // the registry query runs each exact distinct as its own two-level
    // aggregate over distinct (event_type, col) pairs, with the sketch
    // riding the second pass. HLL++ is duplicate-insensitive, so that
    // sketch must equal the one over the raw rows, and the query must
    // answer like the plain form (two countDistincts in one aggregate)
    def sketch(df: org.apache.spark.sql.DataFrame, c: String) =
      df.groupBy("event_type").agg(approx_count_distinct(c, 0.02))
        .collect().map(_.toString).sorted.toSeq
    Seq("user_id", "event_id").foreach { c =>
      assert(sketch(events.select("event_type", c).distinct(), c) ===
        sketch(events, c), c)
    }
    val oneAggregate = events.groupBy("event_type").agg(
        approx_count_distinct("user_id", 0.02).as("au"),
        approx_count_distinct("event_id", 0.02).as("ae"),
        countDistinct(col("user_id")).as("exact_users"),
        countDistinct(col("event_id")).as("exact_events"))
      .select(col("event_type"), col("exact_users"), col("exact_events"),
        (abs(col("au") - col("exact_users")) * 100 <=
          col("exact_users") * 6).as("users_ok"),
        (abs(col("ae") - col("exact_events")) * 100 <=
          col("exact_events") * 6).as("events_ok"))
    // the registry query reads the scale-factor dir `events` came from
    val sfDir = new org.apache.hadoop.fs.Path(events.inputFiles.head)
      .getParent.toString
    val registry = SparkEntry.queries("q_approx_distinct")(spark, sfDir)
    assert(registry.collect().map(_.toString).sorted.toSeq ===
      oneAggregate.collect().map(_.toString).sorted.toSeq)
  }

  test("percentile_approx within 5% of the exact median") {
    val rows = events.groupBy("event_type").agg(
        expr("percentile(value, 0.5)").as("exact_p50"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_p50"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (e, a) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(a - e) / math.max(e, 1e-9) <= 0.05,
        s"${r.getString(0)}: $a vs $e")
    }
  }
}
