package graft
object BenchOne {
  def main(args: Array[String]): Unit = {
    // the same session as Bench, so a BenchOne timing/row-count
    // reproduces Bench instead of measuring a config delta
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-benchone")
    spark.sparkContext.setLogLevel("ERROR")
    val name = args(0)
    val fn = SparkEntry.queries(name)
    // warmup on 64 rows
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
    Dedup.minhashLshPairs(docs, 0.9, bands = 8, rows = 8).count()
    val runsRaw = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3")
    val runs = runsRaw.toIntOption.getOrElse(
      sys.error(s"SPARK_GRAFT_RUNS must be an integer, got '$runsRaw'"))
    require(runs >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $runs")
    // row count from ONE untimed pruned pass (sanity + per-query
    // prime); timed runs force FULL output evaluation through the
    // noop sink, matching Bench (r12 — .count() let Catalyst prune
    // the computed columns; see Bench.scala)
    val rows = fn(spark, sfDir).count()
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[benchone] $name run $i: ${(System.nanoTime()-t0)/1e9}%.2f s ($rows rows)")
    }
    spark.stop()
  }
}
