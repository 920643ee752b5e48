package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // JVM/JIT/codegen/parquet-reader warmup so whichever query the map
    // happens to order first doesn't absorb one-time startup cost. The
    // r5 driver run showed the 64-row warmup alone is NOT enough: the
    // first ~10 timed queries of a cold JVM ran 4-30x their steady cost
    // (minhash median 39 s vs 7 s steady), so also touch every base
    // table at full sf and prime the heavy operator paths on real rows.
    // Warmup is best-effort: a missing table at a differently-populated
    // SF dir must not abort the bench before a single query is timed.
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import graft.operators.{Dedup, Similarity}
      def warm(step: => Unit): Unit =
        try step catch { case t: Throwable =>
          System.err.println(s"[bench] warmup step skipped: ${t.getMessage}") }
      Seq("nation", "region", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        warm(spark.read.parquet(s"$sfDir/$t.parquet").count())
      }
      warm(spark.read.parquet(s"$sfDir/nation.parquet")
        .withColumn("rn", row_number().over(
          Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
        .agg(sum("rn")).collect())
      warm {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        Dedup.minhashLshPairs(docs, 0.9, bands = 8, rows = 8).count()
        Dedup.jaccardPairs(docs, 0.9).count()
      }
      warm {
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
        Similarity.exactTopK(emb, 2, 2).count()
      }
    }
    // The heavy candidate-pair queries swing ±30% run-to-run (GC timing
    // against a quadratic-ish true answer); report their MEDIAN of 3 so
    // round-over-round regressions are attributable to code, not noise.
    val heavy = Set("q_dedup_ngram_jaccard", "q_dedup_minhash_lsh",
      "q_dedup_simhash_pairs", "q_embed_ann_ivf", "q_dedup_clusters",
      "q_bloom_decontaminate", "q_text_lm_score", "q_neardup_prune",
      "q_embed_semdedup", "q_embed_ann_lsh", "q_x3_fuzzy_prefix_join")
    // a failing query must be VISIBLE in the output, not silently timed
    // as a fast success deflating the total
    val failed = scala.collection.mutable.SortedSet[String]()
    // failure MESSAGES ride the output JSON, not just stderr: the r12
    // sf10 incident (4 transient disk-pressure failures) cost a full
    // re-diagnosis because the launcher pipeline's `tail -1` dropped
    // the stderr lines that said why
    val failMsg = scala.collection.mutable.SortedMap[String, String]()
    // Force FULL output evaluation through the noop sink (r12): the
    // previous action was .count(), which lets Catalyst prune every
    // computed column not needed for row counting — map-only queries
    // (simhash signatures, rolling fingerprints, the quality
    // classifier) timed the parquet ROW COUNT instead of the operator
    // (sf100 read 0.12–0.3 s for 5M-doc signature passes), and even
    // agg queries dropped unreferenced aggregate expressions and
    // top-level sorts. The noop sink evaluates every output row
    // end-to-end (sorts included) at zero sink cost.
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case t: Throwable =>
        failed += name
        failMsg.getOrElseUpdate(name,
          s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
            .replaceAll("[\\x00-\\x1f\"\\\\]", " ").take(300))
        System.err.println(s"[bench] $name FAILED: ${t.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Run the heavy queries LAST (the light ~75 double as further JVM
    // warmup) and give each heavy one untimed priming run before its
    // timed median: C2 compilation of a heavy path only finishes during
    // its first real-scale execution, and a median of 3 cold runs is
    // still cold.
    val (lightQ, heavyQ) = SparkEntry.queries
      .partition { case (n, _) => !heavy(n) }
    // Light queries report a MEDIAN of 3 too (first run doubles as the
    // prime — the median discards it if slow): a single timed run in the
    // shared JVM eats whole stop-the-world GCs of its neighbors' garbage,
    // which the r9 sf10 study measured as phantom 20-26x "superlinear"
    // entries (q_join_anti benched 11.2 s vs 1-3 s standalone steady;
    // q_domain_gate 10.2 s vs 2.2 s) that vanish under a median.
    // A query that failed once is not re-run (re-timing a 4-minute OOM
    // three times would dominate the bench wall-clock with known noise).
    def median3(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val r1 = once(name, fn)
      if (failed(name)) r1
      else Seq(r1, once(name, fn), once(name, fn))
        .sorted(Ordering.Double.TotalOrdering)(1)
    }
    // UNTIMED driver GC between queries: Spark reclaims shuffle files
    // and broadcasts only when the ContextCleaner sees their driver
    // objects collected, and a large mostly-empty heap can go the whole
    // bench without a single old-gen GC — hundreds of queries' shuffle
    // output then accumulates on local disk until writes throttle. The
    // r9 sf10 run measured the effect directly: q_text_tfidf (the
    // largest light-query shuffle) read 180 s in-bench vs 5-8 s
    // standalone. Periodic, not per-query: a full GC on a large heap
    // costs seconds itself.
    var sinceGc = 0
    def maybeGc(): Unit = { sinceGc += 1; if (sinceGc >= 8) { sinceGc = 0; System.gc() } }
    // per-query progress on stderr: a sweep cut by wall-clock (the r15
    // sf100 incident — ~75 min of a ~2.5 h sweep lost with no partial
    // data, Bench's JSON prints only at the end) still leaves every
    // completed query's steady in the log. The wall-clock stamp (r16
    // verdict #5) makes a contended window identifiable post-hoc: the
    // r16 sweep's first ~50 min overlapped concurrent test runs and
    // nothing in the log could date which queries were affected.
    def progress(name: String, v: Double): Double = {
      val now = java.time.Instant.now().toString
      System.err.println(f"[bench] done $name: $v%.2f s at $now")
      v
    }
    val lightResults = lightQ.map { case (name, fn) =>
      maybeGc()
      name -> progress(name, median3(name, fn))
    }
    val heavyResults = heavyQ.map { case (name, fn) =>
      maybeGc()
      once(name, fn) // untimed prime
      name -> progress(name, if (failed(name)) 0.0 else median3(name, fn))
    }
    val results = lightResults ++ heavyResults
    // per-query seconds rounded to 3 decimals (r17 verdict #5/#6): the
    // driver keeps only the stdout TAIL, and the full-precision map
    // (~18 chars/value) overflowed it two rounds running, losing the
    // per-query history to mid-JSON truncation. Millisecond precision
    // is far inside the box's ±0.3 s noise band, so nothing real is
    // lost; the change is FORMATTING of the measurement, not the
    // measurement (methodology, timing, and keys unchanged).
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failMsgJson = failMsg
      .map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // record the MEASUREMENT CONFIG in the artifact: the r11 sf100
    // sweep ran at 32 shuffle partitions (~19M rows/partition through
    // the sort-merge joins) and nothing in the JSON said so — the
    // in-bench numbers looked like plan regressions instead of a
    // measurement setting
    val shufp = spark.conf.get("spark.sql.shuffle.partitions")
    val cpus = spark.sparkContext.defaultParallelism
    val heapGb = Runtime.getRuntime.maxMemory / (1 << 30)
    val config =
      s"""{"shuffle_partitions":$shufp,"cpus":"$cpus","heap_gb":$heapGb}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"fail_msgs":$failMsgJson,"config":$config,"sf":"$sfDir"}"""
    val totalOnly =
      s"""{"metric":"total_only","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failedJson}"""
    // The harness keeps only the TAIL of this process's output and the
    // full per-query map is one long line, so the r5 "total first" fix
    // was itself truncated away. Order matters: giant line first, short
    // headline line LAST so the tail always retains a parseable total.
    // The complete JSON also goes to bench_last.json as the canonical
    // record.
    println(json)
    println(totalOnly)
    // best-effort file copy: a read-only cwd must not cost the
    // per-query record
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] bench_last.json not written: $e") }
    spark.stop()
  }
}
