package graft

/** Plan-shape regression tests: the properties that make these queries
  * scale (pushdown reaching the scan, broadcast dimension joins,
  * top-k without a global sort, map-side partial aggregation, minimal
  * exchanges around windows) are asserted on the optimized/executed
  * plans, so a refactor that silently degrades a plan fails CI — not
  * the 1000-executor cluster.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def executed(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q_s1: filter is pushed to the parquet scan; schema pruned") {
    val plan = executed("q_s1_scan_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      plan.take(800))
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_shipdate"),
      plan.take(800))
  }

  test("q_j1: dimension joins broadcast, never sort-merge") {
    val plan = executed("q_j1_dim_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("q_o5: top-k is TakeOrderedAndProject, not a global sort") {
    val plan = executed("q_o5_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("q_a1: partial + final hash aggregation (map-side combine)") {
    val plan = executed("q_a1_groupby_leaderboard")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(800))
  }

  test("q_w1: both windows + the session agg share ONE user_id exchange") {
    val plan = executed("q_w1_sessionize")
    // exchanges: 1 hashpartitioning(user_id) for the windows+agg chain,
    // 1 rangepartitioning for the output ORDER BY — nothing else
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.size == 2, s"${exchanges.size} exchanges:\n${plan.take(1200)}")
  }

  test("q_join_asof: ONE key exchange serves the union + carry-forward window") {
    val plan = executed("q_join_asof")
    // 1 hashpartitioning(user_id) for the as-of window, 1 range for the
    // output ORDER BY — a theta-join formulation would add more
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.size == 2, s"${exchanges.size} exchanges:\n${plan.take(1200)}")
  }

  test("q_bucketed_join: no exchange on the bucket key — join + agg co-located") {
    val plan = executed("q_bucketed_join")
    // the scan must actually use the buckets…
    assert(plan.contains("Bucketed: true"), plan.take(1500))
    // …and neither the join nor the (o_custkey, c_name) aggregation may
    // re-shuffle on the key the tables are bucketed by; only the output
    // ORDER BY's range exchange is allowed
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
      "bucket key re-shuffled:\n" + plan.take(1500))
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.size == 1, s"${exchanges.size} exchanges:\n${plan.take(2000)}")
  }

  test("q_embed_centroids: one aggregation exchange, no per-group collect") {
    val plan = executed("q_embed_centroids")
    // posexplode → partial agg → ONE (label, pos) exchange → final agg;
    // plus the output ORDER BY's range exchange. A collect_list-based
    // centroid would show objHashAggregate/CollectList here.
    assert(!plan.contains("collect_list") && !plan.contains("CollectList"),
      plan.take(1200))
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.size == 2, s"${exchanges.size} exchanges:\n${plan.take(1500)}")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1200))
  }

  test("q_dedup_simhash_pairs: candidates from an equi-join on the chunk key") {
    val plan = executed("q_dedup_simhash_pairs")
    assert(plan.contains("chunk_val"), plan.take(1200))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q_x2_fuzzy_scoped: candidate join key includes the length bucket") {
    val plan = executed("q_x2_fuzzy_scoped")
    // the equi-join key must be (nation, length bucket), not nation
    // alone — per-block work would otherwise grow quadratically with
    // corpus scale-up
    assert(plan.contains("len_bucket"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q_x3_fuzzy_prefix_join: candidates from an equi-join on (block, variant)") {
    val plan = executed("q_x3_fuzzy_prefix_join")
    // the scalable fuzzy path must never degenerate to a cross product;
    // its candidate key is the (block, deletion-variant-hash) pair —
    // variant keys carry the discriminating characters of their source,
    // so key cardinality grows with the corpus (unlike a saturating
    // q-gram vocabulary, the r9 sf10 OOM; see FuzzyPairs scaladoc)
    assert(plan.contains("_vh"), plan.take(1500))
    assert(plan.contains("_blk"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q_dedup_ngram_jaccard: candidate key is size bucket + prefix token") {
    val plan = executed("q_dedup_ngram_jaccard")
    // both blocking components must reach the candidate equi-join: the
    // fixed-cardinality size bucket alone is quadratic at scale (r9
    // sf10 finding); the prefix token key scales with the vocabulary
    assert(plan.contains("size_bucket"), plan.take(1500))
    assert(plan.contains("tok"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q_pack_sequences: sharded window key, broadcast offsets, bounded exchanges") {
    val plan = executed("q_pack_sequences")
    // the corpus-sized running-sum window partitions on the COMPOSITE
    // (lang, shard) key — parallelism grows with the corpus, never caps
    // at the ~5 langs
    assert("hashpartitioning\\(lang[^)]*shard".r.findFirstIn(plan).isDefined,
      plan.take(1500))
    // the dimension-sized offsets table joins back via broadcast, never
    // a corpus-wide sort-merge
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    // exchange budget: (lang,shard) window; offsets final agg;
    // offsets lang prefix-sum window (dimension-sized); (lang,pack_id)
    // pack aggregation; output ORDER BY — anything beyond 5 is a
    // regression
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.size <= 5, s"${exchanges.size} exchanges:\n${plan.take(2000)}")
  }

  test("q_join_salted: join key carries the salt; dim side replicated, not cartesian") {
    val plan = executed("q_join_salted")
    // the equi-join must run on (l_partkey, _salt) — a plan that lost
    // the salt re-concentrates the hot key on one reducer
    assert(plan.contains("_salt"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q_decontaminate_ngram: eval n-gram set broadcast; corpus side never sort-merges") {
    val plan = executed("q_decontaminate_ngram")
    // benchmark suites are KB–MB vs a TB corpus: the overlap join must
    // be a broadcast hash join keyed on the gram, with the corpus-sized
    // side map-joining in place
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("q_text_chunk: shuffle-free chunk generation (only the output sort exchanges)") {
    val plan = executed("q_text_chunk")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.size == 1, s"${exchanges.size} exchanges:\n${plan.take(1500)}")
  }

  test("q_text_repetition: row-local top-bigram — no gram explode, no join, one agg exchange") {
    val plan = executed("q_text_repetition")
    // the r12 reshape computes the per-doc top-bigram count inside the
    // row (graft_ngram_max_multiplicity), so the corpus-wide gram
    // shuffle + join-back of the original formulation must not return:
    // exchanges are the 6-row lang rollup + the output ORDER BY only
    assert(!plan.contains("Generate explode"), plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1500))
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.size == 2, s"${exchanges.size} exchanges:\n${plan.take(1500)}")
    assert(plan.contains("graft_ngram_max_multiplicity"), plan.take(1500))
  }

  test("q_text_tfidf: the measured three-pass shape — bounded window, broadcast N, no cartesian") {
    val plan = executed("q_text_tfidf")
    // deliberately the r5 three-aggregate form: the in-JVM
    // sf100 A/B read 96.8 s for this shape vs ~450-540 s for every
    // len-rides-the-tf-key variant (BASELINE.md r12) — recomputing the
    // map-side explode beats widening the aggregate key or round-
    // tripping a 400M-row tf through a checkpoint. Pin what makes the
    // winner fast: the per-doc top-k is WindowGroupLimit-pruned before
    // the final exchange, N is a 1-row broadcast (never a collect or a
    // real cartesian), and nothing degenerates to CartesianProduct
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    val gens = "Generate explode".r.findAllIn(plan).size
    assert(gens <= 3, s"$gens corpus explodes:\n${plan.take(1500)}")
  }

  test("q_text_bm25_topk: no doc_id-keyed join; one corpus pass; top-k is TakeOrdered") {
    val plan = executed("q_text_bm25_topk")
    assert("""Join \[doc_id""".r.findFirstIn(plan).isEmpty, plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    // tf is checkpoint-staged (tiny after the map-side term filter), so
    // df and the score projection read checkpoint blocks instead of
    // each re-running the corpus tokenize+explode; the only corpus
    // work left in the executed plan is the totals scan (no Generate)
    val gens = "Generate explode".r.findAllIn(plan).size
    assert(gens == 0, s"$gens corpus explodes:\n${plan.take(1500)}")
    assert(plan.contains("Scan ExistingRDD"), plan.take(1500))
  }

  test("q_corpus_mixture: stratum counts broadcast back; no corpus-sized sort-merge") {
    val plan = executed("q_corpus_mixture")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("q_sql_view_topk: the SQL text compiles to the DataFrame top-k plan") {
    val plan = executed("q_sql_view_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("q_source_cap: stage-1 window partitions on (source, salt)") {
    val plan = executed("q_source_cap")
    // the first top-k window must run on the salted composite key so a
    // hot domain spreads over `salts` tasks; only the bounded stage-2
    // window (≤ salts·k rows per key) partitions on source alone
    assert("hashpartitioning\\(source[^)]*_salt".r.findFirstIn(plan).isDefined,
      plan.take(1500))
  }

  test("q_token_budget_select: sharded window key, broadcast offsets") {
    val plan = executed("q_token_budget_select")
    // corpus running-sum window on the composite (lang, shard) key;
    // shard-offset prefix sums join back dimension-sized via broadcast
    assert("hashpartitioning\\(lang[^)]*_shard".r.findFirstIn(plan).isDefined,
      plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("q_quality_gate: single-partition windows only over the histogram") {
    val plan = executed("q_quality_gate")
    // the cum-count window and threshold aggregate run over the SCORE
    // HISTOGRAM (score-cardinality rows), never the corpus: the corpus
    // is touched by one partial/final histogram aggregate and one
    // broadcast-threshold filter
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1500))
    val dataWindows = "hashpartitioning\\(doc_id".r.findAllIn(plan).size
    assert(dataWindows == 0, s"corpus-keyed exchange found:\n${plan.take(1500)}")
  }

  test("q_boilerplate_strip: no windows; text moves through one doc_id join only") {
    val plan = executed("q_boilerplate_strip")
    // the rewrite is joins + aggregates + array expressions — a Window
    // here would mean some per-doc or global sort snuck in
    assert(!plan.contains("Window"), plan.take(1500))
    // the token arrays must not ride the gram-keyed exchanges: at most
    // one exchange partitions on a key set containing doc_id WITH the
    // token payload (the rebuild join); gram-side exchanges carry ids
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // the documents table is READ (and tokenized) ONCE: the parquet
    // scan happens only when the token arrays localCheckpoint; the
    // plan's three branches (rebuild join, frequency, starts) re-read
    // checkpoint blocks (ExistingRDD), never the file
    assert(!plan.contains("FileScan"), plan.take(1500))
    val rddScans = "Scan ExistingRDD".r.findAllIn(plan).size
    assert(rddScans <= 3, s"$rddScans checkpoint scans:\n${plan.take(2000)}")
    // gram identity through the shuffles is the 64-bit hash, never the
    // gram string: no exchange may carry a 'gram' string column
    assert(!plan.contains("gram#"), plan.take(2000))
  }

  test("q_line_dedup: no windows; line text never an attribute, so it cannot ride a shuffle") {
    val plan = executed("q_line_dedup")
    assert(!plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // the corpus is split ONCE (the line arrays localCheckpoint); all
    // three consumers (frequency, removal, rebuild) re-read checkpoint
    // blocks, never the file
    assert(!plan.contains("FileScan"), plan.take(1500))
    val rddScans = "Scan ExistingRDD".r.findAllIn(plan).size
    assert(rddScans <= 3, s"$rddScans checkpoint scans:\n${plan.take(2000)}")
    // line identity through the shuffles is the 64-bit hash built
    // INLINE from the staged array (positions-only explode +
    // element_at): no single-line string attribute exists anywhere in
    // the plan, so line text structurally cannot ride an exchange
    assert(!plan.contains("line#"), plan.take(2000))
    assert(plan.contains("graft_tok64"), plan.take(2000))
  }

  test("q_domain_gate: corpus collapses to a source-sized aggregate, then re-joins") {
    val plan = executed("q_domain_gate")
    // partial + final aggregation on source (map-side combine), and the
    // kept-source set comes back as an equi-join, never a cross product
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q_retrieval_rrf: both legs end in TakeOrdered; dense leg is join-free") {
    val plan = executed("q_retrieval_rrf")
    // each leg's top-k must be a TakeOrdered, never a global sort of a
    // corpus-sized frame; the fusion sorts only the fused ≤ 2k rows
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      plan.take(1500))
    // the query vector rides the dense leg as a LITERAL (r12), so the
    // only nested-loop join left is the bm25 leg's 1-row corpus-stats
    // broadcast; a CartesianProduct anywhere is a regression
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      plan.take(1500))
  }

  test("flagship standings: the only unpartitioned window is the bounded rank") {
    // team cardinality bounds the single-partition rank; anything else
    // funneling to one partition is a regression
    val plan = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    val singleParts = "SinglePartition".r.findAllIn(plan).size
    assert(singleParts <= 1, s"$singleParts single-partition exchanges\n${plan.take(600)}")
  }

  test("bounded-id In pushdown actually prunes row groups under the graft " +
    "threshold (1024) and silently stops pruning above it (r16 finding)") {
    import org.apache.spark.sql.functions.col
    // 10 files x exactly 1000 rows, each file = one row group with tight
    // vec_id min/max, like the clustered ANN corpora the rerank fetch
    // reads. spark.range(start, end, step, numPartitions) splits the
    // range into CONTIGUOUS equal slices deterministically — unlike
    // repartitionByRange, whose sampled boundaries depend on session
    // RDD-id history and made this bound flaky under the full suite.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-inpush").toString + "/t"
    spark.range(0L, 10000L, 1L, 10).select(col("id").as("vec_id"))
      .write.parquet(dir)
    // 32 scattered ids living in exactly TWO files' key ranges — the
    // shape of a rerank fetch: >10 ids (above Spark's default
    // threshold), [min,max] spanning the whole corpus
    val ids: Seq[Long] = (0L until 16L) ++ (9000L until 9016L)
    def scannedRows(thr: String): Long = {
      val key = "spark.sql.parquet.pushdown.inFilterThreshold"
      val old = spark.conf.get(key, "10")
      try {
        spark.conf.set(key, thr)
        val df = spark.read.parquet(dir).where(col("vec_id").isin(ids: _*))
        // execute df ITSELF so its scan metrics populate
        assert(df.collect().length === ids.size) // same ANSWER either way
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.sum
      } finally spark.conf.set(key, old)
    }
    // graft sessions (Bench/Verify/BenchOne set 1024): the In SET
    // reaches parquet, row-group stats prune the 8 untouched files
    assert(scannedRows("1024") <= 2000L)
    // Spark's default 10: the same query degrades to the [0,9015]
    // range pushdown, which prunes NOTHING over scattered ids — the
    // full-corpus cold read BASELINE.md r16 measured at 20M vectors
    assert(scannedRows("10") === 10000L)
    // and the serve-path guard classifies both regimes: the registry
    // geometries (nQueries·rerankK = 160, ·coarseK = 320) stay under
    // the session threshold; a geometry past it warns loudly
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val old = spark.conf.get(key, "10")
    try {
      spark.conf.set(key, "1024")
      assert(!graft.operators.Similarity.warnInOverflow(spark, 5 * 32, "spec"))
      assert(!graft.operators.Similarity.warnInOverflow(spark, 5 * 64, "spec"))
      assert(graft.operators.Similarity.warnInOverflow(spark, 2000, "spec"))
    } finally spark.conf.set(key, old)
  }
}
