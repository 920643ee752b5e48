package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.plans.{CountEqual, NgramMaxMultiplicity, SortedIntersectSize}

/** Native codegen'd graft_sorted_intersect_size / graft_count_equal:
  * registration, exact parity with the built-in/HOF formulations they
  * replace (on the real corpus, not toy rows), and edge cases. */
class ArrayExprSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("sorted intersect size == size(array_intersect) on every corpus pair sample") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), TextAnalysis.sortedTokenSet(col("text")).as("toks"))
    // a real pair workload: same-lang candidate pairs from a self-join
    // sample (cap keeps the spec fast)
    val a = toks.select(col("doc_id").as("ia"), col("toks").as("ta"))
    val b = toks.select(col("doc_id").as("ib"), col("toks").as("tb"))
    val pairs = a.crossJoin(b).where(col("ia") < col("ib")).limit(20000)
    val both = pairs.select(
        SortedIntersectSize.intersectSizeCol(col("ta"), col("tb")).as("native"),
        size(array_intersect(col("ta"), col("tb"))).as("builtin"))
      .as[(Int, Int)].collect()
    assert(both.length === 20000)
    both.foreach { case (n, b) => assert(n === b) }
  }

  test("bounded intersect: abort is exactly 'would fail the fp Jaccard filter' " +
    "on corpus pairs at several thresholds") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        array_sort(transform(TextAnalysis.tokenSet(col("text")),
          t => graft.plans.Tok64Hash.tok64Col(t))).as("toks"))
    val a = toks.select(col("doc_id").as("ia"), col("toks").as("ta"))
    val b = toks.select(col("doc_id").as("ib"), col("toks").as("tb"))
    val pairs = a.crossJoin(b).where(col("ia") < col("ib")).limit(20000)
      .localCheckpoint()
    for (t <- Seq(0.3, 0.9, 0.99)) {
      val rows = pairs.select(
          graft.plans.SortedIntersectSize
            .intersectSizeCol(col("ta"), col("tb")).as("plain"),
          graft.plans.SortedIntersectBounded
            .boundedCol(col("ta"), col("tb"), lit(t)).as("bounded"),
          size(col("ta")).as("na"), size(col("tb")).as("nb"))
        .as[(Int, Int, Int, Int)].collect()
      assert(rows.length === 20000)
      var aborted = 0
      rows.foreach { case (plain, bounded, na, nb) =>
        val j = plain.toDouble / (na + nb - plain)
        if (bounded == -1) { aborted += 1; assert(!(j >= t),
          s"aborted a passing pair: plain=$plain na=$na nb=$nb t=$t") }
        else assert(bounded === plain)
        if (j >= t) assert(bounded === plain)
      }
      // at a high threshold on a mostly-dissimilar sample the abort
      // must actually fire (otherwise the kernel is dead code)
      if (t >= 0.9) assert(aborted > 0)
    }
  }

  test("bounded intersect: minhash pipeline emits the identical pair set " +
    "with either verify kernel") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bounded = graft.operators.Dedup
      .minhashStages(docs, 0.9, 8, 8, boundedVerify = true)
      .collect().map(_.toString).sorted.toSeq
    val plain = graft.operators.Dedup
      .minhashStages(docs, 0.9, 8, 8, boundedVerify = false)
      .collect().map(_.toString).sorted.toSeq
    assert(bounded.nonEmpty)
    assert(bounded === plain)
  }

  test("sorted intersect size: empty/disjoint/null edge cases") {
    val r = spark.sql(
      """SELECT graft_sorted_intersect_size(array('a','b'), CAST(array() AS ARRAY<STRING>)) AS e1,
        |  graft_sorted_intersect_size(CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<STRING>)) AS e2,
        |  graft_sorted_intersect_size(array('a','c'), array('b','d')) AS disj,
        |  graft_sorted_intersect_size(array('a','b','c'), array('a','b','c')) AS all3,
        |  graft_sorted_intersect_size(CAST(NULL AS ARRAY<STRING>), array('a')) AS n1
        |""".stripMargin).collect().head
    assert(r.getInt(0) === 0)
    assert(r.getInt(1) === 0)
    assert(r.getInt(2) === 0)
    assert(r.getInt(3) === 3)
    assert(r.isNullAt(4))
  }

  test("count_equal == aggregate/zip_with composition on signature-shaped arrays") {
    val sigs = spark.range(500).select(col("id"),
      transform(sequence(lit(0), lit(63)),
        i => pmod(hash(col("id") * lit(64) + i), lit(7)).cast("long")).as("sig"))
    val a = sigs.select(col("id").as("ia"), col("sig").as("sa"))
    val b = sigs.select(col("id").as("ib"), col("sig").as("sb"))
    val pairs = a.crossJoin(b).where(col("ia") < col("ib")).limit(20000)
    val hof = aggregate(
      zip_with(col("sa"), col("sb"), (x, y) => (x === y).cast("int")),
      lit(0), (acc, x) => acc + x)
    val both = pairs.select(
        CountEqual.countEqualCol(col("sa"), col("sb")).as("native"),
        hof.as("hof"))
      .as[(Int, Int)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) => assert(n === h) }
    // some pairs must actually agree somewhere for the test to mean much
    assert(both.exists(_._1 > 0))
  }

  test("count_equal: null array yields null; null elements never match") {
    val r = spark.sql(
      """SELECT graft_count_equal(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n1,
        |  graft_count_equal(array(1L, CAST(NULL AS BIGINT), 3L),
        |                    array(1L, CAST(NULL AS BIGINT), 3L)) AS withnull
        |""".stripMargin).collect().head
    assert(r.isNullAt(0))
    assert(r.getInt(1) === 2)
  }

  test("prefix_pos == first-common-(df,tok) model with packed positions; null dedup semantics") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // token universe with a fixed df per token (df is a token attribute,
    // so both sides of a pair always carry the same df for a shared tok)
    val universe = (0 until 40).map { t =>
      (t.toLong - 20L, rnd.nextInt(6).toLong + 1L) // (tok incl. negatives, df)
    }.toMap
    def side(): Seq[(Long, Long, Long)] = // (df, tok, pos) sorted by (df, tok)
      rnd.shuffle(universe.keys.toSeq).take(rnd.nextInt(8))
        .map(t => (universe(t), t, rnd.nextInt(1000).toLong + 1L))
        .sortBy(e => (e._1, e._2))
    val cases = Seq.fill(400) {
      val a = side(); val b = side()
      // query token: sometimes a's first entry, sometimes random
      val qt = if (rnd.nextBoolean() && a.nonEmpty) a.head._2
        else universe.keys.toSeq(rnd.nextInt(universe.size))
      (a.flatMap(e => Seq(e._1, e._2, e._3)),
        b.flatMap(e => Seq(e._1, e._2, e._3)), qt, a, b)
    }
    val df = cases.map(c => (c._1, c._2, c._3)).toDF("a", "b", "t")
    val got = df.withColumn("pp",
        graft.plans.PrefixPositional.posCol(col("a"), col("b"), col("t")))
      .select("pp").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    cases.zip(got).foreach { case ((_, _, qt, a, b), pp) =>
      // model: walk the (df, tok) order; first entry present in both
      val common = a.filter(e => b.exists(x => x._2 == e._2))
      val want = common.headOption.flatMap { fa =>
        if (fa._2 == qt) {
          val fb = b.find(_._2 == fa._2).get
          Some((fa._3 << 21) | fb._3)
        } else None // join token is not the canonical occurrence
      }
      assert(pp == want, s"a=$a b=$b qt=$qt")
    }
    // null array → null
    val n = Seq((Some(Seq(1L, 2L, 3L)), Option.empty[Seq[Long]], 2L))
      .toDF("a", "b", "t")
      .withColumn("pp",
        graft.plans.PrefixPositional.posCol(col("a"), col("b"), col("t")))
    assert(n.select("pp").collect().head.isNullAt(0))
  }

  test("prefix_pos stays inside whole-stage codegen") {
    // parquet-backed input: a literal frame constant-folds to a
    // LocalTableScan with no codegen stage to inspect
    val pfx = graft.operators.Dedup.prefixTokens(
      graft.operators.Dedup.tokenSets(
        spark.read.parquet(s"$sf/documents.parquet")), 0.9)
    val q = pfx.select(graft.plans.PrefixPositional
        .posCol(col("ptoks"), col("ptoks"), col("tok")).as("pp"))
    q.collect() // finalize the adaptive plan before inspecting it
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_prefix_pos""".r
      .findFirstIn(plan).isDefined, plan.take(600))
  }

  test("both expressions stay inside whole-stage codegen") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), TextAnalysis.sortedTokenSet(col("text")).as("toks"))
    val plan = toks.select(
        SortedIntersectSize.intersectSizeCol(col("toks"), col("toks")).as("x"))
      .queryExecution.executedPlan.toString
    // the `*(N)` prefix marks a WholeStageCodegen stage — the projection
    // evaluating the expression must carry it (a CodegenFallback
    // expression would force a plain Project)
    assert("""\*\(\d+\) Project \[graft_sorted_intersect_size""".r
      .findFirstIn(plan).isDefined, plan.take(600))
  }

  test("ngram_max_multiplicity == explode/groupBy/max on the real corpus (n=2,3)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    for (n <- Seq(2, 3)) {
      val native = docs.select(col("doc_id"),
        NgramMaxMultiplicity.maxMultCol(col("toks"), n).as("top"))
      val exploded = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"),
          explode(TextAnalysis.wordNgrams(col("text"), n)).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_ref"))
      val joined = native.join(exploded, Seq("doc_id"), "left")
        .select(col("doc_id"), col("top"),
          coalesce(col("top_ref"), lit(0L)).as("top_ref"))
        .as[(Long, Long, Long)].collect()
      assert(joined.nonEmpty)
      joined.foreach { case (id, got, want) =>
        assert(got === want, s"doc $id n=$n") }
    }
  }

  test("ngram_max_multiplicity: edge cases (empty, short, ties, nulls, n=1)") {
    val r = spark.sql(
      """SELECT
        |  graft_ngram_max_multiplicity(CAST(array() AS ARRAY<STRING>), 2) AS empty2,
        |  graft_ngram_max_multiplicity(array('a'), 2) AS short2,
        |  graft_ngram_max_multiplicity(array('a'), 1) AS one1,
        |  graft_ngram_max_multiplicity(array('a','b','a','b','a'), 2) AS abab,
        |  graft_ngram_max_multiplicity(array('x','x','x','x'), 2) AS xxx,
        |  graft_ngram_max_multiplicity(array('a','b','c'), 2) AS distinct2,
        |  graft_ngram_max_multiplicity(CAST(NULL AS ARRAY<STRING>), 2) AS nullarr,
        |  graft_ngram_max_multiplicity(array('a', CAST(NULL AS STRING), 'a', CAST(NULL AS STRING)), 2) AS nullelem
        |""".stripMargin).collect().head
    assert(r.getLong(0) === 0L) // no tokens
    assert(r.getLong(1) === 0L) // fewer than n tokens
    assert(r.getLong(2) === 1L) // unigram of a single token
    assert(r.getLong(3) === 2L) // "a b" twice, "b a" twice
    assert(r.getLong(4) === 3L) // "x x" three times
    assert(r.getLong(5) === 1L) // all grams distinct
    assert(r.isNullAt(6))       // null array -> NULL
    assert(r.getLong(7) === 2L) // ('a',NULL) twice — nulls equal only null
  }

  test("ngram_max_multiplicity stays inside whole-stage codegen") {
    val q = spark.read.parquet(s"$sf/documents.parquet")
      .select(NgramMaxMultiplicity
        .maxMultCol(TextAnalysis.tokens(col("text")), 2).as("top"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_ngram_max_multiplicity""".r
      .findFirstIn(plan).isDefined, plan.take(600))
  }
}
