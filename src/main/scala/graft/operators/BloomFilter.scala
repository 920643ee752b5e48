package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Bloom-filter decontamination: the broadcast-filter variant of
  * [[Decontaminate]] for when even the EVAL n-gram set is too large to
  * ship as a broadcast hash join side (a full benchmark suite can reach
  * 10⁸ n-grams ≈ GBs of strings; its bloom filter is `m` BITS — MBs).
  * Every corpus n-gram is tested against the filter map-side inside the
  * scan stage; the exact string join runs only on the bloom-positive
  * survivors (no false negatives, so nothing is missed — the join side
  * shrinks by the true-negative rate, which at corpus scale is ~all of
  * it).
  *
  * The filter is PORTABLE arithmetic end-to-end, so the DuckDB oracle
  * rebuilds the identical filter and replays membership bit-for-bit:
  *  - string hash = unsigned low-32 code-point ×31 fold
  *    ([[graft.functions.PortableHash.cp31u]] — the wrapping fold any
  *    engine can express over `unicode(c)`/`ord(c)`; same base hash as
  *    [[Dedup]]'s tokenHash oracle),
  *  - k probe positions by double hashing: `(h1 + j·h2) mod m` with
  *    `h1 = u32 mod m`, `h2 = 1 + (u32 div m) mod (m−1)`,
  *  - the bit array is the distinct probe-position set of the eval
  *    n-grams — at most `m` values collected to the driver (the size of
  *    the filter itself, a constant independent of data volume) and
  *    re-broadcast as one array<long> literal evaluated inside codegen.
  */
object BloomFilter {

  /** Filter size for `n` inserted elements: ~14 bits/element rounded up
    * to whole words, floored at 65536 bits (8 KiB — below that the
    * filter is cheaper than the arithmetic around it). 14 bits/element
    * keeps the false-positive rate ≈ 0.7% at k=3 at ANY insert count;
    * integer arithmetic only, so an external engine (the DuckDB oracle)
    * reproduces m exactly: `greatest(65536, ((14·n + 63) // 64) · 64)`. */
  def autoBits(n: Long): Int = {
    val m = ((14L * n + 63L) / 64L) * 64L
    math.max(65536L, math.min(m, Int.MaxValue.toLong - 63L)).toInt
  }

  /** Unsigned low-32 portable code-point fold — the native codegen
    * expression ([[graft.plans.Cp31Hash]], one primitive loop over the
    * UTF-8 bytes; same base hash as the minhash/simhash token hashes).
    * See [[graft.functions.PortableHash]] for why code points (not
    * UTF-16 code units): the oracle folds `unicode(c)`, and the two
    * only agree off-BMP if we do too. */
  private def withProbes(grams: DataFrame, m: Int): DataFrame =
    grams.withColumn("_h",
        graft.plans.Cp31Hash.cp31uCol(col("gram")))
      .withColumn("_h1", pmod(col("_h"), lit(m.toLong)))
      .withColumn("_h2", lit(1L) + pmod(expr(s"_h div $m"), lit(m - 1L)))

  /** Build the `m`-bit filter over a gram column: distinct probe
    * positions of every gram, packed into m/64 longs. */
  def buildBits(grams: DataFrame, m: Int, k: Int): Array[Long] = {
    require(m % 64 == 0 && m >= 64, s"m must be a positive multiple of 64, got $m")
    require(k >= 1, s"k must be >= 1, got $k")
    val pos = withProbes(grams, m)
      .select(explode(array((0 until k).map(j =>
        pmod(col("_h1") + col("_h2") * j, lit(m.toLong))): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](m / 64)
    pos.foreach(p => words(p.toInt >> 6) |= 1L << (p.toInt & 63))
    words
  }

  /** All-k-bits-set membership test against the `_bw` literal words. */
  private def hit(m: Int, k: Int): Column =
    (0 until k).map { j =>
      expr(s"(shiftright(element_at(_bw, " +
        s"CAST(((_h1 + $j * _h2) % $m) div 64 AS INT) + 1), " +
        s"CAST(pmod((_h1 + $j * _h2) % $m, 64) AS INT)) & 1) = 1")
    }.reduce(_ && _)

  /** Membership test as a PURE column expression over any gram column —
    * the same double-hash arithmetic as the batch path, with the string
    * hash folded by [[graft.functions.PortableHash.cp31uCol]] instead
    * of the UDF. Because it is expressions all the way down it composes
    * anywhere a UDF cannot follow, such as inside array lambdas
    * (`filter(grams, g => membershipCol(g, …))`). Probe positions are
    * a function of (m, k), so `words` must come from [[buildBits]] with
    * the same `m` and `k`: a mismatch fails here instead of silently
    * breaking the zero-false-negative guarantee. */
  def membershipCol(gram: Column, words: Array[Long], m: Int, k: Int): Column = {
    require(m % 64 == 0 && m >= 64 && k >= 1, s"bad filter shape m=$m k=$k")
    require(words.length * 64 == m,
      s"filter words carry ${words.length * 64} bits but m=$m — " +
        "probe (m, k) must match the build parameters")
    val bw = typedLit(words.toSeq)
    val u = graft.functions.PortableHash.cp31uCol(gram)
    val h1 = pmod(u, lit(m.toLong))
    // exact integer u div m: u < 2^32, so the double division is exact
    val h2 = lit(1L) + pmod(((u - h1) / lit(m.toLong)).cast("long"), lit(m - 1L))
    def bitSet(p: Column): Column = {
      val word = element_at(bw, (p / 64).cast("int") + 1)
      call_function("shiftright", word, pmod(p, lit(64L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }
    (0 until k).map(j => bitSet(pmod(h1 + h2 * j, lit(m.toLong)))).reduce(_ && _)
  }

  /** Per-language contamination report:
    * `(lang, n_docs_flagged, n_bloom_grams, n_true_grams)` — documents
    * with ≥ 1 bloom-positive n-gram, bloom-positive (doc, gram) pairs,
    * and how many of those survive the exact match (bloom ≥ true; the
    * gap is the measured false-positive mass).
    *
    * `m <= 0` (the default) auto-sizes the filter to the eval set:
    * `m = max(65536, ceil64(14 · |distinct eval grams|))` — ~14
    * bits/element, FP ≈ 0.7% at k=3 REGARDLESS of eval-set size. A
    * FIXED m is the one parameter choice that silently breaks at
    * scale: the r9 sf10 bench measured 13× time for 10× data because
    * 65536 bits over ~10⁶ inserted grams saturates to all-ones, every
    * corpus gram goes bloom-positive, and the "survivor-only" exact
    * join degenerates to the full corpus gram stream. The count pass
    * over the eval grams is the bench side — small by definition —
    * and the driver still only ever holds m bits. */
  def decontaminateReport(train: DataFrame, bench: DataFrame, n: Int,
                          m: Int = -1, k: Int = 3): DataFrame = {
    val benchGrams = bench
      .select(explode(TextAnalysis.wordNgrams(col("text"), n)).as("gram"))
      .distinct()
    val m1 = if (m > 0) m else autoBits(benchGrams.count())
    val words = buildBits(benchGrams, m1, k)
    // per-doc dedup stays IN THE ARRAY (array_distinct before explode):
    // the report's counts need distinct (doc, gram) pairs, and deduping
    // after a positional-explode stream would shuffle every bloom-
    // POSITIVE row — on a corpus that heavily shares vocabulary with
    // the eval set (this test corpus; any contaminated crawl) that
    // shuffle costs more than wordNgrams' lambda production. A corpus
    // where positives are rare can switch to TextAnalysis.ngramStream +
    // survivor distinct (the Decontaminate.overlapReport shape).
    // token array staged through its own projection so the gram lambda
    // reads an attribute — see wordNgramsFromTokens' contract (an
    // inlined split re-evaluates per gram position, O(len²)/doc)
    val bloomHits = withProbes(
      train.select(col("doc_id"), col("lang"),
        TextAnalysis.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(
            TextAnalysis.wordNgramsFromTokens(col("_toks"), n)))
            .as("gram")), m1)
      .withColumn("_bw", typedLit(words.toSeq))
      .where(hit(m1, k))
      .select("doc_id", "lang", "gram")
    // ONE pass over the survivors: the exact-match marker arrives via a
    // broadcast left join (benchGrams is distinct, so no duplication)
    // and all three counters aggregate together — materializing
    // bloomHits once per consumer would re-run the corpus scan+filter.
    bloomHits
      .join(broadcast(benchGrams.withColumn("_in_bench", lit(1L))),
        Seq("gram"), "left")
      .groupBy("lang").agg(
        countDistinct("doc_id").as("n_docs_flagged"),
        count(lit(1)).as("n_bloom_grams"),
        sum(coalesce(col("_in_bench"), lit(0L))).as("n_true_grams"))
  }
}
