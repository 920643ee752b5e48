package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Cross-document substring-level exact deduplication — the
  * "deduplicate training data at the span level" pass (Lee et al. 2022,
  * arXiv:2107.06499): any `l`-token window whose exact token sequence
  * occurs MORE THAN ONCE in the corpus (across documents or within one)
  * is removed from every occurrence EXCEPT the globally first one, and
  * each document's text is rebuilt from its surviving tokens.
  *
  * Contrast with the sibling passes: [[Boilerplate]] removes frequent
  * n-grams from ALL occurrences (chrome has no canonical owner, and the
  * threshold is distinct-document frequency ≥ minDf); exact/minhash
  * dedup drop or keep whole documents. This pass keeps exactly one copy
  * of every duplicated span — the memorization-risk remedy — while
  * leaving each document's unique content in place.
  *
  * First-occurrence rule: occurrences order by (doc_id, position),
  * packed into one BIGINT key `doc_id · 2²⁰ + pos` so "first" is a
  * plain `min` aggregate (map-side combining) instead of a corpus-wide
  * window. Contract: `0 ≤ doc_id < 2⁴³` and documents shorter than 2²⁰
  * tokens — far beyond any training document; a violation only reorders
  * which copy is kept, never which spans are detected.
  *
  * Scale shape (the [[Boilerplate]] shape, same reasons):
  *  - token arrays are localCheckpointed once, so the corpus text is
  *    READ AND TOKENIZED ONCE; the rebuild join re-reads token arrays;
  *  - gram identity through the shuffle is the 64-bit `graft_tok64`
  *    hash (gram strings never leave the map side); hash ≡ string
  *    identity up to 2⁻⁶⁴-scale collisions, the documented trade shared
  *    with the md5 fingerprint and the jaccard verify sets;
  *  - occurrence marking picks its shape by a measured cost model
  *    (r15, on the corpus gram count the checkpointed token arrays
  *    yield for one cheap aggregate):
  *
  *    WINDOW (≥ [[WindowShapeMinGrams]] grams): count/min over
  *    `Window.partitionBy(gh)` — ONE corpus-sized shuffle and ONE
  *    gram build. At sf100's 233M gram keys the r5–r13 agg-join shape
  *    spilled its hash tables and rebuilt the gram stream for the
  *    join (the agg-side exchange contains the partial agg, so
  *    ReuseExchange can't unify it with the join-side exchange);
  *    the window shape measured 5.2× faster there (BASELINE.md r14:
  *    94.2 s vs 493.0 s for the same marking answer). WindowExec
  *    buffers one gh-group at a time in a spillable array, so a
  *    pathological million-occurrence gram degrades to a serialized
  *    single-task spillable sort, not OOM — measured at 10⁷
  *    occurrences: +45 s wall on a 14-19 s sf10 query, straggler
  *    task ~29 s ≈ 360k occurrences/s (BASELINE.md r15). Above
  *    ~2¹⁹ occurrences the HOT-GRAM GUARD salts the window key: a
  *    1-in-[[HotGramStride]] occurrence sample flags
  *    certain-duplicate heavy hitters, whose occurrences then spread
  *    over [[HotGramSalts]] (gh, salt) partitions; the per-salt
  *    winners are resolved on a checkpointed answer-sized set with
  *    the losers' (doc_id, p) reconstructed from the packed key —
  *    still one gram build and one corpus shuffle
  *    (SkewStressSpec pins guard answer ≡ raw window ≡ agg-join);
  *
  *    AGG-JOIN (below the threshold): groupBy(gh) count/min stats,
  *    then grams ⋈ dup-stats. While the gram hash tables FIT, the
  *    partial agg collapses map-side and the join's second gram
  *    build is cheaper than the window's mandatory per-partition
  *    sort — measured 2.1× at sf10's 25M grams (9.5 vs 19.9 s,
  *    the r14 crossover). Both shapes mark the identical occurrence
  *    set (spec-pinned), so the switch is invisible to the answer;
  *  - covered/kept/rebuilt text are pure array expressions per document
  *    (`array_except`, never a per-position `array_contains` scan).
  */
object SpanDedup {

  /** Packs (doc_id, pos) into the BIGINT first-occurrence key. */
  private val PosStride = 1L << 20

  /** Gram count at which the window shape takes over from agg-join.
    * Bracketed by measurement, not fitted: agg-join wins at 25M grams
    * (sf10, 2.1×), window wins at 233M (sf100, 2.0× fresh-JVM) — the
    * boundary is where the groupBy(gh) hash tables outgrow executor
    * memory and the agg starts spilling + sort-merging, which on this
    * box's 32-partition/80 g shape sits between those readings.
    * BOX-DEPENDENT: the r15 box re-measured the same sf10 corpus at
    * window 14-19 s vs agg-join 92-94 s (the crossover did not
    * reproduce — its slower scratch disk punishes the agg-join's
    * spill + second gram build), so the threshold is kept only as the
    * hash-tables-fit heuristic it encodes, not a universal constant
    * (BASELINE.md r15). */
  private[graft] val WindowShapeMinGrams = 100000000L

  /** Hot-gram guard for the window shape (r15): 1-in-`HotGramStride`
    * occurrence sample, pseudo-random on hash(doc_id, p) so constant-
    * position boilerplate can't alias the sample. A gram whose SAMPLED
    * count reaches [[HotGramMinSampled]] has true count ≥ the sampled
    * count (every sampled occurrence is real — no false "duplicate"
    * possible) and expected true count ≳ stride·minSampled ≈ 2¹⁹ —
    * past the point where its serialized single-task window sort is
    * worth routing around (BASELINE.md r15: 10.4M occurrences sort at
    * ~360k occ/s in one task ⇒ ~29 s straggler; below ~2¹⁹ the
    * straggler is ≤ ~1.5 s, cheaper than the detour). Hot grams are
    * certain duplicates, so their window key gains a salt (see
    * [[HotGramSalts]]) — no per-gram cnt≥2 check needed, and the
    * first-occurrence rule is restored from the per-salt winners on
    * an answer-sized checkpoint. Hot-set size is bounded by
    * totalGrams/(stride·minSampled) ≈ totalGrams/2¹⁹ — a few hundred
    * rows at sf100, broadcastable at any corpus scale. The
    * BROADCAST-ROUTE alternative (hot grams detour around the window
    * through groupBy-min + broadcast joins) measured 2.2-2.7× WORSE
    * than the raw straggler at 10⁷ occurrences — each detour arm
    * rebuilt the corpus gram stream (BASELINE.md r15, negative). */
  private[graft] val HotGramStride = 128
  private[graft] val HotGramMinSampled = 4096L

  /** Salt width for hot grams in the window shape: a hot gram's
    * occurrences spread over this many (gh, salt) window partitions,
    * so its per-task sort shrinks by the same factor (10⁹ occurrences
    * → ~4M per task). Cold grams keep salt 0 — their window key is
    * (gh, 0), byte-identical semantics to the unsalted shape. */
  private[graft] val HotGramSalts = 256

  /** `(doc_id, n_tokens, n_removed, deduped_text)` — every input row
    * appears exactly once; a document containing no duplicated span (or
    * shorter than `l` tokens, or null/empty text) passes through with
    * `n_removed = 0` and its token-normalized text intact. Overlapping
    * duplicated spans merge into one covered region (positions are a
    * set, not a sum). */
  def removeDuplicateSpans(docs: DataFrame, l: Int): DataFrame = {
    require(l >= 2, s"span length must be >= 2 tokens, got $l")
    val toks = tokenized(docs)
    // cost-model input: one cheap aggregate over the already-
    // checkpointed token arrays (no re-tokenize, no gram build)
    val nGrams = toks
      .agg(sum(greatest(size(col("t")) - (l - 1), lit(0))))
      .head().getLong(0)
    pipeline(toks, l, useWindow = nGrams >= WindowShapeMinGrams)
  }

  /** Shape-forced variant — the test/measurement seam that pins both
    * marking shapes to the identical answer (SpanDedupSpec) and lets a
    * measurement time each under a hot gram (BASELINE.md r15).
    * `hotStride`/`hotMinSampled` override the hot-gram guard so specs
    * can trigger it on tiny corpora (stride 1 samples everything) and
    * measurements can disable it (`hotMinSampled = Long.MaxValue`) to
    * measure the raw window shape. */
  private[graft] def removeDuplicateSpansShape(docs: DataFrame, l: Int,
      useWindow: Boolean, hotStride: Int = HotGramStride,
      hotMinSampled: Long = HotGramMinSampled): DataFrame = {
    require(l >= 2, s"span length must be >= 2 tokens, got $l")
    pipeline(tokenized(docs), l, useWindow, hotStride, hotMinSampled)
  }

  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        TextAnalysis.tokens(coalesce(col("text"), lit(""))).as("t"))
      .localCheckpoint()

  private def pipeline(toks: DataFrame, l: Int, useWindow: Boolean,
                       hotStride: Int = HotGramStride,
                       hotMinSampled: Long = HotGramMinSampled): DataFrame = {
    require(hotMinSampled >= 2L,
      "hotMinSampled must be >= 2: one sampled occurrence cannot certify a duplicate")
    require(hotStride >= 1,
      s"hotStride must be >= 1 (pmod by a non-positive stride is null," +
        s" which would silently disable the guard), got $hotStride")
    // occurrence stream before the gram hash — the guard's sample
    // filter runs HERE so only 1/stride of positions pay slice+hash
    def positions = toks
      .select(col("doc_id"), col("t"),
        explode(when(size(col("t")) >= l,
            sequence(lit(1), size(col("t")) - (l - 1)))
          .otherwise(array().cast("array<int>"))).as("p"))
    def gh = graft.plans.Tok64Hash.tok64Col(
      concat_ws(" ", slice(col("t"), col("p"), lit(l)))).as("gh")
    // (doc, start, gram-hash, packed first-occurrence key); sequence()
    // counts DOWN for docs shorter than l, so guard to an empty array.
    val grams = positions
      .select(col("doc_id"), col("p"), gh)
      .withColumn("k", col("doc_id") * PosStride + col("p"))
    val marked =
      if (useWindow) {
        val byGram = org.apache.spark.sql.expressions.Window.partitionBy("gh")
        def windowMarked(g: DataFrame): DataFrame = g
          .withColumn("cnt", count(lit(1)).over(byGram))
          .withColumn("first_k", min(col("k")).over(byGram))
          .where(col("cnt") >= 2 && col("k") =!= col("first_k"))
          .select("doc_id", "p")
        // hot-gram guard (see HotGramStride): sampled heavy hitters are
        // certain duplicates — spread them over a salted window key so
        // no single task sorts all their occurrences. A sentinel
        // threshold of Long.MaxValue disables the guard ENTIRELY —
        // including this sampling pre-pass — so a probe's raw-window
        // arm times exactly the unguarded r14 plan, not plan + pre-pass
        // (ADVICE r15).
        val hotGhs =
          if (hotMinSampled == Long.MaxValue) None
          else Some(positions
            .where(pmod(hash(col("doc_id"), col("p")), lit(hotStride)) === 0)
            .select(gh)
            .groupBy("gh").agg(count(lit(1)).as("scnt"))
            .where(col("scnt") >= hotMinSampled)
            .select("gh")
            .localCheckpoint())
            .filterNot(_.isEmpty)
        hotGhs match {
          case None => windowMarked(grams)
          case Some(hotGhs) =>{
          // SALTED TWO-LEVEL WINDOW — still ONE gram build and ONE
          // corpus-sized shuffle (the broadcast-route alternative that
          // rebuilt the gram stream per arm measured 2.2-2.7x WORSE
          // than the raw straggler, BASELINE.md r15):
          //  level 1: window over (gh, salt), salt = hash(k) % Salts
          //  for hot grams (0 for cold, so cold semantics unchanged).
          //  Within-salt losers of a hot gram are certainly-duplicated
          //  marks; the ≤Salts per-salt winners ride along TAGGED.
          //  level 2 runs on the CHECKPOINTED answer-sized output, so
          //  nothing corpus-sized is recomputed: per hot gram the
          //  global first is the min of its salt-winners, and the
          //  losing winners' (doc_id, p) are RECONSTRUCTED from the
          //  packed key (k = doc_id·2²⁰ + p) — no join back.
          val bySalt = org.apache.spark.sql.expressions.Window
            .partitionBy("gh", "salt")
          val hot = col("__hot").isNotNull
          val lvl1 = grams
            .join(broadcast(hotGhs.withColumn("__hot", lit(1))),
              Seq("gh"), "left")
            .withColumn("salt",
              when(hot, pmod(hash(col("k")), lit(HotGramSalts)))
                .otherwise(lit(0)))
            .withColumn("cnt1", count(lit(1)).over(bySalt))
            .withColumn("min1", min(col("k")).over(bySalt))
          val out = lvl1
            .where((hot || col("cnt1") >= 2) && col("k") =!= col("min1") ||
              (hot && col("k") === col("min1")))
            .select(col("doc_id"), col("p"),
              when(hot && col("k") === col("min1"), col("gh")).as("wgh"),
              col("k"))
            .localCheckpoint()
          // losers among the per-salt winners: `out` already carries
          // their (doc_id, p) columns — select them directly instead of
          // decoding the packed key (the k-div decode widened doc_id to
          // LongType and forced a union-side cast; ADVICE r15)
          val winnerLosers = out.where(col("wgh").isNotNull)
            .withColumn("gmin", min(col("k")).over(
              org.apache.spark.sql.expressions.Window.partitionBy("wgh")))
            .where(col("k") =!= col("gmin"))
            .select("doc_id", "p")
          out.where(col("wgh").isNull).select("doc_id", "p")
            .unionByName(winnerLosers)
        }
        }
      } else {
        val dupStats = grams.groupBy("gh")
          .agg(count(lit(1)).as("cnt"), min(col("k")).as("first_k"))
          .where(col("cnt") >= 2)
          .select("gh", "first_k")
        grams.join(dupStats, Seq("gh"))
          .where(col("k") =!= col("first_k"))
          .select("doc_id", "p")
      }
    val starts = marked
      .groupBy("doc_id").agg(collect_list(col("p")).as("starts"))
    toks.join(starts, Seq("doc_id"), "left")
      .withColumn("covered", array_distinct(flatten(transform(
        coalesce(col("starts"), array().cast("array<int>")),
        i => sequence(i, i + (l - 1))))))
      .withColumn("kept",
        array_except(sequence(lit(1), size(col("t"))), col("covered")))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("covered")).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("kept"), q => element_at(col("t"), q)))
          .as("deduped_text"))
  }
}
