package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.plans.DotProduct.dotCol
import graft.plans.SignPack.packCol

/** Similarity search over an embedding column (`array<float>`).
  *
  * Every top-k operator answers, for each vector with
  * `vec_id < nQueries`, its k nearest by cosine among the rest, as
  * (query_id, rank, neighbor_id), and is a configuration of the same
  * stages:
  *  - [[vectors]]: the one (vec_id, vec, vv) prep, vv = v·v.
  *  - a candidate generator: the full cross product ([[exactTopK]]),
  *    hyperplane-LSH buckets ([[annTopK]]), or the probe of an IVF
  *    [[Quantizer]] — flat or tree, fitted per call ([[ivfTopK]]) or
  *    read from a saved index ([[buildIvfIndex]],
  *    [[ivfTopKFromIndex]], [[ivfTopKFromIndexInt8]]).
  *  - optional compressed tiers that narrow the candidates: the 1-bit
  *    Hamming tier ([[hammingTier]]) and the int8 ADC tier
  *    ([[adcTier]]), each followed by the full-precision [[rerank]]
  *    fetch.
  *  - [[exactRank]]: the exact cosine tail, ranked (cos desc,
  *    neighbor_id).
  *
  * Every stage is deterministic arithmetic — "approximate" means recall
  * < 1, never run-to-run drift — so the DuckDB oracle replays each
  * registry query in full. All arithmetic is in double (cast from float
  * once), every dot product a left-to-right ordered fold
  * ([[graft.plans.DotProduct]] ≡ DuckDB `list_dot_product`).
  * [[semDedupSurvivors]] clusters with the same flat quantizer.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays, composed from
    * built-in higher-order functions. Session-free but interpreted
    * (HOFs are CodegenFallback) — the hot paths below use the native
    * codegen'd [[graft.plans.DotProduct]] instead, which accumulates in
    * the identical left-to-right order (bit-equal results). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** A coarse-quantizer centroid: (list_id, centroid vector, c·c). */
  type Cent = (Int, Array[Double], Double)

  /** The one vector prep: (vec_id, keep…, vec, vv) with `vec` the double
    * cast of `embedding` and vv = v·v. vv is null exactly when the
    * vector is null or carries a null element — the null-vv drop rule
    * of every quantizer keys on it — and sqrt(vv) is bit-equal to a norm
    * computed from scratch, so one prep serves every operator. */
  private def vectors(emb: DataFrame, keep: String*): DataFrame =
    emb.select(col("vec_id") +: keep.map(col) :+
        asDouble(col("embedding")).as("vec"): _*)
      .withColumn("vv", dotCol(emb.sparkSession, col("vec"), col("vec")))

  /** One side of a scored pair with its norm computed once per side,
    * not per pair: `s = "q"` gives (query_id, qvec, qnrm), `s = "c"`
    * (neighbor_id, cvec, cnrm); `extra` columns follow. */
  private def side(v: DataFrame, s: String, extra: Column*): DataFrame =
    v.select(Seq(col("vec_id").as(if (s == "q") "query_id" else "neighbor_id"),
      col("vec").as(s + "vec"), sqrt(col("vv")).as(s + "nrm")) ++ extra: _*)

  /** The first `n` rows per `key` by `order`, numbered in `rank`. The
    * filtered row_number plans as a WindowGroupLimit: a map-side partial
    * top-n runs before the shuffle on `key`. */
  private def topPer(df: DataFrame, key: String, n: Int,
                     order: Column*): DataFrame =
    df.withColumn("rank",
        row_number().over(Window.partitionBy(key).orderBy(order: _*)))
      .where(col("rank") <= n)

  /** The exact tail every top-k operator ends in: over candidate pairs
    * (query_id, qvec, qnrm, neighbor_id, cvec, cnrm), cos = q·c / (|q|·|c|),
    * the k best per query by (cos desc, neighbor_id). Returns
    * (query_id, rank, neighbor_id). */
  private def exactRank(pairs: DataFrame, k: Int): DataFrame =
    topPer(pairs.withColumn("cos",
        dotCol(pairs.sparkSession, col("qvec"), col("cvec")) /
          (col("qnrm") * col("cnrm"))), "query_id", k,
        desc("cos"), asc("neighbor_id"))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))

  /** Exact cosine top-k: brute force against the broadcast query side —
    * O(queries × corpus) but one corpus scan and no corpus shuffle. The
    * correctness baseline. */
  def exactTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val v = vectors(emb)
    exactRank(side(v.where(col("vec_id") >= nQueries), "c")
      .crossJoin(broadcast(side(v.where(col("vec_id") < nQueries), "q"))), k)
  }

  /** The distinct values of `c` in `df`, collected for a pushed `isin`
    * fetch (driver-scale by the bounded-query contract), with
    * [[warnInOverflow]] checked for `site`. */
  private def fetchIds(df: DataFrame, c: String, site: String): Seq[Any] = {
    val ids = df.select(c).distinct().collect().map(_.get(0)).toSeq
    warnInOverflow(df.sparkSession, ids.size, site)
    ids
  }

  /** The 1-bit tier: over pairs carrying the query's and the candidate's
    * sign packs (qsig, sig — [[graft.plans.SignPack]]), the `n` nearest
    * per query by Hamming distance (codegen'd popcount-of-xor, ties
    * neighbor_id). The pack reads ⌈d/64⌉ longs per vector, 64× less
    * than the float64 work of an exact scan. Returns
    * (query_id, qvec, qnrm, neighbor_id), checkpointed: the survivors
    * feed both an id collect and the next tier's join. */
  private def hammingTier(pairs: DataFrame, n: Int): DataFrame =
    topPer(pairs.withColumn("ham",
        graft.plans.Hamming.distCol(col("qsig"), col("sig"))),
        "query_id", n, asc("ham"), asc("neighbor_id"))
      .select("query_id", "qvec", "qnrm", "neighbor_id")
      .localCheckpoint() // nQueries·n rows; the scan runs once

  /** The int8 ADC (asymmetric distance) tier: per candidate,
    * `ascore = scale/127 · graft_dot_id(qvec, q8) / sqrt(cvv)` — the
    * codegen'd int×double dot ([[graft.plans.DotIntDouble]]),
    * dequantization folded into one scalar multiply, the denominator
    * exact from the stored norm² (the query's own norm is constant
    * within a ranking and drops out). The `n` best per query survive,
    * ties (ascore desc, neighbor_id); same output as [[hammingTier]]. */
  private def adcTier(pairs: DataFrame, n: Int): DataFrame =
    topPer(pairs.withColumn("ascore", col("scale") / 127 *
        graft.plans.DotIntDouble.dotIdCol(pairs.sparkSession,
          col("qvec"), col("q8")) / sqrt(col("cvv"))),
        "query_id", n, desc("ascore"), asc("neighbor_id"))
      .select("query_id", "qvec", "qnrm", "neighbor_id")
      .localCheckpoint() // nQueries·n rows; the ADC stage runs once

  /** Exact re-rank of a tier's survivors (query_id, qvec, qnrm,
    * neighbor_id): their full-precision vectors are fetched from `v` by
    * a collected-id `isin` and ranked by [[exactRank]]. The `isin` must
    * reach parquet as the real In set: above the session's
    * `spark.sql.parquet.pushdown.inFilterThreshold` Spark pushes the
    * degenerate [min,max] range, which over scattered ids prunes nothing
    * — measured cold at 20M vectors as a full-corpus read per serve
    * (BASELINE.md r16: 6.7 GiB → 2.4 GiB once the threshold passes
    * nQueries·rerankK; graft.Session sets 1024, and [[warnInOverflow]]
    * flags a geometry that outgrows it). */
  private def rerank(sel: DataFrame, v: DataFrame, k: Int,
                     site: String): DataFrame = {
    val ids = fetchIds(sel, "neighbor_id", s"$site rerank fetch")
    exactRank(broadcast(sel).join(
      side(v.where(col("vec_id").isin(ids: _*)), "c"), "neighbor_id"), k)
  }

  /** 1-bit ANN: the [[hammingTier]] over the whole corpus, then the exact
    * [[rerank]] of the top `rerankK`. Deterministic, so the DuckDB oracle
    * replays it fully (Hamming by its definition, the count of sign
    * disagreements ≡ popcount of the packed xor). The query side
    * broadcasts; full-precision vectors are touched only for the
    * nQueries·rerankK re-rank fetch. */
  def hammingTopK(emb: DataFrame, nQueries: Int, k: Int,
                  rerankK: Int = 48): DataFrame = {
    require(rerankK >= k, s"rerankK ($rerankK) must be >= k ($k)")
    registerBits(emb.sparkSession)
    val v = vectors(emb)
    val sel = hammingTier(v.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), packCol(col("vec")).as("sig"))
      .crossJoin(broadcast(side(v.where(col("vec_id") < nQueries), "q",
        packCol(col("vec")).as("qsig")))), rerankK)
    rerank(sel, v, k, "hammingTopK")
  }

  private def registerBits(spark: SparkSession): Unit = {
    graft.plans.SignPack.register(spark)
    graft.plans.Hamming.register(spark)
  }

  /** Deterministic pseudo-random hyperplanes: nt tables × nb bits, dim
    * components each, from a fixed-seed LCG (no RNG state — stable across
    * runs/executors). */
  def hyperplanes(nt: Int, nb: Int, dim: Int): Array[Array[Array[Double]]] = {
    var state = 0x5deece66dL
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Array.fill(nt, nb, dim)(next())
  }

  /** Approximate cosine top-k via random-hyperplane LSH: each vector
    * hashes into one bucket per table (nt tables × nb bits); queries meet
    * candidates on an equi-join on the bucket, so the corpus is compared
    * only inside matching buckets. Recall < 1 by construction (verified
    * ≥ threshold in tests against the exact baseline).
    */
  def annTopK(emb: DataFrame, nQueries: Int, k: Int,
              tables: Int = 8, bits: Int = 8): DataFrame = {
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    // ALL table buckets in one fused native expression: the former
    // 64-node when(graft_dot(lit, vec) > 0) tree was semantically
    // identical but fell out of whole-stage codegen at that size and
    // evaluated interpreted — 56 of the query's 57 s at the sf10 bench
    // were bucket computation. graft_lsh_buckets walks the plane matrix
    // (attached once as a reference object) in one primitive loop,
    // bit-identical (same accumulation order, strict > 0, null/mismatch
    // sets no bit), so the DuckDB LCG-replay oracle is unaffected.
    val planesLit = typedLit(hyperplanes(tables, bits, dim)
      .map(_.map(_.toSeq).toSeq).toSeq)
    // whole-null vectors are excluded from LSH EXPLICITLY (visible in
    // the plan as a filter) rather than via graft_lsh_buckets' null →
    // NULL-array → explode-drop semantics — same rows out, but the
    // contract no longer hides in expression null propagation (r10
    // ADVICE); the oracle side has no null vectors by data contract
    val v = vectors(emb).where(col("vec").isNotNull)
    val b = v.withColumn("bucket", explode(graft.plans.LshBuckets
      .bucketsCol(emb.sparkSession, planesLit, col("vec"))))
    // candidate DEDUP runs on the id pair only — distinct over the full
    // vectors would shuffle every embedding once per colliding bucket;
    // vectors re-attach afterwards by id from the PRE-explosion frame
    // (one copy per vector, no distinct needed; q side is small ⇒
    // broadcast).
    val candidateIds = b.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
      .join(b.where(col("vec_id") >= nQueries)
        .select(col("vec_id").as("neighbor_id"), col("bucket")), Seq("bucket"))
      .select("query_id", "neighbor_id").distinct()
    exactRank(candidateIds.join(side(v, "c"), Seq("neighbor_id"))
      .join(broadcast(side(v.where(col("vec_id") < nQueries), "q")),
        Seq("query_id")), k)
  }

  /** (list_id, centroid vector, c·c) with c·c the same sequential fold
    * the Column-side dot uses. */
  private def withNorm(cents: Seq[(Int, Array[Double])]): Seq[Cent] =
    cents.map { case (id, c) =>
      var cc = 0.0; var i = 0
      while (i < c.length) { cc += c(i) * c(i); i += 1 }
      (id, c, cc)
    }

  /** Per-centroid (d2, list_id) struct ARRAY over the `vec` column, as
    * one fused native expression (graft_centroid_scores).
    * The former form — an `array()` of one broadcast-literal struct per
    * centroid — produced identical values but stopped compiling once
    * the auto-sized quantizer reached 1024 lists (Janino
    * InternalCompilerException at the sf100 probe → silent interpreted
    * fallback for the whole stage). d2 = v·v + c·c − 2·(v·c), all
    * ordered folds, v·v recomputed inside the expression with the same
    * fold the old `vv` column used — bit-identical structs, so the
    * array_min/array_sort consumers and the DuckDB Lloyd-replay
    * oracles are untouched. */
  private def scoresCol(spark: SparkSession, cents: Seq[Cent]): Column =
    graft.plans.CentroidScores.scoresCol(spark,
      typedLit(cents.map(_._2.toSeq)), typedLit(cents.map(_._1)), col("vec"))

  /** Nearest-centroid id (argmin over the (d2, id) structs, ties to the
    * smaller list_id) as a single codegen'd expression. */
  private def argminCol(spark: SparkSession, cents: Seq[Cent]): Column =
    array_min(scoresCol(spark, cents)).getField("id")

  /** The component sum every centroid mean is built from: each x
    * integerized as `floor(x·1e8 + 0.5)` (both engines evaluate this
    * identically on doubles — the quantizeInt8 parity trick) and summed
    * exactly as DECIMAL(38,0). A double SUM depends on accumulation
    * order; this one does not, so means are bit-identical on any engine
    * at any parallelism. */
  private def exactSum(x: Column): Column =
    sum(floor(x * lit(1e8) + lit(0.5)).cast(DecimalType(38, 0)))

  /** Per-(keys, pos) means `c` of posexploded (keys…, pos, x) rows: one
    * aggregate with map-side combine over [[exactSum]], the mean
    * reconstructed as s / 1e8 / count. */
  private def means(rows: DataFrame, keys: String*): DataFrame =
    rows.groupBy((keys :+ "pos").map(col): _*)
      .agg(exactSum(col("x")).as("s"), count(lit(1)).as("cnt"))
      .select(keys.map(col) :+ col("pos") :+
        (col("s").cast("double") / lit(1e8) / col("cnt")).as("c"): _*)

  /** The quantizer fit sample: rows with `portableBucket(vec_id, seed=7)
    * · n < fitRows · 10000`, fitRows = max(maxFitRows, 4·nLists) — a
    * pure-function-of-id thinning to ~fitRows rows (everything when
    * n ≤ fitRows), the [[Sampling.stratifiedByHash]] contract. A coarse
    * quantizer is statistically saturated by a few thousand points; the
    * cap makes training metadata-scale instead of maxIter full-corpus
    * passes. The 4·nLists floor keeps the init fed past maxFitRows/4
    * lists (init takes the first nLists sample rows; k-means needs a
    * few points per cluster to move the means at all); the oracles
    * spell it `greatest(maxFitRows, 4*nl)`. */
  private def fitSample(v: DataFrame, n: Long, nLists: Int,
                        maxFitRows: Long): DataFrame =
    v.where(Sampling.portableBucket(col("vec_id"), 7) * lit(n) <
      lit(math.max(maxFitRows, 4L * nLists) * 10000L))

  /** Coarse-quantizer list count for an `n`-vector corpus: n/1024
    * clamped to [16, cap]. A FIXED nLists is quadratic at scale —
    * within-cluster pair work is n²/nLists, so 10× data at constant
    * lists is 100× pairs (the r9 sf10 bench measured semdedup 16× and
    * IVF ~10× for 10× data); growing lists with the corpus (the
    * SemDeDup paper runs ~100k clusters over LAION) holds cluster
    * size — and with it the quadratic term and per-probe candidate
    * count — constant. Integer-only so the DuckDB oracle reproduces
    * it: `greatest(16, least(cap, n // 1024))`.
    *
    * The flat cap, 16384: past 4096 lists the corpus assignment routes
    * through the child-table shape ([[assignLists]]), the fit sample
    * scales with the list count ([[fitSample]]), and only the FIT-round
    * argmin still carries the k-row literal matrix (≤ 8 MB at the cap,
    * over the ≤ 4·k-row sample — metadata scale). At 16384 the cap next
    * binds at ~16M vectors/partition-box; beyond it [[superQuantizer]]'s
    * driver Lloyd (O(k·√k·d) ≈ 134 MFLOP at the cap) and the fit-round
    * literal are the limits, which [[treeFit]] lifts: it has no k-sized
    * literal and never collects children to the driver, so it sizes
    * with cap 2²⁴ (binding at ~17B vectors). */
  def autoNLists(n: Long, cap: Long = 16384L): Int =
    math.max(16L, math.min(cap, n / 1024L)).toInt

  /** The deterministic fixed-iteration Lloyd coarse-quantizer fit — the
    * flat fit of [[ivfTopK]], [[buildIvfIndex]] and [[semDedupSurvivors]],
    * and the super level of [[treeFit]]. Layout-independent and
    * engine-reproducible, so the DuckDB oracle replays it
    * bit-for-bit (`LlmQueries.lloydOracleCtes`):
    *  - fit sample: [[fitSample]].
    *  - init: the nLists sample rows with smallest
    *    `(portableBucket(vec_id, 17), vec_id)` — a deterministic
    *    hash-spread pick, numbered in that order.
    *  - `iters` Lloyd rounds over the sample: assignment evaluates the
    *    argmin over BROADCAST centroid literals inside codegen (no
    *    explode, no shuffle, no per-row UDF); the mean recompute is
    *    [[means]]' one (list, pos)-keyed aggregate. Only k·dim centroid
    *    rows ever reach the driver. An emptied list drops out of the
    *    quantizer (k shrinks) — deterministic on both engines.
    *
    * `v` must carry (vec_id, vec, vv); nLists ≤ 0 auto-sizes to the
    * corpus ([[autoNLists]]), `nRows` (when ≥ 0) is the known corpus
    * count. Returns (list_id, centroid, c·c) sorted by list_id.
    */
  def lloydFit(v: DataFrame, nLists: Int, iters: Int,
               maxFitRows: Long, nRows: Long = -1L): Seq[Cent] = {
    val n = if (nRows >= 0L) nRows else v.count()
    val nl = if (nLists > 0) nLists else autoNLists(n)
    val fit = fitSample(v, n, nl, maxFitRows)
      .localCheckpoint() // ≤ ~fitRows rows; reused every Lloyd round

    val init: Seq[(Int, Array[Double])] = fit
      .withColumn("pb", Sampling.portableBucket(col("vec_id"), 17))
      .orderBy("pb", "vec_id").limit(nl)
      .select("pb", "vec_id", "vec").collect().toSeq
      .sortBy(r => (r.getLong(0), r.getLong(1))) // driver re-sort: collect order is not contractual
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](2).toArray) }

    (1 to iters).foldLeft(withNorm(init)) { case (c, _) =>
      val rows = means(fit.withColumn("list_id", argminCol(v.sparkSession, c))
          .select(col("list_id"), posexplode(col("vec")).as(Seq("pos", "x"))),
        "list_id").collect()
      withNorm(rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map {
        case (id, rs) =>
          (id, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
      })
    }
  }

  /** Smallest s ≥ 1 with s² ≥ k — the super-centroid count of the
    * two-level quantizer. Integer-only (no FP sqrt whose boundary
    * rounding could diverge between engines): DuckDB replays it as
    * `(SELECT MIN(s) FROM range(1, 130) r(s) WHERE s*s >= k)`. */
  def superCount(k: Int): Int = {
    require(k >= 1, s"superCount needs k >= 1, got $k")
    Iterator.from(1).find(s => s.toLong * s >= k).get
  }

  /** Driver-side portable bucket (the [[Sampling.portableBucket]]
    * arithmetic on a plain Long) — used by [[superQuantizer]]'s init
    * pick, which runs over ≤ 16384 child centroids on the driver. */
  private def portableBucketLocal(id: Long, seed: Int): Long = {
    val P = 2147483647L
    val x = (id + seed.toLong * 1103515245L) % P
    val h = x * 48271L % P
    (h ^ (h >> 16)) % 10000L
  }

  /** Second-level (super) quantizer over the k child centroids of a
    * [[lloydFit]]: a driver-side deterministic Lloyd with the SAME
    * arithmetic contract as the distributed fit — init = the
    * [[superCount]]`(k)` children with smallest
    * `(portableBucket(list_id, 17), list_id)`, numbered in that order;
    * each round assigns children by `argmin (c·c + s·s) − 2·(c·s)`
    * (ordered folds, ties to the smaller super id) and recomputes
    * means through the integerized `floor(x·1e8 + 0.5)` exact-sum path
    * (Long here ≡ DECIMAL(38,0) in SQL — k ≤ 16384 children keeps the
    * sum far under 2⁵³, so the Double reconstruction is exact on both
    * engines); an emptied super drops out. Pure driver arithmetic over
    * ≤ 16384 points — metadata-scale at any corpus size — and
    * bit-replayable by the oracle's `hinit…hcent2` CTE chain.
    *
    * Returns (supers sorted by super id, child list_id → super id map
    * from a final argmin over the fitted supers).
    */
  private[graft] def superQuantizer(cents: Seq[Cent],
      iters: Int): (Seq[Cent], Map[Int, Int]) = {
    val children = cents.sortBy(_._1)
    val ns = superCount(children.size)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // strict < over the id-sorted supers ⇒ ties to the smaller super id
    def argmin(v: Array[Double], vv: Double, sup: Seq[Cent]): Int = {
      var best = -1; var bd = 0.0
      sup.foreach { case (sid, sv, sc) =>
        if (sv.length == v.length) {
          val d2 = (vv + sc) - (2.0 * dot(v, sv))
          if (best < 0 || d2 < bd) { best = sid; bd = d2 }
        }
      }
      best
    }
    val init: Seq[Cent] = children
      .sortBy { case (cid, _, _) => (portableBucketLocal(cid, 17), cid) }
      .take(ns).zipWithIndex
      .map { case ((_, v, cc), i) => (i, v, cc) }
    val fin = (1 to iters).foldLeft(init) { case (sup, _) =>
      children.map { case (_, v, cc) => (argmin(v, cc, sup), v) }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (sid, vs) =>
          val dim = vs.head._2.length
          val mean = Array.tabulate(dim) { p =>
            var s = 0L
            vs.foreach { case (_, v) => s += math.floor(v(p) * 1e8 + 0.5).toLong }
            s.toDouble / 1e8 / vs.size
          }
          var sc = 0.0; var i = 0
          while (i < dim) { sc += mean(i) * mean(i); i += 1 }
          (sid, mean, sc)
        }
    }
    (fin, children.map { case (cid, v, cc) => cid -> argmin(v, cc, fin) }.toMap)
  }

  /** Hierarchical full-corpus assignment column: nearest super centroid
    * first, then nearest child within that branch only — O(√k + k/√k)
    * ≈ O(√k) centroid scores per vector instead of the flat argmin's
    * O(k). With [[autoNLists]] growing k ∝ n, the flat assignment made
    * the whole operator quadratic-in-n (the r10 sf100 probes measured
    * 365 s / 348 s of pure assignment at 2M vectors × 1024 lists);
    * two-level drops it to O(n·√k·d) while the per-list candidate work
    * stays constant. Assignment is approximate in the usual IVF sense
    * (a vector near a branch boundary may land in a neighboring list —
    * recall, not determinism: both levels are exact argmin arithmetic
    * the DuckDB oracle replays bit-for-bit). Supers that end up with
    * zero children are excluded so every vector always lands in a
    * populated branch.
    */
  private[graft] def hierArgminCol(v: DataFrame, cents: Seq[Cent],
                                   iters: Int): Column = {
    val (sup, branchOf) = superQuantizer(cents, iters)
    val children = cents.sortBy(_._1)
    val byBranch = sup.map(_._1)
      .map(sid => sid -> children.filter(c => branchOf(c._1) == sid))
      .filter(_._2.nonEmpty)
    val cfg = (
      byBranch.map { case (sid, _) => sup.find(_._1 == sid).get._2.toSeq },
      byBranch.flatMap(_._2.map(_._2.toSeq)),
      byBranch.flatMap(_._2.map(_._1)),
      byBranch.scanLeft(0)((acc, b) => acc + b._2.size))
    graft.plans.HierArgmin.argminCol(v.sparkSession, typedLit(cfg), col("vec"))
  }

  /** The flat quantizer's corpus assignment, routed by child count: at
    * ≤ literalCap children the fused literal [[hierArgminCol]] (zero
    * joins, pure codegen — the child matrix rides the expression as a
    * reference object, ~0.5 KB/child, so 4096 is ~2 MB of task binary,
    * measured materially faster than the join shape: sf100 semdedup at
    * k=1953 read 206–355 s via the table path vs 165 s-class literal);
    * past it the same two-level hierarchy as a [[TreeQuantizer]] over a
    * child TABLE ([[childTree]]) and [[treeAssign]]'s broadcast join,
    * whose reference objects stay √k-sized at any k. Both routes return
    * `v`'s columns plus list_id, bit-identically (HierQuantizerSpec).
    *
    * Null contract, route-independent (r12, pinned in
    * HierQuantizerSpec): a null vector or null element gets no
    * assignment and the row DROPS — enforced HERE by the vv filter (vv
    * is null exactly when the vector is null or carries a null element,
    * so the guard costs no extra pass). Without it the routes diverged
    * on null-bearing data depending on corpus size: the literal path
    * emitted a null list_id while the table path's min_by over a null
    * d2 ASSIGNED the row to an arbitrary list (struct ordering places
    * nulls first). */
  private[graft] def assignLists(v: DataFrame, cents: Seq[Cent], iters: Int,
                                 literalCap: Int = 4096): DataFrame = {
    val clean = v.where(col("vv").isNotNull)
    if (cents.size <= literalCap)
      clean.withColumn("list_id", hierArgminCol(clean, cents, iters))
        .where(col("list_id").isNotNull)
    else childTree(cents, iters, v.sparkSession).assign(clean)
  }

  /** The flat fit's two-level hierarchy as a [[TreeQuantizer]]: the
    * populated supers of [[superQuantizer]] over a child table
    * (super_id, list_id, cvec, cc) built from the flat children. */
  private def childTree(cents: Seq[Cent], iters: Int,
                        spark: SparkSession): TreeQuantizer = {
    import spark.implicits._
    val (sup, branchOf) = superQuantizer(cents, iters)
    val populated = branchOf.values.toSet
    TreeQuantizer(sup.filter(s => populated.contains(s._1)),
      cents.sortBy(_._1)
        .map { case (cid, cv, cc) => (branchOf(cid), cid, cv.toSeq, cc) }
        .toDF("super_id", "list_id", "cvec", "cc"),
      cents.size)
  }

  /** Third-level (tree) quantizer fit — the lever past the flat fit's
    * ~16M-vector/box cliff ([[autoNLists]]): BOTH fit stages are
    * distributed and the child centroids never exist driver-side, so no
    * step scales with k on a single machine.
    *
    *  1. SUPERS: the distributed [[lloydFit]] at
    *     s = [[superCount]](nLists) — its literal matrix is s ≤ ~√k
    *     rows (≤ 4096 at the 2²⁴ cap), never k.
    *  2. CHILDREN: a GROUPED per-super Lloyd over the [[fitSample]]
    *     at nLists. Sample rows are assigned to their nearest super once
    *     (literal s-argmin, ties to the smaller super id); per super,
    *     the `cq = ⌈nLists/ns⌉` rows with smallest
    *     (portableBucket(vec_id, 17), vec_id) seed that branch's
    *     children (hash-spread init, numbered 0..cq-1 in that order —
    *     the [[lloydFit]] init rule per group); each round re-assigns
    *     every sample row to the nearest child OF ITS OWN SUPER
    *     (broadcast child-table join on super_id + narrow-row min_by,
    *     ties to the smaller child) and recomputes [[means]]. An emptied
    *     child drops out; a super with no sample rows has no children
    *     and is excluded from corpus routing (its vectors go to the
    *     nearest POPULATED super). Every step is deterministic pure
    *     arithmetic a DuckDB oracle replays bit-for-bit.
    *
    * Flat ids: `list_id = super_id · cq + child_idx` — collision-free
    * by construction (child_idx < cq), integer-only, no extra pass.
    * nLists ≤ 0 auto-sizes via [[autoNLists]] at cap 2²⁴.
    *
    * Returns the populated supers (sorted by id — a driver Seq of ≤ ns
    * metadata-scale rows, the ONLY thing collected) over the child
    * table (super_id, list_id, cvec, cc) as a DataFrame. Child centroid
    * state is `localCheckpoint`ed per round so the iteration doesn't
    * recompute its predecessors (k-row table, not pair-scale, so the
    * default storage tier is fine).
    */
  private[graft] def treeFit(v: DataFrame, nLists: Int, iters: Int,
      maxFitRows: Long, nRows: Long = -1L): TreeQuantizer = {
    require(iters >= 1, // round 1 also flushes any null-super init rows
      s"treeFit needs iters >= 1, got $iters")
    val spark = v.sparkSession
    val n = if (nRows >= 0L) nRows else v.count()
    val nl = if (nLists > 0) nLists else autoNLists(n, 1L << 24)
    val ns = superCount(nl)
    val cq = (nl + ns - 1) / ns

    // null-vv rows (null vector or null element) are excluded from BOTH
    // fit stages — route-independent, the assignLists null contract. The
    // super fit filter matters even under the ingest null-free contract:
    // lloydFit's init sample orders by (pb, vec_id) without looking at
    // vector content, so a sampled null row would become a null super
    // centroid and the downstream argmin over null d2 would assign rows
    // arbitrarily (the exact struct-ordering failure assignLists
    // closed). On null-free data the filter is a no-op, so the
    // q_embed_ann_ivf_tree oracle replay is unchanged.
    val supers = lloydFit(v.where(col("vv").isNotNull), ns, iters,
      maxFitRows, n)
    // LAZY checkpoints throughout the build (r18, the CC-loop
    // treatment): every frame's very next consumer runs a job over ALL
    // its partitions — c0 materializes fit, round 1's broadcast build
    // materializes c0, round r+1's broadcast build materializes round
    // r, and the populated-supers collect materializes kids — so the
    // eager form only added one standalone driver action (a full
    // scheduling barrier) per checkpoint: ~5 extra actions per build
    // at any scale. Values are unchanged: each checkpointed plan is
    // deterministic (sample filter + ordered windows), and
    // materialization timing does not enter any computed number
    // (TreeQuantizerSpec pins determinism + brute-force equality).
    val fit = fitSample(v, n, nl, maxFitRows).where(col("vv").isNotNull)
      .withColumn("super_id", argminCol(spark, supers))
      .localCheckpoint(false) // sample-scale; reused every grouped round
    val wInit = Window.partitionBy("super_id")
      .orderBy(col("pb"), col("vec_id"))
    val c0 = fit
      .withColumn("pb", Sampling.portableBucket(col("vec_id"), 17))
      .withColumn("child_idx", row_number().over(wInit) - lit(1))
      .where(col("child_idx") < cq)
      .select(col("super_id"), col("child_idx"),
        col("vec").as("cvec"), col("vv").as("cc"))

    val fin = (1 to iters).foldLeft(c0.localCheckpoint(false)) { case (c, _) =>
      // assignment rows stay NARROW (the treeAssign lesson): the
      // winning row's vector is re-attached by vec_id afterwards.
      val asg = fit.join(broadcast(c), "super_id")
        .withColumn("d2", col("vv") + col("cc") -
          lit(2.0) * dotCol(spark, col("vec"), col("cvec")))
        .select(col("vec_id"), col("super_id"), col("child_idx"), col("d2"))
        .groupBy("vec_id", "super_id")
        .agg(min_by(col("child_idx"), struct(col("d2"), col("child_idx")))
          .as("child_idx"))
      means(asg.join(fit.select("vec_id", "vec"), "vec_id")
          .select(col("super_id"), col("child_idx"),
            posexplode(col("vec")).as(Seq("pos", "x"))),
          "super_id", "child_idx")
        .groupBy("super_id", "child_idx")
        .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
          .as("pc"))
        .select(col("super_id"), col("child_idx"),
          transform(col("pc"), p => p.getField("c")).as("cvec"))
        .withColumn("cc", dotCol(spark, col("cvec"), col("cvec")))
        .localCheckpoint(false) // materialized by the next consumer's job
    }
    val kids = fin
      .withColumn("list_id",
        (col("super_id") * lit(cq) + col("child_idx")).cast("int"))
      .select("super_id", "list_id", "cvec", "cc")
      .localCheckpoint(false) // materialized by the populated collect
    val populated = kids.select("super_id").distinct()
      .collect().map(_.getInt(0)).toSet // ≤ ns rows — metadata scale
    TreeQuantizer(supers.filter(s => populated.contains(s._1)), kids, nl)
  }

  /** Corpus-side assignment against a tree: literal argmin over the
    * populated `supers`, then the nearest child of that branch via the
    * child-TABLE join + narrow-row min_by (ties (d2, list_id) through
    * the struct ordering of min_by). The child join broadcasts up to
    * 16384 lists (≤ ~8 MB of centroids) and falls back to a shuffle
    * join on super_id beyond — at 2²⁴ lists the child table is ~8 GB,
    * far past any broadcast budget, and branch sizes are hash-spread
    * ~uniform so the shuffle join has no skew cliff. Per vector: one
    * codegen'd super argmin, a join that fans out to that branch's ~√k
    * children, and a map-side-combining min_by — n·√k streamed rows,
    * but the shuffle is one row per vector (the partial min). Null
    * contract as [[assignLists]]: rows whose vv is null DROP. Returns
    * `v`'s columns plus list_id. */
  private[graft] def treeAssign(v: DataFrame, supers: Seq[Cent],
      kids: DataFrame, nLists: Int): DataFrame = {
    val clean = v.where(col("vv").isNotNull)
    val kidsJ = if (nLists <= 16384) broadcast(kids) else kids
    val asg = clean.select(col("vec_id"), col("vec"), col("vv"))
      .withColumn("super_id", argminCol(v.sparkSession, supers))
      .join(kidsJ, "super_id")
      .withColumn("d2", col("vv") + col("cc") -
        lit(2.0) * dotCol(v.sparkSession, col("vec"), col("cvec")))
      // NARROW rows into the aggregate — (long, int, double) only. An
      // array-typed grouping key (carrying vec/vv to spare the attach
      // join) forces the n·√k-row aggregate out of hash aggregation
      // into an external sort of ~600 B rows (measured 165 → 1168 s at
      // sf100); the n-sized attach join below is orders cheaper.
      .select(col("vec_id"), col("list_id"), col("d2"))
      .groupBy("vec_id")
      .agg(min_by(col("list_id"), struct(col("d2"), col("list_id")))
        .as("list_id"))
    clean.join(asg, "vec_id") // n-sized attach join, both sides one shuffle
  }

  /** A fitted IVF coarse quantizer: a k-means model that assigns each
    * vector to its nearest centroid's list, so a query scans only the
    * `nProbe` lists nearest to it — balanced by clustering where an LSH
    * bucket key is too coarse.
    *  - `assign(v)`: `v` (vec_id, vec, vv, …) plus `list_id`; rows with a
    *    null vv drop.
    *  - `probe(q, nProbe)`: each row of `q` (vec_id, vec, vv, …) once per
    *    probed list, with its `list_id`: the nProbe nearest by
    *    d2 = v·v + c·c − 2·(v·c), ties to the smaller list_id.
    */
  private[graft] sealed trait Quantizer {
    def assign(v: DataFrame): DataFrame
    def probe(q: DataFrame, nProbe: Int): DataFrame
  }

  /** The flat fit ([[lloydFit]]): k centroids on the driver. The probe
    * sorts the (d2, id) structs over ALL k and takes a bounded slice —
    * the query side is bounded (nQueries rows), so the flat O(k) scoring
    * stays metadata-scale and buys probe recall; only the corpus
    * assignment ([[assignLists]]) goes hierarchical. */
  private[graft] final case class FlatQuantizer(cents: Seq[Cent], iters: Int)
      extends Quantizer {
    def assign(v: DataFrame): DataFrame = assignLists(v, cents, iters)
    def probe(q: DataFrame, nProbe: Int): DataFrame =
      q.withColumn("p", explode(slice(
          array_sort(scoresCol(q.sparkSession, cents)), 1, nProbe)))
        .withColumn("list_id", col("p.id")).drop("p")
  }

  /** The tree fit ([[treeFit]]), or a flat fit's hierarchy past the
    * literal cap ([[childTree]]): populated supers on the driver, the
    * children as a table. The probe is a JOIN of the broadcast query side
    * against the child table — no stage carries k driver-side. */
  private[graft] final case class TreeQuantizer(supers: Seq[Cent],
      kids: DataFrame, nLists: Int) extends Quantizer {
    def assign(v: DataFrame): DataFrame = treeAssign(v, supers, kids, nLists)
    def probe(q: DataFrame, nProbe: Int): DataFrame =
      topPer(kids.crossJoin(broadcast(q)).withColumn("d2", col("vv") +
          col("cc") - lit(2.0) * dotCol(q.sparkSession, col("vec"), col("cvec"))),
        "vec_id", nProbe, col("d2"), col("list_id"))
        .select(q.columns.toSeq.map(col) :+ col("list_id"): _*)
  }

  /** IVF (inverted-file) approximate top-k with a quantizer fitted per
    * call: the flat [[lloydFit]], or with `tree` the three-level
    * [[treeFit]] (the beyond-16M-vectors fit). One full-corpus scan
    * assigns candidates; queries probe their nProbe nearest lists;
    * candidates join probes on list_id and go to the exact tail. The
    * whole operator is deterministic and layout-independent, so the
    * driver's DuckDB oracle reproduces it bit-for-bit.
    *
    * nLists ≤ 0 auto-sizes to the corpus ([[autoNLists]]): constant
    * cluster size means constant per-probe candidate work at any
    * scale. nProbe stays FIXED as lists grow — the probed fraction
    * shrinks, which is the standard IVF recall/size trade, not drift.
    * A query vector with a null vv has no answer (the null-vv drop
    * rule, as on every IVF path).
    */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int,
              nLists: Int = -1, nProbe: Int = 4, iters: Int = 2,
              maxFitRows: Long = 4096L, tree: Boolean = false): DataFrame = {
    val v = vectors(emb)
    val quant =
      if (tree) treeFit(v, nLists, iters, maxFitRows)
      else FlatQuantizer(lloydFit(v, nLists, iters, maxFitRows), iters)
    val probes = quant.probe(
      v.where(col("vec_id") < nQueries && col("vv").isNotNull), nProbe)
    val cand = quant.assign(v.where(col("vec_id") >= nQueries))
    exactRank(broadcast(side(probes, "q", col("list_id")))
      .join(side(cand, "c", col("list_id")), Seq("list_id")), k)
  }

  /** Persist an IVF index: fit the flat quantizer over the FULL
    * embedding frame and write two parquet tables under `dir` —
    * `centroids` (list_id, cvec, cc: ≤ [[autoNLists]]-cap metadata
    * rows) and the corpus postings, clustered by list_id so each
    * inverted list lands in few files and a probe-time `list_id`
    * predicate prunes row groups by min/max stats. The postings codec:
    *  - float (`postings`: vec_id, vec, vv, list_id), served by
    *    [[ivfTopKFromIndex]];
    *  - `int8` (`postings_q`: vec_id, vv, list_id, scale, q8, sig) — the
    *    serving shape where the index is the dominant stored artifact:
    *    the [[quantizeInt8]] representation plus the EXACT norm², so only
    *    the dot is approximated at serve time, and `sig`, the
    *    ⌈d/64⌉-long sign pack (~1/4 the size of q8; column pruning keeps
    *    the plain int8 serve from reading it). Full-precision vectors
    *    stay in the source table, which [[ivfTopKFromIndexInt8]] touches
    *    only for its re-rank fetch. Parquet bit-packs the small ints, so
    *    the stored postings shrink toward 1 byte/component (BASELINE.md).
    *
    * This is the index LIFECYCLE an engine needs at corpus scale: the
    * Lloyd fit + corpus assignment runs ONCE and is amortized over every
    * query batch served from the saved index.
    *
    * Commit protocol (r17): BOTH families publish through ONE
    * [[graft.io.Manifest.publishOverwriteStaged]] commit on the index
    * ROOT — a REBUILD over a live index swaps centroids + postings
    * atomically, so a serve resolving through
    * [[graft.io.Manifest.readUnder]] sees whole-old or whole-new,
    * never a quantizer from one generation scoring postings from the
    * other (the torn-index class IndexedIvfSpec pins). Superseded
    * generation files remain until [[graft.io.Manifest.vacuum]] —
    * run it after old-snapshot serves have drained.
    *
    * Everything stored is exact (IEEE doubles round-trip parquet
    * bit-for-bit; int8 codes are exact integer arithmetic), so the
    * served answers replay in DuckDB. Returns the fitted list count. */
  def buildIvfIndex(emb: DataFrame, dir: String, nLists: Int = -1,
                    iters: Int = 2, maxFitRows: Long = 4096L,
                    int8: Boolean = false): Int = {
    val spark = emb.sparkSession
    val v = vectors(emb)
    val quant = FlatQuantizer(lloydFit(v, nLists, iters, maxFitRows), iters)
    import spark.implicits._
    graft.io.Manifest.publishOverwriteStaged(spark, dir) { stage =>
      quant.cents.map { case (id, c, cc) => (id, c.toSeq, cc) }
        .toDF("list_id", "cvec", "cc")
        .coalesce(1) // metadata-scale: one footer beats 32 tiny files
        .write.parquet(s"$stage/centroids")
      val rows = quant.assign(v)
        .select(col("vec_id"), col("vec"), col("vv"), col("list_id"))
      if (int8) {
        graft.plans.SignPack.register(spark)
        rows.withColumn("scale", scaleOf(col("vec")))
          .select(col("vec_id"), col("vv"), col("list_id"), col("scale"),
            q8Of(col("vec")).as("q8"), packCol(col("vec")).as("sig"))
          .repartition(col("list_id")).write.parquet(s"$stage/postings_q")
      } else rows.repartition(col("list_id")).write.parquet(s"$stage/postings")
    }
    quant.cents.size
  }

  /** Collected centroid table of an index snapshot (metadata-scale —
    * the same ≤ cap-row driver footprint the fit had). */
  private def collectCents(df: DataFrame): Seq[Cent] =
    df.select("list_id", "cvec", "cc").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** ADVICE r16: a bounded-id `isin` only prunes row groups when the
    * set reaches parquet as a real In predicate — above the session's
    * `spark.sql.parquet.pushdown.inFilterThreshold` Spark degrades it
    * to the [min,max] range, which over scattered ids prunes NOTHING
    * and silently returns the full-corpus cold read the graft session
    * builders' threshold=1024 exists to prevent. Warn loudly when a
    * serve geometry outgrows the session's threshold, so the
    * regression is visible in the log instead of only in the bytes. */
  private[graft] def warnInOverflow(spark: SparkSession, n: Int,
                                    site: String): Boolean = {
    val thr = spark.conf
      .get("spark.sql.parquet.pushdown.inFilterThreshold", "10").toInt
    val overflow = n > thr
    if (overflow) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"$site pushes $n ids but " +
        s"spark.sql.parquet.pushdown.inFilterThreshold=$thr: the In " +
        "set degrades to a no-op [min,max] range pushdown and the " +
        "fetch scans the full corpus — raise the threshold above the " +
        "id count (BASELINE.md r16)")
    overflow
  }

  /** The probe of a saved index, shared by its serves: the collected
    * centroid table's flat probe of the bounded query side `q`, and the
    * candidate postings (`vec_id ≥ nQueries`) of the probed lists. The
    * payoff of clustering postings by list_id at build time: the probed
    * ids become a pushed `isin`, so the candidate scan prunes every
    * unprobed list's row groups by parquet min/max stats instead of
    * reading the whole corpus and filtering at the join. The id collect
    * is its own tiny job that re-runs the bounded query-side scan —
    * cheaper than a checkpoint, and it keeps the serve plan's pushed
    * filters inspectable (IndexedIvfSpec). Returns (probes, candidates).
    */
  private def probeIndex(centDf: DataFrame, post: DataFrame, q: DataFrame,
      nQueries: Int, nProbe: Int, site: String): (DataFrame, DataFrame) = {
    val probes = FlatQuantizer(collectCents(centDf), iters = 0) // unused by a probe
      .probe(q, nProbe)
    val probed = fetchIds(probes, "list_id", s"$site probed-list fetch")
    (probes, post.where(col("vec_id") >= nQueries &&
      col("list_id").isin(probed: _*)))
  }

  /** Serve IVF top-k from a float index ([[buildIvfIndex]]) — the
    * probe-only read path: [[probeIndex]] then the exact tail over the
    * probed postings. No fit, no corpus assignment, no corpus-wide
    * anything except the pruned postings scan. Queries are the index's
    * own vectors with `vec_id < nQueries` (a pushed point-lookup
    * filter); candidates are the rest — exactly [[ivfTopK]]'s split, so
    * the result is bit-identical to the fused operator on the same
    * parameters (IndexedIvfSpec pins it). The index stores only
    * INDEXABLE vectors (null-vv rows drop at build), matching the fused
    * operator's null-vv rule. */
  def ivfTopKFromIndex(spark: SparkSession, dir: String, nQueries: Int,
                       k: Int, nProbe: Int = 4): DataFrame = {
    // ONE manifest resolution for BOTH families: the quantizer and the
    // postings it scores always come from the same committed snapshot,
    // even while a concurrent (single-writer) append or rebuild is
    // mid-flight (r17 — the per-family reads could mix generations)
    val Seq(centDf, post) =
      graft.io.Manifest.readUnder(spark, dir, Seq("centroids", "postings"))
    val (probes, cand) = probeIndex(centDf, post,
      post.where(col("vec_id") < nQueries), nQueries, nProbe,
      "ivfTopKFromIndex")
    exactRank(broadcast(side(probes, "q", col("list_id")))
      .join(side(cand, "c", col("list_id")), Seq("list_id")), k)
  }

  /** Serve IVF top-k from an int8 index ([[buildIvfIndex]] with `int8`)
    * through a funnel of compressed tiers, each narrowing the candidates
    * for the next:
    *
    *  1. probe: full-precision QUERY vectors from the source frame `emb`
    *     (the index has no exact vectors) — [[probeIndex]].
    *  2. coarse (only with `coarseK` > 0): the [[hammingTier]] over the
    *     probed lists, scanning ONLY (vec_id, list_id, sig) — ~32× fewer
    *     bytes than the source floats, 4× fewer than q8; the top
    *     `coarseK` survivors' int8 payloads are then fetched by a pushed
    *     id `isin` (the probed-list `isin` rides along: postings are
    *     CLUSTERED by list_id, so list stats prune whole row groups where
    *     the hash-scattered vec_id stats cannot).
    *  3. ADC: the [[adcTier]] keeps the top `rerankK`.
    *  4. exact: the [[rerank]] fetch from the source and the exact tail.
    *
    * Parity ladder (IndexedIvfSpec pins each rung): with coarseK ≥ every
    * per-query candidate count the coarse tier passes everything through
    * (bit-identical to coarseK = 0 at the same rerankK); with rerankK
    * generous too the answer equals [[ivfTopKFromIndex]]'s. At practical
    * caps each tier's ordering is decisive. Deterministic end to end;
    * q_embed_ann_ivf_int8 and q_embed_ann_funnel replay the whole chain
    * in DuckDB. */
  def ivfTopKFromIndexInt8(spark: SparkSession, dir: String,
      emb: DataFrame, nQueries: Int, k: Int, nProbe: Int = 4,
      rerankK: Int = 64, coarseK: Int = 0): DataFrame = {
    require(rerankK >= k, s"rerankK ($rerankK) must be >= k ($k)")
    require(coarseK == 0 || coarseK >= rerankK,
      s"coarseK ($coarseK) must be 0 or >= rerankK ($rerankK)")
    val site = "ivfTopKFromIndexInt8"
    // one snapshot resolution for quantizer + postings (r17)
    val Seq(centDf, post) = graft.io.Manifest.readUnder(spark, dir,
      Seq("centroids", "postings_q"))
    val v = vectors(emb)
    val (probes, cand) = probeIndex(centDf, post,
      v.where(col("vec_id") < nQueries && col("vv").isNotNull),
      nQueries, nProbe, site)
    val q = side(probes, "q", col("list_id"))
    val adc = cand.select(col("vec_id").as("neighbor_id"), col("q8"),
      col("scale"), col("vv").as("cvv"), col("list_id"))
    val adcIn = if (coarseK == 0) broadcast(q).join(adc, Seq("list_id")) else {
      registerBits(spark)
      val survivors = hammingTier(
        broadcast(q.withColumn("qsig", packCol(col("qvec"))))
          .join(cand.select(col("vec_id").as("neighbor_id"), col("sig"),
            col("list_id")), Seq("list_id")), coarseK)
      val ids = fetchIds(survivors, "neighbor_id", s"$site ADC fetch")
      broadcast(survivors).join(
        adc.where(col("neighbor_id").isin(ids: _*)), Seq("neighbor_id"))
    }
    rerank(adcTier(adcIn, rerankK), v, k, site)
  }

  /** Incrementally append NEW vectors to a saved float index
    * ([[buildIvfIndex]]) WITHOUT a refit — the path a streaming ingest
    * chain (StreamQualityGate → index) needs at scale, where re-running
    * the Lloyd fit + full-corpus assignment per arriving batch cannot
    * ship. The SAVED quantizer (centroids parquet) assigns the new
    * vectors — `iters` must equal the build's value (default 2 both
    * places): the assignment hierarchy ([[hierArgminCol]]'s super fit)
    * is itself derived from the centroids with `iters` Lloyd rounds, so
    * a mismatch would route borderline vectors differently than the
    * build did. New postings land as additional list_id-clustered
    * parquet files under the `postings/` family, committed through the
    * index ROOT's manifest ([[graft.io.Manifest.publishAppendUnder]] —
    * the same one-snapshot root every serve resolves).
    *
    * Concurrent-reader contract (pinned by StreamIndexAppendSpec +
    * ManifestSpec): SINGLE WRITER, manifest-resolving readers. The
    * append stages its files dot-hidden, moves them in, and commits
    * ONE manifest rename — so a reader (every serve path here goes
    * through [[graft.io.Manifest.read]]) sees the pre-append snapshot
    * until the commit and the whole batch after it: BATCH-level
    * all-or-nothing visibility, the r14 verdict's torn-read class
    * closed. A pre-manifest index dir is adopted whole (recursive
    * listing, both families) on its first append; until then readers
    * fall back to the plain directory listing, whose guarantee is only
    * file-level atomicity. Concurrent WRITERS remain outside the contract —
    * serialize appends (the streaming tail's foreachBatch already
    * does); an accidental second writer fails loudly on the manifest
    * version CAS.
    *
    * Idempotency: a vec_id already present in the index is REJECTED
    * fail-fast (the keyed-MERGE dup-source-key precedent) — a
    * redelivered batch must not double-insert postings, and silently
    * skipping would hide an id-allocation bug upstream. Returns the
    * number of postings appended (null-vv rows drop, the
    * [[assignLists]] contract). */
  def appendToIvfIndex(emb: DataFrame, dir: String, iters: Int = 2): Long = {
    // same single-resolution rule as the serves: the quantizer that
    // assigns this batch and the postings the dup rail probes come
    // from ONE committed snapshot of the index root
    val Seq(centDf, postDf) = graft.io.Manifest.readUnder(emb.sparkSession,
      dir, Seq("centroids", "postings"))
    val quant = FlatQuantizer(collectCents(centDf), iters)
    val v = vectors(emb)
    val dups = postDf
      .select("vec_id")
      .join(v.select("vec_id"), "vec_id").limit(5)
      .collect().map(_.getLong(0))
    require(dups.isEmpty,
      s"appendToIvfIndex: vec_ids already indexed (re-delivery?): " +
        dups.mkString(", "))
    val rows = quant.assign(v)
      .select(col("vec_id"), col("vec"), col("vv"), col("list_id"))
      .repartition(col("list_id"))
      .localCheckpoint() // one computation feeds both the write + count
    graft.io.Manifest.publishAppendUnder(rows, dir, "postings")
    rows.count()
  }

  /** Per-vector int8 scale: max |component| (floored at 1e-30). */
  private def scaleOf(v: Column): Column =
    greatest(array_max(transform(v, x => abs(x))), lit(1e-30))

  /** int8 codes of `v` against the staged `scale` column. */
  private def q8Of(v: Column): Column =
    transform(v, x => floor(x / col("scale") * 127 + lit(0.5)).cast("int"))

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max |component|, q_i = floor(v_i / scale · 127 + 0.5) ∈
    * [-127, 127] — the 4× storage/bandwidth reduction step for an
    * embedding table at corpus scale. Pure column expressions (no UDF,
    * codegen'd); `floor(x + 0.5)` instead of ROUND because both engines
    * evaluate it identically on doubles (ROUND half-even/half-up
    * differences are the repo's known parity hazard). Dequantized error
    * is bounded by scale/254 per component (QuantizeSpec).
    *
    * Evaluation shape (r12): the double cast and the scale are STAGED
    * through their own projections so the quantizing lambda reads
    * `scale` as a per-row attribute. Inlining `scale` into the lambda
    * (the original one-select form) made the interpreted HOF re-derive
    * the O(d) array_max — plus its transform's fresh abs-array
    * allocation — PER ELEMENT, turning a linear map pass into O(d²)
    * work and d array allocations per row (sf100 A/B in BASELINE.md).
    * CollapseProject cannot undo the staging: `scale` is an expensive
    * alias consumed twice downstream. The int8 index codec
    * ([[buildIvfIndex]]) stages it the same way. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), scaleOf(col("v")).as("scale"))
      .select(col("vec_id"), col("scale"), q8Of(col("v")).as("qvec"))
  }

  /** Per-label centroids — the distributed mean-vector step of k-means /
    * IVF training and of class-prototype computation, shaped for corpus
    * scale: posexplode to (label, pos, v) and aggregate per (label, pos)
    * with map-side partial aggregation — one shuffle whose key
    * cardinality is labels × dims, never a per-group collect.
    *
    * Exact cross-engine determinism through [[exactSum]], the mean
    * reconstructed with a fixed division order (s / n_vecs / 1e8).
    * Returns (label, pos, centroid, n_vecs) — scalar rows, not an array
    * column, so any engine can sort/hash the output.
    */
  def centroidsByLabel(emb: DataFrame): DataFrame =
    emb.select(col("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(exactSum(col("v")).as("s"), count(lit(1)).as("n_vecs"))
      .select(col("label"), col("pos"),
        (col("s").cast("double") / col("n_vecs") / lit(1e8)).as("centroid"),
        col("n_vecs"))

  /** All pairs vec_a < vec_b of `v` (vec_id, vec, vv, key) with equal
    * `key`, with their exact cosine `cos` (compared UNROUNDED
    * downstream — both engines build the identical double from ordered
    * folds). The join key carries a SALT (a-side by id, b-side
    * replicated ×salts) so one key's quadratic pair work spreads over
    * `salts` tasks instead of one — without it parallelism caps at the
    * key count (AQE even coalesces the small INPUT to one task while
    * the OUTPUT is the quadratic part). Every (a, b) pair still meets
    * exactly once: b replicates to all salts, a picks one. The salt is
    * a SCRAMBLED id (murmur3), not the raw id mod salts: strided id
    * allocation (all-even ids, block-allocated ranges) would skew raw
    * residues and re-concentrate the quadratic work the salt exists to
    * spread; correctness never depends on the salt value. */
  private def saltedPairs(v: DataFrame, key: String, salts: Int): DataFrame = {
    def half(s: String): DataFrame = v.select(col("vec_id").as(s"vec_$s"),
      col("vec").as(s"v$s"), sqrt(col("vv")).as(s"n$s"), col(key))
    half("a").withColumn("_salt", pmod(hash(col("vec_a")), lit(salts)).cast("int"))
      .join(half("b").withColumn("_salt", explode(lit((0 until salts).toArray))),
        Seq(key, "_salt"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cos", dotCol(v.sparkSession, col("va"), col("vb")) /
        (col("na") * col("nb")))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with the SAME
    * deterministic flat quantizer as [[ivfTopK]], compare pairs
    * only WITHIN a cluster, and prune every vector that has a
    * near-duplicate (cos ≥ threshold) with a smaller `vec_id` in its
    * cluster — the smallest id of each near-dup group survives as its
    * representative. Returns the survivors as (vec_id, list_id).
    *
    * Scale shape: the pair comparison is an equi-join on `list_id`
    * ([[saltedPairs]]), never a cross product, so per-cluster work is
    * (n/nLists)² — `nLists` ≤ 0 auto-sizes with n ([[autoNLists]]) to
    * keep cluster sizes, and therefore the quadratic term, bounded; the
    * quantizer fit itself stays metadata-scale via the portable-hash
    * sample cap. Like the quantizer, the whole operator is
    * deterministic pure arithmetic — "approximate" means near-dups
    * straddling a cluster boundary are missed, not that two runs
    * disagree — so a DuckDB oracle replays it exactly.
    */
  def semDedupSurvivors(emb: DataFrame, threshold: Double,
                        nLists: Int = -1, iters: Int = 2,
                        maxFitRows: Long = 4096L, salts: Int = 8): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val v = vectors(emb)
    // the assignment is materialized ONCE (localCheckpoint, the
    // duplicateClusters precedent): its three consumers (both self-join
    // sides + the anti-join left) would each re-execute the full-corpus
    // two-level assignment. One corpus-sized write is the price; at
    // real scale it replaces three full scan+assign passes.
    val asg = FlatQuantizer(lloydFit(v, nLists, iters, maxFitRows), iters)
      .assign(v).localCheckpoint()
    val pruned = saltedPairs(asg, "list_id", salts)
      .where(col("cos") >= threshold)
      .select(col("vec_b").as("vec_id")).distinct() // ids-only through the distinct
    asg.join(pruned, Seq("vec_id"), "left_anti").select("vec_id", "list_id")
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ threshold), blocked on
    * equal `label` — the deterministic blocking key that keeps this off
    * the full cross product (the LSH buckets of [[annTopK]] serve the
    * same role when no label exists). Exact all-pairs within each block,
    * so inherently quadratic per block — the sf1.0 bench measured it
    * superlinear (pairs grow with block²); the 100 TB paths are
    * [[semDedupSurvivors]] / LSH, which bound block sizes. What IS
    * fixable at this exactness level is parallelism: [[saltedPairs]]
    * spreads the quadratic work over salts × labels tasks instead of
    * capping at the handful of labels. Returns (vec_a, vec_b, cos6),
    * cos6 = cos rounded to 6 places.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
                         salts: Int = 8): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    saltedPairs(vectors(emb, "label"), "label", salts)
      .withColumn("cos6", round(col("cos"), 6))
      .where(col("cos6") >= threshold)
      .select("vec_a", "vec_b", "cos6")
  }
}
