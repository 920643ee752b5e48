package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the usual ANN playbook:
  *  - [[exactTopK]] — brute-force cosine against a SMALL broadcast query
  *    set. O(queries × corpus) but one scan, no shuffle of the corpus,
  *    ranking via a per-query window. The correctness baseline.
  *  - [[annTopK]] — random-hyperplane LSH: each vector hashes into one
  *    bucket per table (nt tables × nb bits); queries join candidates on
  *    (table, bucket), so the corpus is only compared inside matching
  *    buckets. The 100 TB path: bucket join is an equi-join Catalyst
  *    shuffles on the bucket key; per-bucket candidate lists stay small.
  *
  * All arithmetic in double (cast from float once) — deterministic and
  * identical to the DuckDB oracle's double evaluation.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays, composed from
    * built-in higher-order functions. Session-free but interpreted
    * (HOFs are CodegenFallback) — the hot paths below use the native
    * codegen'd [[graft.plans.DotProduct]] instead, which accumulates in
    * the identical left-to-right order (bit-equal results). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact cosine top-k: for every vector with `vec_id < nQueries`, the k
    * nearest among the rest. Returns (query_id, rank, neighbor_id).
    *
    * Norms are materialized once per side BEFORE the join — recomputing
    * sqrt(dot(v,v)) per candidate pair would multiply the dominant cost
    * by (k+2)/3. Numerically identical (same doubles, computed once).
    */
  def exactTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val ndot = graft.plans.DotProduct.dotCol(emb.sparkSession, _: Column, _: Column)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("nrm", sqrt(ndot(col("vec"), col("vec"))))
    val q = v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"))
    val c = v.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("vec").as("cvec"),
        col("nrm").as("cnrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    c.crossJoin(broadcast(q))
      .withColumn("cos",
        ndot(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** 1-bit ANN: coarse Hamming scan over packed sign signatures
    * ([[graft.plans.SignPack]]) + exact cosine re-rank of the top
    * `rerankK`. Same output shape and determinism contract as
    * [[exactTopK]] (approximate in RECALL only — every step is
    * deterministic, so the DuckDB oracle replays it fully; the pack is
    * an implementation detail the oracle replays as its definition,
    * sign-disagreement count ≡ popcount(xor)).
    *
    * The 100 TB shape: the corpus-sized scan reads ⌈d/64⌉ longs per
    * vector (64× smaller than the float64 work of [[exactTopK]], 32×
    * smaller than the stored float32 column) and scores d/64
    * xor+popcount word ops per pair; the bounded query side broadcasts;
    * the coarse rank ≤ rerankK filter is a WindowGroupLimit (map-side
    * partial top-k before the narrow (query_id, neighbor_id, ham)
    * stream shuffles); full-precision vectors are touched only for the
    * nQueries·rerankK re-rank fetch, whose collected id list pushes
    * into the fetch scan as an `isin` (the [[ivfTopKFromIndexInt8]]
    * rerank precedent — driver-scale, documented). */
  def hammingTopK(emb: DataFrame, nQueries: Int, k: Int,
                  rerankK: Int = 48): DataFrame = {
    require(rerankK >= k, s"rerankK ($rerankK) must be >= k ($k)")
    val spark = emb.sparkSession
    graft.plans.SignPack.register(spark)
    graft.plans.Hamming.register(spark)
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    val sigs = emb.select(col("vec_id"),
      graft.plans.SignPack.packCol(asDouble(col("embedding"))).as("sig"))
    val q = sigs.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    val c = sigs.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("sig").as("csig"))
    val wCoarse = Window.partitionBy("query_id")
      .orderBy(asc("ham"), asc("neighbor_id"))
    // tiny (nQueries·rerankK rows); staged because two consumers (the
    // id collect + the re-rank join) must not re-run the coarse scan
    val cand = c.crossJoin(broadcast(q))
      .withColumn("ham", graft.plans.Hamming.distCol(col("qsig"), col("csig")))
      .withColumn("crank", row_number().over(wCoarse))
      .where(col("crank") <= rerankK)
      .select("query_id", "neighbor_id")
      .localCheckpoint()
    val candIds = cand.select("neighbor_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("nrm", sqrt(ndot(col("vec"), col("vec"))))
    val qv = v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"))
    val cv = v.where(col("vec_id").isin(candIds: _*))
      .select(col("vec_id").as("neighbor_id"), col("vec").as("cvec"),
        col("nrm").as("cnrm"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    cand.join(broadcast(cv), "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("cos",
        ndot(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
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

  /** LSH bucket ids (one per table) for a double vector. */
  def bucketIds(planes: Array[Array[Array[Double]]])(vec: Seq[Double]): Seq[Long] =
    planes.indices.map { t =>
      var bucket = 0L
      var b = 0
      while (b < planes(t).length) {
        val p = planes(t)(b)
        var s = 0.0
        var i = 0
        while (i < p.length && i < vec.length) { s += p(i) * vec(i); i += 1 }
        if (s > 0) bucket |= (1L << b)
        b += 1
      }
      (t.toLong << 32) | bucket
    }

  /** Approximate cosine top-k via random-hyperplane LSH. Same output shape
    * as [[exactTopK]]; recall < 1 by construction (verified ≥ threshold in
    * tests against the exact baseline).
    */
  def annTopK(emb: DataFrame, nQueries: Int, k: Int,
              tables: Int = 8, bits: Int = 8): DataFrame = {
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val planes = hyperplanes(tables, bits, dim)

    val ndot = graft.plans.DotProduct.dotCol(emb.sparkSession, _: Column, _: Column)
    // ALL table buckets in one fused native expression: the former
    // 64-node when(graft_dot(lit, vec) > 0) tree was semantically
    // identical but fell out of whole-stage codegen at that size and
    // evaluated interpreted — 56 of the query's 57 s at the sf10 bench
    // were bucket computation. graft_lsh_buckets walks the plane matrix
    // (attached once as a reference object) in one primitive loop,
    // bit-identical (same accumulation order, strict > 0, null/mismatch
    // sets no bit), so the DuckDB LCG-replay oracle is unaffected.
    val planesLit = typedLit(planes.map(_.map(_.toSeq).toSeq).toSeq)
    def bucketCols(vec: Column): Column =
      graft.plans.LshBuckets.bucketsCol(emb.sparkSession, planesLit, vec)
    // whole-null vectors are excluded from LSH EXPLICITLY (visible in
    // the plan as a filter) rather than via graft_lsh_buckets' null →
    // NULL-array → explode-drop semantics — same rows out, but the
    // contract no longer hides in expression null propagation (r10
    // ADVICE); the oracle side has no null vectors by data contract
    val v0 = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .where(col("vec").isNotNull)
      .withColumn("nrm", sqrt(ndot(col("vec"), col("vec"))))
    val v = v0.withColumn("bucket", explode(bucketCols(col("vec"))))
    val q = v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
    val c = v.where(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    // candidate DEDUP runs on the id pair only — distinct over the full
    // vectors would shuffle every embedding once per colliding bucket;
    // vectors re-attach afterwards by id from the PRE-explosion frame
    // (one copy per vector, no distinct needed; q side is small ⇒
    // broadcast).
    val candidateIds = q.join(c, Seq("bucket"))
      .select("query_id", "neighbor_id").distinct()
    candidateIds
      .join(v0.select(col("vec_id").as("neighbor_id"),
        col("vec").as("cvec"), col("nrm").as("cnrm")), Seq("neighbor_id"))
      .join(broadcast(v0.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("vec").as("qvec"), col("nrm").as("qnrm"))), Seq("query_id"))
      .withColumn("cos",
        ndot(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * assigns each vector to its nearest centroid's list; a query probes
    * only the `nProbe` closest lists. The classic ANN scale path when an
    * LSH bucket key is too coarse: list sizes are balanced by clustering,
    * and the probe set is an equi-join on the list id.
    *
    * The quantizer is a fixed-iteration Lloyd fit, fully deterministic
    * and layout-independent (so the driver's DuckDB oracle reproduces
    * the whole operator bit-for-bit — "approximate" means recall < 1,
    * not nondeterminism):
    *  - fit sample: rows with `portableBucket(vec_id, seed=7) · n <
    *    maxFitRows · 10000` — a pure-function-of-id thinning to
    *    ~maxFitRows rows (everything when n ≤ maxFitRows), the same
    *    contract as [[Sampling.stratifiedByHash]]. A coarse quantizer is
    *    statistically saturated by a few thousand points; the cap is what
    *    makes training metadata-scale at 100 TB instead of maxIter
    *    full-corpus passes.
    *  - init: the nLists sample rows with smallest
    *    `(portableBucket(vec_id, 17), vec_id)` — a deterministic
    *    hash-spread pick, numbered in that order.
    *  - `iters` Lloyd rounds over the sample: assignment evaluates the
    *    argmin over BROADCAST centroid literals inside codegen (an
    *    `array_min` over (d2, list_id) structs — no explode, no shuffle,
    *    no per-row UDF); the mean recompute is one (list, pos)-keyed
    *    aggregate with map-side combine whose components are integerized
    *    first (`floor(v·1e8 + 0.5)` → DECIMAL(38,0) sum — the
    *    [[centroidsByLabel]] order-independence trick), so centroids are
    *    bit-identical on any engine at any parallelism. Only k·dim
    *    centroid rows ever reach the driver. An emptied list drops out
    *    of the quantizer (k shrinks) — deterministic on both engines.
    *  - search: one full-corpus scan assigns candidates (same codegen'd
    *    argmin); queries probe their nProbe nearest lists
    *    (`slice(array_sort(...))` over the same structs); candidates
    *    join probes on list_id and rank by exact cosine within lists.
    *
    * d2 = v·v + c·c − 2·(v·c) with all dot products left-to-right
    * sequential folds ([[graft.plans.DotProduct]] ≡ DuckDB
    * `list_dot_product`), ties broken by list_id.
    */
  /** (list_id, centroid vector, c·c) with c·c the same sequential fold
    * the Column-side dot uses. */
  private def withNorm(cents: Seq[(Int, Array[Double])]): Seq[(Int, Array[Double], Double)] =
    cents.map { case (id, c) =>
      var cc = 0.0; var i = 0
      while (i < c.length) { cc += c(i) * c(i); i += 1 }
      (id, c, cc)
    }

  /** Per-centroid (d2, list_id) struct ARRAY over a frame with a `vec`
    * column, as one fused native expression (graft_centroid_scores).
    * The former form — an `array()` of one broadcast-literal struct per
    * centroid — produced identical values but stopped compiling once
    * the auto-sized quantizer reached 1024 lists (Janino
    * InternalCompilerException at the sf100 probe → silent interpreted
    * fallback for the whole stage). d2 = v·v + c·c − 2·(v·c), all
    * ordered folds, v·v recomputed inside the expression with the same
    * fold the old `vv` column used — bit-identical structs, so the
    * array_min/array_sort consumers and the DuckDB Lloyd-replay
    * oracles are untouched. */
  private def scoresCol(v: DataFrame,
      cents: Seq[(Int, Array[Double], Double)]): Column =
    graft.plans.CentroidScores.scoresCol(v.sparkSession,
      typedLit(cents.map(_._2.toSeq)), typedLit(cents.map(_._1)), col("vec"))

  /** Nearest-centroid id (argmin over the (d2, id) structs, ties to the
    * smaller list_id) as a single codegen'd expression. */
  private def argminCol(v: DataFrame,
      cents: Seq[(Int, Array[Double], Double)]): Column =
    array_min(scoresCol(v, cents)).getField("id")

  /** The deterministic fixed-iteration Lloyd coarse-quantizer fit shared
    * by [[ivfTopK]] and [[semDedupSurvivors]] — see the ivfTopK scaladoc
    * for the full contract (portable-hash fit sample, hash-spread init,
    * integerized DECIMAL(38,0) centroid means; layout-independent and
    * engine-reproducible). `v` must carry (vec_id, vec, vv). Returns
    * (list_id, centroid, c·c); an emptied list drops out (k shrinks).
    */
  /** Coarse-quantizer list count for an `n`-vector corpus: n/1024
    * clamped to [16, 16384]. A FIXED nLists is quadratic at scale —
    * within-cluster pair work is n²/nLists, so 10× data at constant
    * lists is 100× pairs (the r9 sf10 bench measured semdedup 16× and
    * IVF ~10× for 10× data); growing lists with the corpus (the
    * SemDeDup paper runs ~100k clusters over LAION) holds cluster
    * size — and with it the quadratic term and per-probe candidate
    * count — constant. Integer-only so the DuckDB oracle reproduces
    * it: `greatest(16, least(16384, n // 1024))`.
    *
    * The cap was 1024 through r10 (the task-binary bound of the FUSED
    * literal assignment, and the within-cluster pair work went
    * quadratic again past 1M vectors — semdedup's remaining 165 s at
    * the r11 sf100 probe was exactly the capped ~2k-vector clusters).
    * r11 lifts it to 16384: past 1024 lists the corpus assignment
    * routes through [[hierAssignByTable]] (broadcast child TABLE,
    * spec-pinned bit-equal to the literal path), the fit sample scales
    * with the list count ([[lloydFit]]'s `4·nLists` floor), and only
    * the FIT-round argmin still carries the k-row literal matrix
    * (≤ 8 MB at the new cap, over the ≤ 4·k-row sample — metadata
    * scale). At 16384 the cap next binds at ~16M vectors/partition-box;
    * beyond that [[superQuantizer]]'s driver Lloyd (O(k·√k·d) ≈
    * 134 MFLOP at the cap) and the fit-round literal are the levers —
    * a third quantizer level, documented in [[hierAssignByTable]]. */
  def autoNLists(n: Long): Int =
    math.max(16L, math.min(16384L, n / 1024L)).toInt

  def lloydFit(v: DataFrame, nLists: Int, iters: Int,
               maxFitRows: Long, nRows: Long = -1L): Seq[(Int, Array[Double], Double)] = {
    val n = if (nRows >= 0L) nRows else v.count()
    // The fit sample scales with the list count (floor 4·nLists): a
    // FIXED cap starves the init past maxFitRows/4 lists (init takes
    // the first nLists sample rows; k-means needs a few points per
    // cluster to move the means at all). max() keeps the small-corpus
    // arithmetic — and the sf0.01 DuckDB Lloyd replay — unchanged;
    // the oracle spells the same formula as greatest(maxFitRows, 4*nl).
    val fitRows = math.max(maxFitRows, 4L * nLists)
    val fit = v.where(
        Sampling.portableBucket(col("vec_id"), 7) * lit(n) <
          lit(fitRows * 10000L))
      .localCheckpoint() // ≤ ~maxFitRows rows; reused every Lloyd round

    val init: Seq[(Int, Array[Double])] = fit
      .withColumn("pb", Sampling.portableBucket(col("vec_id"), 17))
      .orderBy("pb", "vec_id").limit(nLists)
      .select("pb", "vec_id", "vec").collect().toSeq
      .sortBy(r => (r.getLong(0), r.getLong(1))) // driver re-sort: collect order is not contractual
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](2).toArray) }

    (1 to iters).foldLeft(withNorm(init)) { case (c, _) =>
      val rows = fit.withColumn("list_id", argminCol(fit, c))
        .select(col("list_id"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("list_id", "pos")
        .agg(sum(floor(col("x") * lit(1e8) + lit(0.5))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"),
          count(lit(1)).as("cnt"))
        .select(col("list_id"), col("pos"),
          (col("s").cast("double") / lit(1e8) / col("cnt")).as("c"))
        .collect()
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
  private[graft] def superQuantizer(cents: Seq[(Int, Array[Double], Double)],
      iters: Int): (Seq[(Int, Array[Double], Double)], Map[Int, Int]) = {
    val children = cents.sortBy(_._1)
    val ns = superCount(children.size)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // strict < over the id-sorted supers ⇒ ties to the smaller super id
    def argmin(v: Array[Double], vv: Double,
               sup: Seq[(Int, Array[Double], Double)]): Int = {
      var best = -1; var bd = 0.0
      sup.foreach { case (sid, sv, sc) =>
        if (sv.length == v.length) {
          val d2 = (vv + sc) - (2.0 * dot(v, sv))
          if (best < 0 || d2 < bd) { best = sid; bd = d2 }
        }
      }
      best
    }
    val init: Seq[(Int, Array[Double], Double)] = children
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
  private[graft] def hierArgminCol(v: DataFrame,
      cents: Seq[(Int, Array[Double], Double)], iters: Int): Column = {
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

  /** The beyond-the-literal-cap spelling of [[hierArgminCol]]: the super
    * level stays a fused literal expression (≤ √k ≤ 1024 centroids — a
    * few-hundred-KB reference object at any realistic k), but the CHILD
    * matrix becomes a broadcast-joined TABLE keyed by super_id, so the
    * child count is no longer bounded by what fits in a task binary.
    * Per vector: one codegen'd super argmin, a broadcast join that fans
    * out to that branch's ~√k children, and a map-side-combining
    * `min_by((d2, list_id))` — n·√k streamed rows, but the shuffle is
    * one row per vector (the partial min) and the rows entering the
    * aggregate are NARROW (vec_id, list_id, d2). Returns
    * (vec_id, list_id), bit-identical to [[hierArgminCol]]
    * (HierQuantizerSpec pins equality): same two-level argmin, same
    * ordered-fold d2, same
    * (d2, id) tie-break via the struct ordering of min_by. Null
    * semantics: a vector with a null element DROPS (null super_id
    * never matches the inner join) — and [[assignLists]]'s literal
    * branch filters its null list_id rows to the SAME behavior, so the
    * two routes agree on any input (r12, pinned in HierQuantizerSpec;
    * previously the literal path kept a null-list_id row and output
    * diverged by corpus size for null-bearing data).
    *
    * `v` must carry (vec_id, vec). Applicability: superQuantizer's
    * driver-side Lloyd is comfortable to k ~ 10⁴ children (≥ 10⁹-vector
    * corpora at the n/1024 sizing); beyond that the super fit itself
    * should become a distributed [[lloydFit]] — a third level.
    */
  private[graft] def hierAssignByTable(v: DataFrame,
      cents: Seq[(Int, Array[Double], Double)], iters: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    val (sup, branchOf) = superQuantizer(cents, iters)
    val populated = branchOf.values.toSet
    val supOk = sup.filter(s => populated.contains(s._1))
    val superId = array_min(graft.plans.CentroidScores.scoresCol(spark,
      typedLit(supOk.map(_._2.toSeq)), typedLit(supOk.map(_._1)),
      col("vec"))).getField("id")
    val kids = cents.sortBy(_._1)
      .map { case (cid, cv, cc) => (branchOf(cid), cid, cv.toSeq, cc) }
      .toDF("super_id", "list_id", "cvec", "cc")
    v.select(col("vec_id"), col("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
      .withColumn("super_id", superId)
      .join(broadcast(kids), "super_id")
      .withColumn("d2",
        col("vv") + col("cc") - lit(2.0) * ndot(col("vec"), col("cvec")))
      // NARROW rows into the aggregate — (long, int, double) only. An
      // earlier draft carried vec/vv in the group key to spare an
      // attach join; an array-typed grouping key forces the n·√k-row
      // aggregate out of hash aggregation into an external sort of
      // ~600 B rows (measured 165 → 1168 s at sf100). The n-sized
      // attach join in [[assignLists]] is orders cheaper.
      .select("vec_id", "list_id", "d2")
      .groupBy("vec_id")
      .agg(min_by(col("list_id"), struct(col("d2"), col("list_id")))
        .as("list_id"))
  }

  /** Corpus-side list assignment, routed by child count: at ≤ literalCap
    * children the fused literal [[hierArgminCol]] (zero joins, pure
    * codegen — the child matrix rides the expression as a reference
    * object, ~0.5 KB/child, so 4096 is ~2 MB of task binary, measured
    * materially faster than the join shape: sf100 semdedup at k=1953
    * read 206–355 s via the table path vs 165 s-class literal); past it
    * the [[hierAssignByTable]] broadcast-table shape + an n-sized
    * attach join, whose reference objects stay √k-sized at any k. `v`
    * must be exactly (vec_id, vec, vv) — both branches return those
    * columns plus list_id. Null contract, route-independent (r12,
    * pinned in HierQuantizerSpec): a null vector or null element gets
    * no assignment and the row DROPS — enforced HERE by the vv filter
    * (vv is the pre-computed self-dot, null exactly when the vector
    * is null or carries a null element, so the guard costs no extra
    * pass). Without it the routes diverged on null-bearing data
    * depending on corpus size: the literal path emitted a null
    * list_id while the table path's min_by over a null d2 ASSIGNED
    * the row to an arbitrary list (struct ordering places nulls
    * first). */
  private[graft] def assignLists(v: DataFrame,
      cents: Seq[(Int, Array[Double], Double)], iters: Int,
      literalCap: Int = 4096): DataFrame = {
    val clean = v.where(col("vv").isNotNull)
    if (cents.size <= literalCap)
      clean.withColumn("list_id", hierArgminCol(clean, cents, iters))
        .where(col("list_id").isNotNull)
    else // n-sized attach join: both sides shuffle once on vec_id
      clean.join(hierAssignByTable(clean, cents, iters), "vec_id")
  }

  /** Tree-quantizer list count — [[autoNLists]] with the cap lifted to
    * 2²⁴: the three-level fit below has no k-sized literal and never
    * collects children to the driver, so the binding constraints of the
    * two-level path (fit-round literal matrix, driver super Lloyd —
    * see [[autoNLists]]) don't apply. At n/1024 sizing the new cap
    * binds at ~17B vectors; integer-only so an oracle can replay it:
    * `greatest(16, least(16777216, n // 1024))`. */
  def autoNListsTree(n: Long): Int =
    math.max(16L, math.min(16777216L, n / 1024L)).toInt

  /** Third-level (tree) quantizer fit — the documented lever past the
    * two-level path's ~16M-vector/box cliff ([[autoNLists]],
    * [[hierAssignByTable]]): BOTH fit stages are distributed and the
    * child centroids never exist driver-side, so no step scales with k
    * on a single machine.
    *
    *  1. SUPERS: the existing distributed [[lloydFit]] at
    *     s = [[superCount]](nLists) — its literal matrix is s ≤ ~√k
    *     rows (≤ 4096 at the 2²⁴ cap), never k.
    *  2. CHILDREN: a GROUPED per-super Lloyd over the scaled fit
    *     sample (`greatest(maxFitRows, 4·nLists)` rows, seed 7 — the
    *     same sample rule as [[lloydFit]]). Sample rows are assigned
    *     to their nearest super once (literal s-argmin, ties to the
    *     smaller super id); per super, the `cq = ⌈nLists/ns⌉` rows
    *     with smallest (portableBucket(vec_id, 17), vec_id) seed that
    *     branch's children (hash-spread init, numbered 0..cq-1 in that
    *     order — the [[lloydFit]] init rule per group); each round
    *     re-assigns every sample row to the nearest child OF ITS OWN
    *     SUPER (broadcast child-table join on super_id + narrow-row
    *     min_by, ties to the smaller child) and recomputes means
    *     through the integerized `floor(x·1e8+0.5)` DECIMAL(38,0)
    *     exact-sum path. An emptied child drops out; a super with no
    *     sample rows has no children and is excluded from corpus
    *     routing (its vectors go to the nearest POPULATED super, the
    *     [[hierAssignByTable]] rule). Every step is deterministic pure
    *     arithmetic a DuckDB oracle replays bit-for-bit.
    *
    * Flat ids: `list_id = super_id · cq + child_idx` — collision-free
    * by construction (child_idx < cq), integer-only, no extra pass.
    *
    * Returns (populated supers sorted by id — a driver Seq of ≤ ns
    * metadata-scale rows, the ONLY thing collected — and the child
    * table (super_id, list_id, cvec, cc) as a DataFrame). Child
    * centroid state is `localCheckpoint`ed per round so the iteration
    * doesn't recompute its predecessors (k-row table, not pair-scale,
    * so the default storage tier is fine).
    */
  private[graft] def treeFit(v: DataFrame, nLists: Int, iters: Int,
      maxFitRows: Long, nRows: Long = -1L)
      : (Seq[(Int, Array[Double], Double)], DataFrame) = {
    require(nLists >= 1, s"treeFit needs nLists >= 1, got $nLists")
    require(iters >= 1, // round 1 also flushes any null-super init rows
      s"treeFit needs iters >= 1, got $iters")
    val spark = v.sparkSession
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    val n = if (nRows >= 0L) nRows else v.count()
    val ns = superCount(nLists)
    val cq = (nLists + ns - 1) / ns

    // null-vv rows (null vector or null element) are excluded from BOTH
    // fit stages — route-independent, the assignLists null contract. The
    // super fit filter matters even under the ingest null-free contract:
    // lloydFit's init sample orders by (pb, vec_id) without looking at
    // vector content, so a sampled null row would become a null super
    // centroid and the downstream argmin over null d2 would assign rows
    // arbitrarily (the exact struct-ordering failure assignLists:480
    // closed). On null-free data the filter is a no-op, so the
    // q_embed_ann_ivf_tree oracle replay is unchanged.
    val supers = lloydFit(v.where(col("vv").isNotNull), ns, iters,
      maxFitRows, n)
    val fitRows = math.max(maxFitRows, 4L * nLists)
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
    val fit = v.where(
        Sampling.portableBucket(col("vec_id"), 7) * lit(n) <
          lit(fitRows * 10000L) && col("vv").isNotNull)
      .withColumn("super_id", argminCol(v, supers))
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
      // assignment rows stay NARROW (the hierAssignByTable lesson):
      // the winning row's vector is re-attached by vec_id afterwards.
      val asg = fit.join(broadcast(c), "super_id")
        .withColumn("d2",
          col("vv") + col("cc") - lit(2.0) * ndot(col("vec"), col("cvec")))
        .select(col("vec_id"), col("super_id"), col("child_idx"), col("d2"))
        .groupBy("vec_id", "super_id")
        .agg(min_by(col("child_idx"), struct(col("d2"), col("child_idx")))
          .as("child_idx"))
      import org.apache.spark.sql.types.DecimalType
      asg.join(fit.select("vec_id", "vec"), "vec_id")
        .select(col("super_id"), col("child_idx"),
          posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("super_id", "child_idx", "pos")
        .agg(sum(floor(col("x") * lit(1e8) + lit(0.5))
            .cast(DecimalType(38, 0))).as("s"),
          count(lit(1)).as("cnt"))
        .select(col("super_id"), col("child_idx"), col("pos"),
          (col("s").cast("double") / lit(1e8) / col("cnt")).as("cx"))
        .groupBy("super_id", "child_idx")
        .agg(array_sort(collect_list(struct(col("pos"), col("cx"))))
          .as("pc"))
        .select(col("super_id"), col("child_idx"),
          transform(col("pc"), p => p.getField("cx")).as("cvec"))
        .withColumn("cc", ndot(col("cvec"), col("cvec")))
        .localCheckpoint(false) // materialized by the next consumer's job
    }
    val kids = fin
      .withColumn("list_id",
        (col("super_id") * lit(cq) + col("child_idx")).cast("int"))
      .select("super_id", "list_id", "cvec", "cc")
      .localCheckpoint(false) // materialized by the populated collect
    val populated = kids.select("super_id").distinct()
      .collect().map(_.getInt(0)).toSet // ≤ ns rows — metadata scale
    (supers.filter(s => populated.contains(s._1)), kids)
  }

  /** Corpus-side assignment against a [[treeFit]]: literal argmin over
    * the ≤ ns populated supers, then the nearest child of that branch
    * via the child-TABLE join + narrow-row min_by — the
    * [[hierAssignByTable]] shape, except the children arrive as a
    * DataFrame that never existed driver-side. The child join
    * broadcasts below [[autoNLists]]'s 16384 (≤ ~8 MB of centroids)
    * and falls back to a shuffle join on super_id beyond — at 2²⁴
    * lists the child table is ~8 GB, far past any broadcast budget,
    * and branch sizes are hash-spread ~uniform so the shuffle join has
    * no skew cliff. Null contract as [[assignLists]]: rows whose vv is
    * null DROP. Returns (vec_id, vec, vv, list_id). */
  private[graft] def treeAssign(v: DataFrame,
      supers: Seq[(Int, Array[Double], Double)], kids: DataFrame,
      nLists: Int): DataFrame = {
    val ndot = graft.plans.DotProduct.dotCol(v.sparkSession, _: Column, _: Column)
    val clean = v.where(col("vv").isNotNull)
    val kidsJ = if (nLists <= 16384) broadcast(kids) else kids
    val asg = clean.select(col("vec_id"), col("vec"), col("vv"))
      .withColumn("super_id", argminCol(clean, supers))
      .join(kidsJ, "super_id")
      .withColumn("d2",
        col("vv") + col("cc") - lit(2.0) * ndot(col("vec"), col("cvec")))
      .select(col("vec_id"), col("list_id"), col("d2"))
      .groupBy("vec_id")
      .agg(min_by(col("list_id"), struct(col("d2"), col("list_id")))
        .as("list_id"))
    clean.join(asg, "vec_id") // n-sized attach join, both sides one shuffle
  }

  /** [[ivfTopK]] routed through the three-level [[treeFit]] — the
    * beyond-16M-vectors spelling. Same probe semantics (the nProbe
    * nearest child lists among ALL children per query, ties
    * (d2, list_id)) and the same candidate/rank tail, but the probe
    * scoring is a JOIN against the child table (query side broadcast —
    * nQueries rows) instead of a k-row literal, so no stage carries k
    * driver-side. nLists ≤ 0 auto-sizes via [[autoNListsTree]].
    * Returns (query_id, rank, neighbor_id). */
  def ivfTopKTree(emb: DataFrame, nQueries: Int, k: Int,
                  nLists: Int = -1, nProbe: Int = 4, iters: Int = 2,
                  maxFitRows: Long = 4096L): DataFrame = {
    val spark = emb.sparkSession
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val n = v.count()
    val nl = if (nLists > 0) nLists else autoNListsTree(n)
    val (supers, kids) = treeFit(v, nl, iters, maxFitRows, n)

    val q = v.where(col("vec_id") < nQueries && col("vv").isNotNull)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("vv").as("qvv"))
    val wp = Window.partitionBy("query_id")
      .orderBy(col("d2"), col("list_id"))
    val probes = kids.crossJoin(broadcast(q))
      .withColumn("d2",
        col("qvv") + col("cc") - lit(2.0) * ndot(col("qvec"), col("cvec")))
      .withColumn("pr", row_number().over(wp))
      .where(col("pr") <= nProbe)
      .select(col("query_id"), col("qvec"), col("qvv"), col("list_id"))
    val cand = treeAssign(v.where(col("vec_id") >= nQueries), supers, kids, nl)
      .select(col("vec_id").as("neighbor_id"), col("vec").as("cvec"),
        col("vv").as("cvv"), col("list_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(probes).join(cand, Seq("list_id"))
      .withColumn("cos", ndot(col("qvec"), col("cvec")) /
        (sqrt(col("qvv")) * sqrt(col("cvv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int,
              nLists: Int = -1, nProbe: Int = 4, iters: Int = 2,
              maxFitRows: Long = 4096L): DataFrame = {
    val spark = emb.sparkSession
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)

    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    // nLists <= 0 auto-sizes to the corpus ([[autoNLists]]): constant
    // cluster size means constant per-probe candidate work at any
    // scale. nProbe stays FIXED as lists grow — the probed fraction
    // shrinks, which is the standard IVF recall/size trade, not drift.
    val n = v.count()
    val nl = if (nLists > 0) nLists else autoNLists(n)
    val cents = lloydFit(v, nl, iters, maxFitRows, n)

    // nProbe nearest lists per query: sort the (d2, id) structs over ALL
    // children and take a bounded slice — the query side is bounded
    // (nQueries rows), so the flat O(k) scoring stays metadata-scale and
    // buys probe recall; only the CORPUS assignment goes hierarchical.
    val probes = v.where(col("vec_id") < nQueries)
      .withColumn("p",
        explode(slice(array_sort(scoresCol(v, cents)), 1, nProbe)))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("vv").as("qvv"), col("p.id").as("list_id"))
    val cand = assignLists(v.where(col("vec_id") >= nQueries), cents, iters)
      .select(col("vec_id").as("neighbor_id"), col("vec").as("cvec"),
        col("vv").as("cvv"), col("list_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(probes).join(cand, Seq("list_id"))
      .withColumn("cos", ndot(col("qvec"), col("cvec")) /
        (sqrt(col("qvv")) * sqrt(col("cvv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** Persist an IVF index: fit the coarse quantizer over the FULL
    * embedding frame and write two parquet tables under `dir` —
    * `centroids` (list_id, cvec, cc: ≤ [[autoNLists]]-cap metadata
    * rows) and `postings` (vec_id, vec, vv, list_id: the corpus,
    * clustered by list_id so each inverted list lands in few files and
    * a probe-time `list_id` predicate prunes row groups by min/max
    * stats). This is the index LIFECYCLE an engine needs at corpus
    * scale: the Lloyd fit + corpus assignment (the expensive part —
    * everything [[ivfTopK]] does except the probe join) runs ONCE and
    * is amortized over every query batch served from the saved index;
    * re-fitting per query batch, which is what a fused build+query
    * operator amounts to, cannot ship.
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
    * Everything stored is exact: IEEE doubles round-trip parquet
    * bit-for-bit, so an index-served query equals the in-memory
    * [[ivfTopK]] answer exactly (spec-pinned, and the registry query
    * shares q_embed_ann_ivf's full Lloyd-replay oracle). Returns the
    * fitted list count. */
  def buildIvfIndex(emb: DataFrame, dir: String, nLists: Int = -1,
                    iters: Int = 2, maxFitRows: Long = 4096L): Int = {
    val spark = emb.sparkSession
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val n = v.count()
    val nl = if (nLists > 0) nLists else autoNLists(n)
    val cents = lloydFit(v, nl, iters, maxFitRows, n)
    import spark.implicits._
    graft.io.Manifest.publishOverwriteStaged(spark, dir) { stage =>
      cents.map { case (id, c, cc) => (id, c.toSeq, cc) }
        .toDF("list_id", "cvec", "cc")
        .coalesce(1) // metadata-scale: one footer beats 32 tiny files
        .write.parquet(s"$stage/centroids")
      assignLists(v, cents, iters)
        .select(col("vec_id"), col("vec"), col("vv"), col("list_id"))
        .repartition(col("list_id"))
        .write.parquet(s"$stage/postings")
    }
    cents.size
  }

  /** Collected centroid table of an index snapshot (metadata-scale —
    * the same ≤ cap-row driver footprint the fit had). */
  private def collectCents(df: DataFrame): Seq[(Int, Array[Double], Double)] =
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

  /** Serve IVF top-k from a saved index ([[buildIvfIndex]]) — the
    * probe-only read path: collect the centroid table (metadata-scale,
    * the same ≤ cap-row driver footprint the fit already had), score
    * the bounded query side against it for its nProbe lists, and
    * equi-join probes to the postings on list_id. No fit, no corpus
    * assignment, no corpus-wide anything except the postings scan —
    * which prunes to the probed lists' row groups because the build
    * clustered postings by list_id. Queries are the index's own
    * vectors with `vec_id < nQueries` (a pushed point-lookup filter);
    * candidates are the rest — exactly [[ivfTopK]]'s split, so the
    * result is bit-identical to the fused operator on the same
    * parameters (IndexedIvfSpec pins it) — with one deliberate
    * contract narrowing: the index stores only INDEXABLE vectors
    * (null vector / null element rows drop at build, the
    * [[assignLists]] route-independent rule), so a null-bearing QUERY
    * vector is absent from an index-served answer while the fused
    * [[ivfTopK]] still scores it against probed lists with null
    * cosines. Null-free corpora — the enforced ingest contract —
    * are unaffected. */
  def ivfTopKFromIndex(spark: SparkSession, dir: String, nQueries: Int,
                       k: Int, nProbe: Int = 4): DataFrame = {
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    // ONE manifest resolution for BOTH families: the quantizer and the
    // postings it scores always come from the same committed snapshot,
    // even while a concurrent (single-writer) append or rebuild is
    // mid-flight (r17 — the per-family reads could mix generations)
    val Seq(centDf, post) =
      graft.io.Manifest.readUnder(spark, dir, Seq("centroids", "postings"))
    val cents = collectCents(centDf)
    val q = post.where(col("vec_id") < nQueries)
    val probes = q.withColumn("p",
        explode(slice(array_sort(scoresCol(q, cents)), 1, nProbe)))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("vv").as("qvv"), col("p.id").as("list_id"))
    // The payoff of clustering postings by list_id at build time: the
    // probed ids (driver-scale by the bounded-query contract) become a
    // pushed `isin` predicate, so the candidate scan prunes every
    // unprobed list's row groups by parquet min/max stats instead of
    // reading the whole corpus and filtering at the join. The id
    // collect is its own tiny job that re-runs the bounded query-side
    // scan (pushed vec_id point lookup + ≤ cap-row centroid literal) —
    // re-scanning nQueries rows is cheaper than a checkpoint and keeps
    // the serve plan's pushed filters inspectable (IndexedIvfSpec).
    val probedIds = probes.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    warnInOverflow(spark, probedIds.size, "ivfTopKFromIndex probed-list fetch")
    val cand = post.where(col("vec_id") >= nQueries &&
        col("list_id").isin(probedIds: _*))
      .select(col("vec_id").as("neighbor_id"), col("vec").as("cvec"),
        col("vv").as("cvv"), col("list_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(probes).join(cand, Seq("list_id"))
      .withColumn("cos", ndot(col("qvec"), col("cvec")) /
        (sqrt(col("qvv")) * sqrt(col("cvv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** Incrementally append NEW vectors to a saved index ([[buildIvfIndex]])
    * WITHOUT a refit — the path a streaming ingest chain
    * (StreamQualityGate → index) needs at scale, where re-running the
    * Lloyd fit + full-corpus assignment per arriving batch cannot ship.
    * The SAVED quantizer (centroids parquet) assigns the new vectors —
    * `iters` must equal the build's value (default 2 both places): the
    * assignment hierarchy ([[hierArgminCol]]'s super fit) is itself
    * derived from the centroids with `iters` Lloyd rounds, so a
    * mismatch would route borderline vectors differently than the
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
    val spark = emb.sparkSession
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    // same single-resolution rule as the serves: the quantizer that
    // assigns this batch and the postings the dup rail probes come
    // from ONE committed snapshot of the index root
    val Seq(centDf, postDf) =
      graft.io.Manifest.readUnder(spark, dir, Seq("centroids", "postings"))
    val cents = collectCents(centDf)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val dups = postDf
      .select("vec_id")
      .join(v.select("vec_id"), "vec_id").limit(5)
      .collect().map(_.getLong(0))
    require(dups.isEmpty,
      s"appendToIvfIndex: vec_ids already indexed (re-delivery?): " +
        dups.mkString(", "))
    val rows = assignLists(v, cents, iters)
      .select(col("vec_id"), col("vec"), col("vv"), col("list_id"))
      .repartition(col("list_id"))
      .localCheckpoint() // one computation feeds both the write + count
    graft.io.Manifest.publishAppendUnder(rows, dir, "postings")
    rows.count()
  }

  /** int8-compressed IVF index — the 100 TB SERVING shape, where the
    * index is the dominant stored artifact: same Lloyd fit and corpus
    * assignment as [[buildIvfIndex]], but the stored postings carry the
    * [[quantizeInt8]] representation (per-vector max-abs scale,
    * components floor(x/scale·127+0.5) ∈ [-127,127]) plus the EXACT
    * norm² (one double — so the cosine denominator at serve time is
    * exact and only the dot is approximated). Full-precision vectors
    * are NOT duplicated into the index; they stay in the source table,
    * which the serve path touches only for the top-`rerankK` re-rank
    * fetch ([[ivfTopKFromIndexInt8]]). Parquet bit-packs the small ints,
    * so the stored postings shrink roughly toward 1 byte/component
    * (measured in BASELINE.md) and the serve-time scan/shuffle moves
    * int32 instead of float64.
    *
    * Every stored value is exact integer/double arithmetic, so a
    * DuckDB oracle replays the whole build+serve chain bit-for-bit
    * (q_embed_ann_ivf_int8). Returns the fitted list count. */
  def buildIvfIndexInt8(emb: DataFrame, dir: String, nLists: Int = -1,
                        iters: Int = 2, maxFitRows: Long = 4096L): Int = {
    val spark = emb.sparkSession
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val n = v.count()
    val nl = if (nLists > 0) nLists else autoNLists(n)
    val cents = lloydFit(v, nl, iters, maxFitRows, n)
    import spark.implicits._
    // one staged root commit for BOTH families — the [[buildIvfIndex]]
    // rebuild-atomicity contract, same rationale
    graft.io.Manifest.publishOverwriteStaged(spark, dir) { stage =>
      cents.map { case (id, c, cc) => (id, c.toSeq, cc) }
        .toDF("list_id", "cvec", "cc")
        .coalesce(1)
        .write.parquet(s"$stage/centroids")
      // scale STAGED as its own projected attribute (the r12
      // interpreted-HOF rule — inlined into the quantizing lambda it
      // would re-run the O(d) array_max per element); it stays staged
      // because it is consumed twice (output column + lambda).
      // `sig` (the ⌈d/64⌉-long sign pack) rides along: ~1/4 the size of
      // q8, it is the funnel's coarse tier ([[ivfTopKFromIndexFunnel]]),
      // and parquet column pruning keeps the plain int8 serve path from
      // ever reading it.
      graft.plans.SignPack.register(spark)
      assignLists(v, cents, iters)
        .select(col("vec_id"), col("vec"), col("vv"), col("list_id"))
        .withColumn("scale",
          greatest(array_max(transform(col("vec"), x => abs(x))), lit(1e-30)))
        .select(col("vec_id"), col("vv"), col("list_id"), col("scale"),
          transform(col("vec"),
            x => floor(x / col("scale") * 127 + lit(0.5)).cast("int"))
            .as("q8"),
          graft.plans.SignPack.packCol(col("vec")).as("sig"))
        .repartition(col("list_id"))
        .write.parquet(s"$stage/postings_q")
    }
    cents.size
  }

  /** Serve IVF top-k from an int8 index ([[buildIvfIndexInt8]]) with
    * full-precision re-rank — the ADC (asymmetric distance
    * computation) serving shape:
    *
    *  1. probe: full-precision QUERY vectors (from the source frame —
    *     the index has no exact vectors) score the collected centroid
    *     table for their nProbe lists; the probed list ids push down
    *     into the postings_q scan as an `isin` ([[ivfTopKFromIndex]]'s
    *     row-group pruning).
    *  2. approximate scoring: per candidate,
    *     `ascore = scale/127 · graft_dot_id(qvec, q8) / sqrt(cvv)` —
    *     the codegen'd int×double dot ([[graft.plans.DotIntDouble]]; a
    *     zip_with/transform spelling would allocate per scored pair),
    *     dequantization folded into one scalar multiply, denominator
    *     EXACT from the stored norm² (the query's own norm is constant
    *     within a ranking and drops out). Top `rerankK` per query
    *     survive, ties (ascore desc, neighbor_id).
    *  3. re-rank: the survivors (nQueries · rerankK rows — checkpointed
    *     so stage 2 runs once) fetch their full-precision vectors from
    *     the SOURCE by a collected-id `isin` pushdown + broadcast join,
    *     and exact cosine ranks the final top-k with [[ivfTopK]]'s tie
    *     rule.
    *
    * With rerankK ≥ the per-query candidate count this is bit-identical
    * to [[ivfTopKFromIndex]] (every candidate is exactly re-scored);
    * at practical rerankK the int8 ordering decides which candidates
    * reach the exact stage — IndexedIvfSpec pins both regimes.
    * Deterministic end-to-end; q_embed_ann_ivf_int8 replays the full
    * chain in DuckDB. */
  def ivfTopKFromIndexInt8(spark: SparkSession, dir: String,
      emb: DataFrame, nQueries: Int, k: Int, nProbe: Int = 4,
      rerankK: Int = 64): DataFrame = {
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    val ndotId = graft.plans.DotIntDouble.dotIdCol(spark, _: Column, _: Column)
    // one snapshot resolution for quantizer + postings (r17)
    val Seq(centDf, postQ) = graft.io.Manifest.readUnder(spark, dir,
      Seq("centroids", "postings_q"))
    val cents = collectCents(centDf)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val q = v.where(col("vec_id") < nQueries && col("vv").isNotNull)
    val probes = q.withColumn("p",
        explode(slice(array_sort(scoresCol(q, cents)), 1, nProbe)))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("vv").as("qvv"), col("p.id").as("list_id"))
    val probedIds = probes.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    warnInOverflow(spark, probedIds.size,
      "ivfTopKFromIndexInt8 probed-list fetch")
    val cand = postQ
      .where(col("vec_id") >= nQueries &&
        col("list_id").isin(probedIds: _*))
      .select(col("vec_id").as("neighbor_id"), col("q8"), col("scale"),
        col("vv").as("cvv"), col("list_id"))
    val wA = Window.partitionBy("query_id")
      .orderBy(desc("ascore"), asc("neighbor_id"))
    val sel = broadcast(probes).join(cand, Seq("list_id"))
      .withColumn("ascore", col("scale") / 127 *
        ndotId(col("qvec"), col("q8")) / sqrt(col("cvv")))
      .withColumn("ar", row_number().over(wA))
      .where(col("ar") <= rerankK)
      .select(col("query_id"), col("qvec"), col("qvv"), col("neighbor_id"))
      .localCheckpoint() // nQueries·rerankK rows; approx stage runs once
    val rerankIds = sel.select("neighbor_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    // this isin must reach parquet as the real In SET: with Spark's
    // default inFilterThreshold (10) a >10-id In is pushed as the
    // degenerate [min,max] range, which over scattered candidate ids
    // prunes nothing — measured cold at 20M vectors as a full-corpus
    // read per serve (BASELINE.md r16: 6.7 GiB -> 2.4 GiB once the
    // session raises the threshold past nQueries·rerankK; graft.Session
    // sets 1024, and [[warnInOverflow]] flags a
    // geometry that outgrows the session's setting)
    warnInOverflow(spark, rerankIds.size, "ivfTopKFromIndexInt8 rerank fetch")
    val exact = v.where(col("vec_id").isin(rerankIds: _*))
      .select(col("vec_id").as("neighbor_id"), col("vec").as("cvec"),
        col("vv").as("cvv"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(sel).join(exact, Seq("neighbor_id"))
      .withColumn("cos", ndot(col("qvec"), col("cvec")) /
        (sqrt(col("qvv")) * sqrt(col("cvv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** Three-tier funnel serve from an int8 index ([[buildIvfIndexInt8]])
    * — the full 100 TB serving shape, composing every compression tier
    * the index stores:
    *
    *  1. coarse (1-bit): over the probed lists, scan ONLY
    *     (vec_id, list_id, sig) — the sign-pack column is ~32× smaller
    *     than the source float column and 4× smaller than q8 — and rank
    *     candidates by Hamming distance to the query's own sign pack
    *     (codegen'd popcount-of-xor, [[graft.plans.Hamming]]); top
    *     `coarseK` per query survive (ties ham asc, neighbor_id asc).
    *  2. ADC (int8): the survivors' (q8, scale, cvv) are fetched by a
    *     pushed id `isin` (nQueries·coarseK ids — driver-scale by the
    *     bounded-query contract) and approximately scored
    *     `scale/127 · graft_dot_id(qvec, q8) / sqrt(cvv)`; top
    *     `rerankK` per query survive (ties ascore desc, neighbor_id).
    *  3. exact: the [[ivfTopKFromIndexInt8]] re-rank tail — survivors
    *     fetch full-precision vectors from the SOURCE frame and exact
    *     cosine ranks the final top-k.
    *
    * Parity ladder (IndexedIvfSpec pins both rungs): with coarseK ≥
    * every per-query candidate count the coarse tier passes everything
    * through and the answer is bit-identical to [[ivfTopKFromIndexInt8]]
    * at the same rerankK; with BOTH caps generous it equals
    * [[ivfTopKFromIndex]]. At practical caps each tier's ordering is
    * decisive. Deterministic end-to-end (Hamming ≡ count of sign
    * disagreements, replayable without the packed representation), so
    * q_embed_ann_funnel replays the whole chain in DuckDB. */
  def ivfTopKFromIndexFunnel(spark: SparkSession, dir: String,
      emb: DataFrame, nQueries: Int, k: Int, nProbe: Int = 4,
      coarseK: Int = 64, rerankK: Int = 32): DataFrame = {
    require(coarseK >= rerankK,
      s"coarseK ($coarseK) must be >= rerankK ($rerankK)")
    require(rerankK >= k, s"rerankK ($rerankK) must be >= k ($k)")
    graft.plans.SignPack.register(spark)
    graft.plans.Hamming.register(spark)
    val ndot = graft.plans.DotProduct.dotCol(spark, _: Column, _: Column)
    val ndotId = graft.plans.DotIntDouble.dotIdCol(spark, _: Column, _: Column)
    // one snapshot resolution for quantizer + postings (r17)
    val Seq(centDf, post) = graft.io.Manifest.readUnder(spark, dir,
      Seq("centroids", "postings_q"))
    val cents = collectCents(centDf)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val q = v.where(col("vec_id") < nQueries && col("vv").isNotNull)
    val probes = q.withColumn("p",
        explode(slice(array_sort(scoresCol(q, cents)), 1, nProbe)))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("vv").as("qvv"),
        graft.plans.SignPack.packCol(col("vec")).as("qsig"),
        col("p.id").as("list_id"))
    val probedIds = probes.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    warnInOverflow(spark, probedIds.size,
      "ivfTopKFromIndexFunnel probed-list fetch")
    // tier 1: the corpus-sized scan touches only the sig column of the
    // probed lists' row groups (pushed isin + parquet column pruning)
    val coarse = post.where(col("vec_id") >= nQueries &&
        col("list_id").isin(probedIds: _*))
      .select(col("vec_id").as("neighbor_id"), col("sig"), col("list_id"))
    val wC = Window.partitionBy("query_id")
      .orderBy(asc("ham"), asc("neighbor_id"))
    val survivors = broadcast(probes).join(coarse, Seq("list_id"))
      .withColumn("ham", graft.plans.Hamming.distCol(col("qsig"), col("sig")))
      .withColumn("cr", row_number().over(wC))
      .where(col("cr") <= coarseK)
      .select(col("query_id"), col("qvec"), col("qvv"), col("neighbor_id"))
      .localCheckpoint() // nQueries·coarseK rows; coarse scan runs once
    // tier 2: fetch int8 payloads for the survivors only. The probed-
    // list `isin` rides along (a survivor's posting row is in a probed
    // list by construction): postings are CLUSTERED by list_id, so
    // list stats prune whole row groups where the hash-scattered
    // vec_id stats cannot — in the scan-bound regime this keeps the
    // ADC fetch at probed-lists scale instead of corpus scale.
    val survIds = survivors.select("neighbor_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    warnInOverflow(spark, survIds.size, "ivfTopKFromIndexFunnel ADC fetch")
    val adcCand = post.where(col("list_id").isin(probedIds: _*) &&
        col("vec_id").isin(survIds: _*))
      .select(col("vec_id").as("neighbor_id"), col("q8"), col("scale"),
        col("vv").as("cvv"))
    val wA = Window.partitionBy("query_id")
      .orderBy(desc("ascore"), asc("neighbor_id"))
    val sel = broadcast(survivors).join(adcCand, Seq("neighbor_id"))
      .withColumn("ascore", col("scale") / 127 *
        ndotId(col("qvec"), col("q8")) / sqrt(col("cvv")))
      .withColumn("ar", row_number().over(wA))
      .where(col("ar") <= rerankK)
      .select(col("query_id"), col("qvec"), col("qvv"), col("neighbor_id"))
      .localCheckpoint() // nQueries·rerankK rows; ADC stage runs once
    // tier 3: exact cosine over full-precision vectors from the source
    val rerankIds = sel.select("neighbor_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    // this isin must reach parquet as the real In SET: with Spark's
    // default inFilterThreshold (10) a >10-id In is pushed as the
    // degenerate [min,max] range, which over scattered candidate ids
    // prunes nothing — measured cold at 20M vectors as a full-corpus
    // read per serve (BASELINE.md r16: 6.7 GiB -> 2.4 GiB once the
    // session raises the threshold past nQueries·rerankK; graft.Session
    // sets 1024, and [[warnInOverflow]] flags a
    // geometry that outgrows the session's setting)
    warnInOverflow(spark, rerankIds.size,
      "ivfTopKFromIndexFunnel rerank fetch")
    val exact = v.where(col("vec_id").isin(rerankIds: _*))
      .select(col("vec_id").as("neighbor_id"), col("vec").as("cvec"),
        col("vv").as("cvv"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(sel).join(exact, Seq("neighbor_id"))
      .withColumn("cos", ndot(col("qvec"), col("cvec")) /
        (sqrt(col("qvv")) * sqrt(col("cvv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

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
    * alias consumed twice downstream. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        greatest(array_max(transform(col("v"), x => abs(x))), lit(1e-30))
          .as("scale"))
      .select(col("vec_id"), col("scale"),
        transform(col("v"),
          x => floor(x / col("scale") * 127 + lit(0.5)).cast("int"))
          .as("qvec"))
  }

  /** Per-label centroids — the distributed mean-vector step of k-means /
    * IVF training and of class-prototype computation, shaped for corpus
    * scale: posexplode to (label, pos, v) and aggregate per (label, pos)
    * with map-side partial aggregation — one shuffle whose key
    * cardinality is labels × dims, never a per-group collect.
    *
    * Exact cross-engine determinism: a double SUM is accumulation-order-
    * dependent, so each component is integerized FIRST with
    * `floor(v·1e8 + 0.5)` (both engines evaluate this identically on
    * doubles — the quantizeInt8 parity trick), summed exactly as
    * DECIMAL(38,0), and the mean is reconstructed with a fixed
    * division order. Returns (label, pos, centroid, n_vecs) — scalar
    * rows, not an array column, so any engine can sort/hash the output.
    */
  def centroidsByLabel(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    emb.select(col("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum(floor(col("v") * lit(1e8) + lit(0.5))
          .cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("pos"),
        (col("s").cast("double") / col("n_vecs") / lit(1e8)).as("centroid"),
        col("n_vecs"))
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ threshold), blocked on
    * equal `label` — the deterministic blocking key that keeps this off
    * the full cross product (the LSH buckets of [[annTopK]] serve the
    * same role when no label exists). Returns (vec_a, vec_b, cos6).
    */
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with the SAME
    * deterministic Lloyd coarse quantizer as [[ivfTopK]], compare pairs
    * only WITHIN a cluster, and prune every vector that has a
    * near-duplicate (cos ≥ threshold) with a smaller `vec_id` in its
    * cluster — the smallest id of each near-dup group survives as its
    * representative. Returns the survivors as (vec_id, list_id).
    *
    * Scale shape: the pair comparison is an equi-join on `list_id`,
    * never a cross product, so per-cluster work is (n/nLists)² — at
    * corpus scale `nLists` grows with n (the paper runs ~100k clusters
    * over LAION) to keep cluster sizes, and therefore the quadratic
    * term, bounded; the quantizer fit itself stays metadata-scale via
    * the portable-hash sample cap. Like the quantizer, the whole
    * operator is deterministic pure arithmetic — "approximate" means
    * near-dups straddling a cluster boundary are missed, not that two
    * runs disagree — so a DuckDB oracle replays it exactly.
    */
  def semDedupSurvivors(emb: DataFrame, threshold: Double,
                        nLists: Int = -1, iters: Int = 2,
                        maxFitRows: Long = 4096L, salts: Int = 8): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val ndot = graft.plans.DotProduct.dotCol(emb.sparkSession, _: Column, _: Column)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    // nLists <= 0 auto-sizes to the corpus ([[autoNLists]]) — the
    // within-cluster pair work is n²/nLists, so lists MUST grow with n
    // for the quadratic term to stay bounded (r9 sf10: 16× at fixed 16)
    val n = v.count()
    val nl = if (nLists > 0) nLists else autoNLists(n)
    // the assignment is materialized ONCE (localCheckpoint, the
    // duplicateClusters precedent): the three consumers below (both
    // self-join sides + the anti-join left) would each re-execute the
    // full-corpus two-level assignment. One corpus-sized write is the
    // price; at real scale it replaces three full scan+assign passes.
    val asg = assignLists(v, lloydFit(v, nl, iters, maxFitRows, n), iters)
      .localCheckpoint()
    pruneWithinClusters(asg, threshold, salts)
  }

  /** [[semDedupSurvivors]] with the three-level [[treeFit]] quantizer —
    * the beyond-16M-vectors spelling (nLists ≤ 0 auto-sizes via
    * [[autoNListsTree]]'s 2²⁴ cap): same within-cluster prune, same
    * salted self-join, only the coarse clustering comes from the
    * distributed tree fit instead of the literal-capped two-level path.
    * Below the cap [[semDedupSurvivors]] remains the default (the
    * sf100 A/B in BASELINE.md: the tree fit pays ~2× where the literal
    * path is still available). */
  def semDedupSurvivorsTree(emb: DataFrame, threshold: Double,
                            nLists: Int = -1, iters: Int = 2,
                            maxFitRows: Long = 4096L, salts: Int = 8): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val ndot = graft.plans.DotProduct.dotCol(emb.sparkSession, _: Column, _: Column)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val n = v.count()
    val nl = if (nLists > 0) nLists else autoNListsTree(n)
    val (supers, kids) = treeFit(v, nl, iters, maxFitRows, n)
    val asg = treeAssign(v, supers, kids, nl)
      .select("vec_id", "vec", "vv", "list_id").localCheckpoint()
    pruneWithinClusters(asg, threshold, salts)
  }

  /** The shared SemDeDup prune over a materialized cluster assignment
    * `asg` (vec_id, vec, vv, list_id): within-cluster pairs only, a
    * vector is pruned iff a smaller-id cluster-mate has cos ≥
    * threshold. The assignment must arrive materialized
    * (localCheckpoint) — the three consumers below (both self-join
    * sides + the anti-join left) would each re-execute the full-corpus
    * assignment otherwise.
    *
    * The self-join key carries a SALT (a-side by id, b-side replicated
    * ×salts) so one cluster's quadratic pair work spreads over `salts`
    * tasks instead of one — the within-cluster comparison is the
    * operator's whole cost, and without the salt its parallelism caps
    * at nLists (AQE even coalesces the small INPUT to one task while
    * the OUTPUT is the quadratic part). Every (a, b) pair still meets
    * exactly once: b replicates to all salts, a picks one. The salt is
    * a SCRAMBLED id (murmur3), not the raw id mod salts: strided id
    * allocation (all-even ids, block-allocated ranges) would skew raw
    * residues and re-concentrate the quadratic work the salt exists to
    * spread; correctness never depends on the salt value. */
  private def pruneWithinClusters(asg: DataFrame, threshold: Double,
                                  salts: Int): DataFrame = {
    val ndot = graft.plans.DotProduct.dotCol(asg.sparkSession, _: Column, _: Column)
    val a = asg.select(col("vec_id").as("vec_a"), col("vec").as("va"),
      col("vv").as("vva"), col("list_id"))
      .withColumn("_salt", pmod(hash(col("vec_a")), lit(salts)).cast("int"))
    val b = asg.select(col("vec_id").as("vec_b"), col("vec").as("vb"),
      col("vv").as("vvb"), col("list_id"))
      .withColumn("_salt", explode(lit((0 until salts).toArray)))
    // ids-only through the distinct; cos compared UNROUNDED — both
    // engines build the identical double (ordered folds), so the ≥ is
    // exact on each side.
    val pruned = a.join(b, Seq("list_id", "_salt"))
      .where(col("vec_a") < col("vec_b") &&
        ndot(col("va"), col("vb")) / (sqrt(col("vva")) * sqrt(col("vvb")))
          >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    asg.join(pruned, Seq("vec_id"), "left_anti").select("vec_id", "list_id")
  }

  /** Exact all-pairs cosine ≥ threshold within each label block.
    * Inherently quadratic per block — the sf1.0 bench measured it
    * superlinear (pairs grow with block²); the 100 TB paths are
    * [[semDedupSurvivors]] / LSH, which bound block sizes. What IS
    * fixable at this exactness level is parallelism: the join key
    * carries a salt (a-side by scrambled id, b-side replicated — the
    * semDedup pattern), so the quadratic work spreads over
    * salts × labels tasks instead of capping at the handful of labels. */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
                         salts: Int = 8): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val ndot = graft.plans.DotProduct.dotCol(emb.sparkSession, _: Column, _: Column)
    val v = emb.select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("vec"))
      .withColumn("nrm", sqrt(ndot(col("vec"), col("vec"))))
    val a = v.select(col("vec_id").as("vec_a"), col("label"),
      col("vec").as("va"), col("nrm").as("nrm_a"))
      .withColumn("_salt", pmod(hash(col("vec_a")), lit(salts)).cast("int"))
    val b = v.select(col("vec_id").as("vec_b"), col("label"),
      col("vec").as("vb"), col("nrm").as("nrm_b"))
      .withColumn("_salt", explode(lit((0 until salts).toArray)))
    a.join(b, Seq("label", "_salt"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cos6",
        round(ndot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")), 6))
      .where(col("cos6") >= threshold)
      .select("vec_a", "vec_b", "cos6")
  }
}
