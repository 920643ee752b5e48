package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse a sparse (BM25) and a dense (embedding-cosine)
  * ranking with reciprocal-rank fusion (Cormack, Clarke & Buettcher
  * 2009) — the standard combiner for lexical + semantic retrieval over
  * a training corpus (hard-negative mining, dedup-aware sampling,
  * eval-set construction all start from exactly this join).
  */
object Retrieval {

  /** RRF top-k: score(d) = Σ over rankings r containing d of
    * `1/(kRrf + rank_r(d))`, fused over
    *  - the BM25 top-`kEach` for `queryTerms`
    *    ([[graft.functions.TextAnalysis.bm25RawIdfTopK]]), and
    *  - the dense top-`kEach` against the `queryVecId` embedding
    *    (corpus = every other vector; `doc_id` ≡ `vec_id` by the data
    *    contract), with the candidate source picked by `denseLeg`:
    *      - `"exact"`: score EVERY other vector (exact cosine) — one
    *        full corpus scan per query;
    *      - `"lsh"`: score only vectors sharing a hyperplane-LSH bucket
    *        with the query ([[Similarity.annTopK]]'s candidate rule,
    *        same fixed-seed [[Similarity.hyperplanes]] +
    *        [[graft.plans.LshBuckets]] machinery) — the at-scale path:
    *        candidate count tracks bucket density, not corpus size,
    *        trading recall (approximate in WHICH ids are scored, never
    *        in any number produced — output stays deterministic and
    *        DuckDB-replayable).
    *
    * Scale shape: each leg ends in a TakeOrdered (`kEach` rows); the
    * fusion itself is a full-outer join of two ≤ kEach-row frames —
    * metadata-scale regardless of corpus size. The query vector is
    * fetched driver-side (one pushed-filter point lookup) and rides the
    * dense leg as a LITERAL, so the leg is scan → score → TakeOrdered
    * with no join at all; `require`s exactly one match, so a bad
    * `queryVecId` fails loudly instead of silently degrading to a
    * sparse-only ranking (r11 advice).
    *
    * Engine parity: ranks are exact integers from identically-ordered
    * (score DESC, id ASC) windows; `1.0/(kRrf + rank)` and the fixed
    * two-term sum are deterministic IEEE ops both engines evaluate
    * bit-identically (the repo's no-libm/no-ROUND rule), so the emitted
    * `rrf` double hash-compares exactly.
    *
    * Returns (doc_id, rrf), the fused top `k`.
    */
  def rrfHybridTopK(docs: DataFrame, emb: DataFrame,
                    queryTerms: Seq[String], queryVecId: Long,
                    kEach: Int, k: Int, kRrf: Int = 60,
                    denseLeg: String = "exact",
                    tables: Int = 8, bits: Int = 8): DataFrame = {
    require(kEach >= 1 && k >= 1 && kRrf >= 1,
      s"kEach/k/kRrf must be >= 1, got $kEach/$k/$kRrf")
    require(denseLeg == "exact" || denseLeg == "lsh",
      s"denseLeg must be 'exact' or 'lsh', got '$denseLeg'")
    val ndot = graft.plans.DotProduct.dotCol(_: Column, _: Column)

    // sparse leg: the BM25 result is already (score DESC, doc_id)-sorted
    // and kEach rows — the single-partition rank window is metadata-scale
    val sparse = graft.functions.TextAnalysis
      .bm25RawIdfTopK(docs, queryTerms, kEach)
      .withColumn("r_sparse", row_number().over(
        Window.orderBy(desc("bm25_rsj_x8"), asc("doc_id"))))
      .select(col("doc_id"), col("r_sparse"))

    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    // the query embedding: a pushed-filter point lookup, required to
    // resolve to exactly one row (a silent empty build side previously
    // returned a plausible-looking sparse-only ranking)
    val qRows = v.where(col("vec_id") === queryVecId).limit(2).collect()
    require(qRows.length == 1 && !qRows(0).isNullAt(1),
      s"queryVecId=$queryVecId must match exactly one non-null embedding, " +
        s"found ${qRows.length}")
    val qvec = typedLit(qRows(0).getSeq[Double](1))

    // dense-leg candidates: the whole corpus (exact) or the LSH bucket
    // cohort (the 100 TB path — per-query work tracks bucket density)
    val candidates = denseLeg match {
      case "exact" => v.where(col("vec_id") =!= queryVecId)
      case "lsh" =>
        val dim = qRows(0).getSeq[Double](1).length
        val planes = Similarity.hyperplanes(tables, bits, dim)
        val planesLit = typedLit(planes.map(_.map(_.toSeq).toSeq).toSeq)
        def buckets(vec: Column): Column =
          graft.plans.LshBuckets.bucketsCol(planesLit, vec)
        // ≤ `tables` query buckets — broadcast; candidate ids dedup on
        // the bare id (a vector can share several buckets), vectors
        // re-attach afterwards (the annTopK payload discipline)
        val qb = v.where(col("vec_id") === queryVecId)
          .select(explode(buckets(col("vec"))).as("bucket"))
        val candIds = v.where(col("vec_id") =!= queryVecId &&
            col("vec").isNotNull)
          .select(col("vec_id"), explode(buckets(col("vec"))).as("bucket"))
          .join(broadcast(qb), "bucket")
          .select("vec_id").distinct()
        candIds.join(v, "vec_id")
    }

    val dense = candidates
      .withColumn("cos", ndot(qvec, col("vec")) /
        (sqrt(ndot(qvec, qvec)) * sqrt(ndot(col("vec"), col("vec")))))
      .orderBy(desc("cos"), asc("vec_id")).limit(kEach)
      .withColumn("r_dense", row_number().over(
        Window.orderBy(desc("cos"), asc("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("r_dense"))

    sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kRrf) + col("r_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("r_dense")), lit(0.0)))
      .orderBy(desc("rrf"), asc("doc_id")).limit(k)
      .select(col("doc_id"), col("rrf"))
  }
}
