package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{PortableHash, TextAnalysis}

/** Hashed-feature linear quality classifier — the "apply a trained
  * model to the whole corpus" filtering stage of an LLM data pipeline
  * (the fastText quality filters of DCLM / the FineWeb-Edu classifier
  * gate), distinct from the heuristic signals of
  * [[graft.functions.TextAnalysis.qualityMetrics]]: the model is
  * trained OFFLINE (any logistic-regression/fastText trainer) and
  * arrives here as a flat weight vector over hashed token buckets.
  *
  * Score = `bias + (Σ_tokens w[cp31u(token) mod nBuckets]) / n_tokens`
  * — the mean-of-token-weights linear form (fastText's averaged bag of
  * features with a hashing-trick vocabulary). The LOGIT is emitted,
  * not the sigmoid: it is monotone-equivalent for thresholding and
  * keeps the output inside the repo's exact cross-engine arithmetic
  * (`exp` is a libm call with no bit-parity contract between engines;
  * a fold of `·31 + cp` hashes, literal-array lookups, one ordered sum
  * and one division is replayed bit-for-bit by DuckDB).
  *
  * Scale shape: pure column expressions over one scan — per-document
  * map work, ZERO shuffles, no UDF (the hash is the
  * [[PortableHash.cp31uCol]] codegen fold, the weight lookup an
  * `element_at` into a literal array riding the expression as a
  * reference object — ≤ 8 B/bucket, so even a 2²⁰-bucket model is a
  * few MB of task binary, the broadcast-a-small-model pattern).
  * Tokenization is the canonical [[TextAnalysis.tokens]] whitespace
  * split, so the classifier sees exactly the tokens the rest of the
  * curation stack counts.
  */
object QualityClassifier {

  /** The raw logit over an already-tokenized array column. The batch
    * path stages the `split` once as its own projected attribute (see
    * [[scoreDocs]]) and scores that attribute here.
    *
    * Evaluation: the fused native [[graft.plans.QualityScore]]
    * expression (one codegen loop — UTF-8 byte hash per token, direct
    * weight lookup, ordered sum). The composable spelling it replaced
    * (interpreted `aggregate` whose body re-entered the per-character
    * `cp31uCol` fold — a regex split + array allocation PER TOKEN) is
    * kept bit-parity-pinned in QualityClassifierSpec; the r13 sf100
    * A/B that motivated the fusion is in BASELINE.md. */
  def scoreFromToks(toks: Column, weights: Seq[Double], bias: Double): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    graft.plans.QualityScore.scoreCol(toks, typedLit(weights), lit(bias))
  }

  /** The pre-r13 composable spelling — retained ONLY as the parity
    * reference for QualityClassifierSpec (it is the arithmetic the
    * DuckDB oracle replays, written in built-ins). */
  private[graft] def scoreFromToksComposable(toks: Column,
      weights: Seq[Double], bias: Double): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    val nb = weights.size
    val tokenWeight: Column => Column = t =>
      element_at(typedLit(weights), (PortableHash.cp31uCol(t) % nb).cast("int") + 1)
    lit(bias) +
      aggregate(toks, lit(0.0), (acc, t) => acc + tokenWeight(t)) /
        size(toks)
  }

  /** (doc_id, n_tokens, qscore, keep) for every document; `keep` is
    * `qscore >= threshold`. `weights(b)` is the coefficient of hash
    * bucket b; `weights.size` fixes the bucket count.
    *
    * The token array is STAGED through its own projection: inlining
    * `tokens(text)` evaluates the split in three expression positions
    * (n_tokens, the aggregate input, the divisor) — three full-string
    * regex splits per document. Projected as an attribute it runs
    * once; CollapseProject does not re-inline an expensive alias
    * referenced more than once, so the staging survives optimization
    * (the same fix as r12's quantizeInt8/bloom interpreted-HOF
    * stagings). */
  def scoreDocs(docs: DataFrame, weights: Seq[Double], bias: Double,
                threshold: Double): DataFrame = {
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        scoreFromToks(col("toks"), weights, bias).as("qscore"))
      .withColumn("keep", col("qscore") >= threshold)
  }
}
