package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.QualityClassifier

/** Model-based quality gating at the INGEST EDGE: documents arriving
  * on a stream are scored by the offline-trained hashed-feature linear
  * classifier before they ever land in the corpus — the streaming
  * sibling of [[QualityClassifier.scoreDocs]], completing the pattern
  * of [[StreamDecontaminate]] (membership test at ingest) with the
  * model test at ingest.
  *
  * Like the bloom gate, the whole score is stateless column arithmetic
  * (weight vector as an array literal, cp31u hash fold, one ordered
  * sum — no UDF), so it needs no state store, no watermark, and no
  * shuffle: each micro-batch scores inside its own scan stage at full
  * append-mode parallelism, and a replayed batch reproduces identical
  * scores (pure arithmetic — idempotent by construction).
  */
object StreamQualityGate {

  /** Append (qscore, keep) to a (possibly streaming) documents frame,
    * keeping the original columns so downstream stages retain the
    * document payload. Column-append, NOT a join against
    * [[QualityClassifier.scoreDocs]] — that would be a stream-stream
    * self-join, rejected in append mode without watermarks. */
  def score(docs: DataFrame, weights: Seq[Double], bias: Double,
            threshold: Double): DataFrame = {
    docs
      .withColumn("qscore",
        QualityClassifier.scoreCol(col("text"), weights, bias))
      .withColumn("keep", col("qscore") >= threshold)
  }

  /** Only the documents the model clears — the stream that continues
    * into the corpus. */
  def admit(docs: DataFrame, weights: Seq[Double], bias: Double,
            threshold: Double): DataFrame =
    score(docs, weights, bias, threshold)
      .where(col("keep"))
      .drop("qscore", "keep")
}
