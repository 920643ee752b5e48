package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Corpus-level boilerplate removal — the C4/RefinedWeb "strip any span
  * that appears all over the corpus" pass (navigation chrome, cookie
  * banners, license footers), at word n-gram granularity: a token is
  * REMOVED from a document when any n-gram covering it occurs in at
  * least `minDf` distinct documents, and each document's text is
  * rebuilt from the surviving tokens. Unlike dedup (which drops whole
  * documents or keeps one owner per chunk), this REWRITES every
  * document in place, so it composes with the dedup/quality passes
  * downstream of it.
  *
  * Scale shape — keyed shuffles only, no windows, no driver state, and
  * the corpus is READ ONCE:
  *  1. the token arrays are localCheckpointed (one corpus-sized write,
  *     the minhash/semDedup precedent) so the rebuild join re-reads
  *     tokens instead of re-scanning + re-tokenizing the text;
  *  2. the gram identity through every shuffle and join is the 64-bit
  *     `graft_tok64` hash of the gram text, never the string: the
  *     document-frequency distinct and the frequent-occurrence join
  *     ship fixed 8-byte longs (gram strings are ~n tokens each — at
  *     corpus scale they dominate the shuffle payload 3–10×). Hash
  *     identity ≡ string identity up to 2⁻⁶⁴-scale collisions, the
  *     same documented trade as the md5 fingerprint and the jaccard
  *     verify sets; gram strings themselves never leave the map side;
  *  3. occurrence marking joins the positional stream to the
  *     frequent-hash set on the hash key — no hint, because the
  *     "frequent" side is corpus-dependent: AQE broadcasts it when the
  *     threshold leaves it dimension-sized and sort-merges when a low
  *     `minDf` on a huge corpus does not;
  *  4. rebuild: start lists aggregate per doc (bounded by the doc's
  *     own length), and covered/kept/rebuilt text are pure array
  *     expressions — kept is `array_except` (hash-set linear in
  *     doc length + covered size), never a per-position
  *     `array_contains` scan, so a long document whose covered set
  *     approaches its length stays O(L), not O(L·C). The corpus text
  *     itself moves through exactly one doc_id-keyed join, never
  *     through the gram shuffles.
  */
object Boilerplate {

  /** `(doc_id, n_tokens, n_removed, cleaned_text)` — every input row
    * appears exactly once; a document with no frequent n-gram (or
    * fewer than `n` tokens, or null/empty text) passes through with
    * `n_removed = 0` and its token-normalized text intact. Overlapping
    * frequent n-grams merge into one covered span (positions are a
    * set, not a sum), and ALL occurrences of a frequent n-gram are
    * removed — including those in the n-gram's "first" document:
    * boilerplate has no canonical owner. */
  def removeFrequentNgrams(docs: DataFrame, n: Int, minDf: Long): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDf >= 2, s"minDf < 2 would remove every token; got $minDf")
    val toks = docs.select(col("doc_id"),
        TextAnalysis.tokens(coalesce(col("text"), lit(""))).as("t"))
      .localCheckpoint()
    // (doc, start position, gram-hash) stream; the gram string exists
    // only transiently inside this map-side projection. sequence()
    // would count DOWN for a doc shorter than n, so guard to an empty
    // position array.
    val grams = toks
      .select(col("doc_id"), col("t"),
        explode(when(size(col("t")) >= n,
            sequence(lit(1), size(col("t")) - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("p"))
      .select(col("doc_id"), col("p"),
        graft.plans.Tok64Hash.tok64Col(
          concat_ws(" ", slice(col("t"), col("p"), lit(n)))).as("gh"))
    val frequent = grams.select("doc_id", "gh").distinct()
      .groupBy("gh").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf).select("gh")
    val starts = grams.join(frequent, Seq("gh"))
      .groupBy("doc_id").agg(collect_list(col("p")).as("starts"))
    toks.join(starts, Seq("doc_id"), "left")
      .withColumn("covered", array_distinct(flatten(transform(
        coalesce(col("starts"), array().cast("array<int>")),
        i => sequence(i, i + (n - 1))))))
      .withColumn("kept",
        array_except(sequence(lit(1), size(col("t"))), col("covered")))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("covered")).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("kept"), q => element_at(col("t"), q)))
          .as("cleaned_text"))
  }
}
