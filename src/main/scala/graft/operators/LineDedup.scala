package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-wide line-level deduplication — the RefinedWeb/C4-family
  * curation step (Penedo et al. 2023 §3.2.3; Raffel et al. 2020 C4):
  * a LINE that recurs across documents is boilerplate (nav bars,
  * cookie banners, licence footers, signature blocks) and is removed
  * from EVERY document it appears in, while the surrounding prose
  * survives. Line-granular and corpus-GLOBAL — the complement of
  * [[Boilerplate.removeFrequentNgrams]] (token-n-gram, per-source df)
  * and [[SpanDedup.removeDuplicateSpans]] (token-span,
  * first-occurrence-keeps).
  *
  * Semantics: a candidate line is one whose trimmed form is non-empty;
  * its document frequency is the number of DISTINCT documents
  * containing that trimmed form (within-doc repeats count once — a
  * line repeated only inside one document is repetition, which the
  * repetition signals own, not cross-document boilerplate). Every
  * occurrence of a line with df ≥ `minDf` is removed; matching is on
  * the trimmed line but the kept output preserves raw spacing; blank
  * lines are never counted and never removed. Output one row per input
  * document: (doc_id, lang, n_lines, n_removed, cleaned_text) with
  * kept lines rejoined by '\n' (null text behaves as one empty line,
  * split's contract).
  *
  * Scale shape (the [[Boilerplate]] pattern): the line arrays stage
  * once (localCheckpoint — the corpus is read and split exactly once
  * for the three consumers). The corpus-wide stream feeding the
  * frequency aggregate and the removal join is (doc_id, pos, lh) with
  * `lh` the 64-bit hash of the trimmed line, built INLINE from the
  * staged array (positions-only explode + element_at — no line-string
  * attribute ever exists, so line text cannot ride a shuffle; hash
  * identity ≡ trimmed-string identity up to 2⁻⁶⁴-scale collisions, the
  * repo's md5-fingerprint trade, and the DuckDB oracle replays on the
  * strings themselves so the trade is verified, not assumed). The
  * frequency table is vocabulary-scale (distinct hot lines), never
  * corpus-scale; removal positions flow back through ONE doc_id join
  * and the rebuild is a row-local indexed filter over the staged array
  * attribute. No windows, no cross product, no driver collect.
  */
object LineDedup {

  def dedupLines(docs: DataFrame, minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would remove every non-blank line; got $minDf")
    val ls = docs.select(col("doc_id"), col("lang"),
        split(coalesce(col("text"), lit("")), "\n").as("ls"))
      .localCheckpoint()
    // split never returns an empty array (minimum one '' element), so
    // the 0-based position sequence is always well-formed
    def line = trim(element_at(col("ls"), col("p") + 1))
    val stream = ls
      .select(col("doc_id"), col("ls"),
        explode(sequence(lit(0), size(col("ls")) - 1)).as("p"))
      .where(line =!= "")
      .select(col("doc_id"), col("p"),
        graft.plans.Tok64Hash.tok64Col(line).as("lh"))
    // no broadcast hint on the frequency side: hot lines are
    // vocabulary-sized at corpus scale (AQE broadcasts the few-MB
    // table itself when it fits)
    val hot = stream.select("doc_id", "lh").distinct()
      .groupBy("lh").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf).select("lh")
    val removed = stream.join(hot, Seq("lh"))
      .groupBy("doc_id").agg(collect_list(col("p")).as("rm"))
    ls.join(removed, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(col("rm"), array().cast("array<int>")))
      .select(col("doc_id"), col("lang"),
        size(col("ls")).cast("long").as("n_lines"),
        size(col("rm")).cast("long").as("n_removed"),
        concat_ws("\n",
          filter(col("ls"), (_, i) => !array_contains(col("rm"), i)))
          .as("cleaned_text"))
  }
}
