package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Fixed-window overlapping document chunking — the context-window
  * splitting step of a training-data pipeline (long documents become
  * `window`-token chunks every `stride` tokens, so consecutive chunks
  * overlap by `window − stride` tokens).
  *
  * Scale shape: entirely per-row column arithmetic — chunk count, chunk
  * boundaries and chunk text are integer expressions + `slice` over the
  * token array, expanded with one `posexplode`-style `explode` of a
  * `sequence`. No shuffle, no UDF; a document's chunks are emitted on
  * whatever partition holds the document, so the operator is
  * embarrassingly parallel at corpus scale.
  */
object Chunking {

  /** `(doc_id, chunk_id, start_tok, n_tok, chunk_text)`, 1-based ids and
    * token offsets. Every document emits ≥ 1 chunk (a short document is
    * one chunk of its full length); the last chunk may be shorter than
    * `window`. A null or whitespace-only `text` still emits exactly one
    * chunk (n_tok = 1, empty chunk_text): the split of the trimmed-empty
    * string is a single empty token, and null is coalesced to empty so
    * the ≥ 1-chunk invariant holds for every input row. */
  def chunk(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    def chunkStart(id: Column) = (id - 1) * stride
    docs
      .select(col("doc_id"),
        TextAnalysis.tokens(coalesce(col("text"), lit(""))).as("t"))
      .withColumn("n_tok_doc", size(col("t")).cast("long"))
      // 1 + ceil(max(len - window, 0) / stride), in integer arithmetic
      .withColumn("n_chunks",
        lit(1L) + floor((greatest(col("n_tok_doc") - window, lit(0L)) +
          (stride - 1)) / stride).cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(1L), col("n_chunks"))))
      .withColumn("start_tok", (chunkStart(col("chunk_id")) + 1).cast("long"))
      .withColumn("n_tok",
        least(lit(window.toLong),
          col("n_tok_doc") - chunkStart(col("chunk_id"))).cast("long"))
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("t"), col("start_tok").cast("int"),
          col("n_tok").cast("int"))))
      .select("doc_id", "chunk_id", "start_tok", "n_tok", "chunk_text")
  }

  /** Content-defined chunking: chunk boundaries are placed where a
    * token's content hash satisfies `hash mod divisor == 0`, so the SAME
    * spans re-emerge after upstream edits — insert one token into a
    * document and only the chunk containing it changes, while
    * fixed-window chunking ([[chunk]]) shifts every subsequent boundary.
    * That stability is what makes CDC chunks the right dedup unit for
    * incrementally-recrawled corpora (expected chunk length = `divisor`
    * tokens; no min/max clamp — kept to the pure content rule so the
    * boundary set is a function of content alone).
    *
    * Entirely per-row column expressions — the token hash is the same
    * unsigned-low-32 code-point `×31` fold the bloom filter uses
    * ([[graft.functions.PortableHash.cp31uCol]], decoding code points
    * from the UTF-8 bytes so supplementary-plane characters hash by
    * their code point, not their surrogate halves — no UDF), and chunks
    * materialize via slice between consecutive boundaries under one
    * explode. No shuffle; any engine reproduces the boundaries
    * bit-for-bit.
    *
    * Returns `(doc_id, chunk_id, start_tok, n_tok, chunk_text)` —
    * [[chunk]]'s schema; a boundary token ENDS its chunk, a trailing
    * remainder forms the last chunk, and an empty/whitespace document
    * is one single-token chunk (same ≥ 1-chunk invariant as [[chunk]]).
    */
  def chunkContentDefined(docs: DataFrame, divisor: Int = 16): DataFrame = {
    require(divisor >= 1, s"divisor must be >= 1, got $divisor")
    // unsigned low-32 code-point hash of one token — the native
    // expression (one primitive loop over the UTF-8 bytes, no regex
    // split, no array per token; bit-parity with PortableHash.cp31uCol
    // pinned in PortableHashSpec): this runs once per corpus token
    def tokHash(tok: Column): Column =
      graft.plans.Cp31Hash.cp31uCol(tok)
    docs
      .select(col("doc_id"),
        TextAnalysis.tokens(coalesce(col("text"), lit(""))).as("t"))
      // 1-based boundary positions: tokens whose hash divides
      .withColumn("bp",
        filter(sequence(lit(1), size(col("t"))),
          i => pmod(tokHash(element_at(col("t"), i)), lit(divisor.toLong)) === 0))
      // chunk j spans starts[j]..ends[j]; drop the empty trailing span
      // that appears when the last token is itself a boundary
      .withColumn("starts",
        concat(array(lit(1)), transform(col("bp"), p => p + 1)))
      .withColumn("ends", concat(col("bp"), array(size(col("t")))))
      .select(col("doc_id"), col("t"),
        posexplode(filter(
          zip_with(col("starts"), col("ends"), (s, e) => struct(s.as("s"), e.as("e"))),
          x => x.getField("s") <= x.getField("e"))).as(Seq("cpos", "span")))
      .withColumn("chunk_id", (col("cpos") + 1).cast("long"))
      .select(col("doc_id"), col("chunk_id"),
        col("span.s").cast("long").as("start_tok"),
        (col("span.e") - col("span.s") + 1).cast("long").as("n_tok"),
        concat_ws(" ", slice(col("t"), col("span.s"),
          col("span.e") - col("span.s") + 1)).as("chunk_text"))
  }

  /** Corpus-wide chunk-level exact dedup (the C4-style "drop any span
    * seen before" pass, at chunk granularity): every chunk keeps exactly
    * one owner — the FIRST occurrence in (doc_id, chunk_id) order — and
    * each document reports how much of it survived:
    * `(doc_id, n_chunks, n_kept)`.
    *
    * Scale shape: the only shuffle is keyed on the chunk's md5
    * fingerprint carrying `(fp, doc_id, chunk_id)` — the chunk TEXT
    * never moves (a 128-bit fingerprint stands in for the span, so the
    * shuffle payload is bytes per chunk, not the corpus itself;
    * collisions at 2^-64 scale are the accepted C4/RefinedWeb
    * trade-off). First-wins inside a fingerprint group is a min-struct
    * aggregate (map-side combining), not a window — no per-fingerprint
    * sort, and the final per-document rollup combines on doc_id. */
  def dedupChunksGlobal(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    val ch = chunk(docs, window, stride)
      .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("fp"))
    val owner = ch.groupBy("fp")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("first"))
      .select(col("fp"), col("first.doc_id").as("o_doc"),
        col("first.chunk_id").as("o_chunk"))
    ch.join(owner, Seq("fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("doc_id") === col("o_doc") &&
          col("chunk_id") === col("o_chunk"), 1L).otherwise(0L)).as("n_kept"))
  }
}
