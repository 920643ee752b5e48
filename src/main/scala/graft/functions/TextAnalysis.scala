package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID, document fingerprinting.
  *
  * Everything except the rolling hash is pure column expressions —
  * codegen'd, shuffle-free per row, and embarrassingly parallel at 100 TB
  * (each document is independent; the only shuffles are the final
  * aggregations on low-cardinality keys like lang/source).
  */
object TextAnalysis {

  /** Whitespace tokens of a trimmed document. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word set (for set-similarity ops). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** [[tokenSet]] sorted in UTF8 binary order — the input contract of
    * the allocation-free two-pointer intersection
    * ([[graft.plans.SortedIntersectSize]]). Sorting costs n·log n ONCE
    * per document and is amortized over the many candidate pairs each
    * document appears in. */
  def sortedTokenSet(text: Column): Column = array_sort(tokenSet(text))

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Overlapping space-joined word n-grams of the trimmed document;
    * empty array when the document has fewer than n tokens. Pure column
    * expressions (sequence + slice under transform), so the n-gram
    * stream is generated inside codegen with no UDF and no shuffle —
    * the input shape for decontamination overlap joins and repetition
    * scoring. */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    wordNgramsFromTokens(tokens(text), n)
  }

  /** [[wordNgrams]] over a token-array column. Callers on a corpus-
    * sized path MUST pass an attribute (a token array staged through
    * its own projection), not an inline `tokens(...)` expression: the
    * per-position lambda references the array, and an interpreted HOF
    * re-evaluates whatever expression tree sits there PER ELEMENT — an
    * inlined split turns gram production O(len) → O(len²) chars per
    * document (sf100 A/B in BASELINE.md). CollapseProject keeps the
    * staging: a non-cheap alias consumed more than once is never
    * inlined back. */
  def wordNgramsFromTokens(toks: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(typedLit(Seq.empty[String]))
  }

  /** All-occurrence word n-gram STREAM of a documents frame: one output
    * row per n-gram occurrence, carrying `carry` columns plus `gram`.
    * The positional explode comes FIRST and the gram text is built by
    * codegen'd slice + concat_ws on the exploded row — bypassing
    * [[wordNgrams]]' per-element lambda, which evaluates interpreted
    * (higher-order transform) and allocates the full gram-string array
    * per document. At corpus scale gram-stream PRODUCTION dominates
    * every decontamination/LM consumer (measured 12×, BASELINE.md),
    * so stream consumers use this; [[wordNgrams]] remains for
    * array-shaped consumers (per-doc lambdas, streaming filters). Emits
    * nothing for docs with fewer than n tokens — same contract as
    * [[wordNgrams]]' empty array. */
  def ngramStream(df: DataFrame, n: Int, carry: Seq[String]): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val reserved = Set("_t", "_i", "gram")
    require(!carry.exists(reserved),
      s"carry columns ${carry.filter(reserved).mkString(", ")} collide with " +
        "ngramStream working/output columns (_t, _i, gram)")
    val carryCols = carry.map(col)
    df.select(carryCols :+ tokens(col("text")).as("_t"): _*)
      .select(carryCols :+ col("_t") :+
        explode(when(size(col("_t")) >= n,
            sequence(lit(1), size(col("_t")) - (n - 1)))
          .otherwise(typedLit(Seq.empty[Int]))).as("_i"): _*)
      .select(carryCols :+
        concat_ws(" ", slice(col("_t"), col("_i"), lit(n))).as("gram"): _*)
  }

  /** Characters removed when stripping punctuation = punctuation count. */
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,;:!?]", ""))).cast("long")

  /** Occurrences of any word in `pattern` (an alternation wrapped in \b). */
  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Stopword occurrences — the quality-scoring signal. */
  def stopwordCount(text: Column): Column =
    patternCount(text, "\\b(the|a|of|and|to|is|in)\\b")

  /** BPE-ish subword token count: a GPT-2-style pretokenizer regex
    * (letter runs / digit runs / punctuation runs, optionally
    * space-prefixed), restricted to RE2-compatible syntax so the DuckDB
    * oracle evaluates the identical pattern. */
  val bpePattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  def bpeTokenCount(text: Column): Column = patternCount(text, bpePattern)

  /** Per-language marker counts for the n-gram/stopword language-ID
    * heuristic. Kept deliberately simple & deterministic (the point is the
    * operator shape: per-row scoring, zero shuffles, argmax decode). */
  def langScores(text: Column): Seq[(String, Column)] = Seq(
    "en" -> patternCount(text, "\\b(the|and|of|is)\\b"),
    "fr" -> patternCount(text, "\\b(le|la|les|et|une)\\b"),
    "es" -> patternCount(text, "\\b(el|los|las|y|que)\\b"),
    "de" -> patternCount(text, "\\b(der|die|und|das|ist)\\b"),
    "zh" -> patternCount(text, "[一-鿿]"),
  )

  /** Argmax over [[langScores]] with a fixed tie-break order
    * (en > fr > es > de > zh). The mirrored DuckDB CASE must use the same
    * comparison chain — see LlmQueries. */
  def predictLang(text: Column): Column = {
    val s = langScores(text).toMap
    when(s("en") >= s("fr") && s("en") >= s("es") && s("en") >= s("de") && s("en") >= s("zh"), "en")
      .when(s("fr") >= s("es") && s("fr") >= s("de") && s("fr") >= s("zh"), "fr")
      .when(s("es") >= s("de") && s("es") >= s("zh"), "es")
      .when(s("de") >= s("zh"), "de")
      .otherwise("zh")
  }

  /** Canonical content fingerprint: md5 of the case/whitespace-normalized
    * text. Exact-duplicate groups share a fingerprint. */
  def md5Fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** Top-k TF-IDF terms per document — the salient-term extraction step
    * of corpus indexing/quality pipelines.
    *
    * Score = (tf / len) · N / df — the raw rarity-weighted frequency
    * rather than a log-IDF, deliberately: `ln` is a libm call whose last
    * ulp differs across engines, while this form is a fixed-order chain
    * of IEEE divisions/multiplications over exact integers, so an
    * independent engine reproduces every score bit-for-bit (the same
    * monotone ranking as N/df-based IDF for per-document top-k).
    *
    * Scale shape — the r5 three-pass form, KEPT against the "obvious"
    * r12 improvement on measured evidence (BASELINE.md r12,
    * in-JVM A/B at sf100: this shape 96.8 s vs ~450-540 s for every
    * variant that rides len on the tf key): one exploded word stream
    * feeds three narrow aggregates (tf, per-doc len, distinct df) and
    * joins back. Re-computing the cheap map-side explode is ~5× faster
    * on real hardware than the alternatives' wider aggregate key — the
    * extra len shuffle carries one long per doc and is noise; df from
    * a checkpointed tf round-trips ~400M rows through disk (449.9 s
    * median) and its MEMORY_AND_DISK form OOM-killed an 80 g JVM. N
    * arrives as a broadcast 1-row crossJoin, never a driver-side
    * collect; top-k is a bounded window per doc_id (WindowGroupLimit
    * prunes to k per group before the final exchange). */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE tokenize+explode pass (r18; was THREE — tf, len and df each
    // re-ran the corpus explode, because the three aggregates' key
    // divergence defeats ReuseExchange, the r12 BASELINE lesson):
    // occurrences collapse to per-(doc, word) counts first — map-side
    // combined on the explode output — and both marginals derive from
    // that distinct-(doc, word)-sized frame: len = Σ tf per doc is
    // EXACTLY the occurrence count, df = rows per word is EXACTLY the
    // distinct-document count. Same integers ⇒ same IEEE score chain ⇒
    // same ranking and output. The remaining three consumers of `tf`
    // (len, df, the final join) share its one exchange via
    // ReuseExchange — keys identical this time — so the corpus is
    // tokenized once and shuffled once.
    val tf = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val len = tf.groupBy("doc_id").agg(sum("tf").as("len"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val score = col("tf").cast("double") / col("len") *
      col("n_docs") / col("df")
    tf.join(len, "doc_id").join(dfreq, "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", score)
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("word"))))
      .where(col("rn") <= k)
      .select(col("doc_id"), col("word"), col("score"),
        col("rn").cast("long").as("rn"))
  }

  /** Per-document language-model quality score — the CCNet-style
    * "perplexity filter" signal, re-expressed in exact integer
    * arithmetic so it is reproducible on any engine: a bigram MLE is
    * trained on the corpus itself (c2(w1,w2) bigram counts over c1(w1)
    * token counts) and each document scores the integerized mean
    * conditional probability of its bigrams —
    * `lm_score = (Σ floor(1e8·c2/c1)) div n_bigrams` (no `ln`, no
    * floating point anywhere: libm is the repo's known cross-engine
    * parity hazard, and the ranking is the same monotone signal).
    * Fluent/common word sequences score high; incoherent or
    * out-of-distribution documents score low. Documents with < 2 tokens
    * have no bigrams and are absent from the output.
    *
    * Scale shape: the "training" is two counting aggregates with
    * map-side combine (bigram- and vocab-cardinality results, NEVER
    * collected); scoring re-joins the corpus bigram stream to the
    * bigram and unigram count tables on their keys, then aggregates per
    * doc — one pipeline, no iteration, no driver state. Neither count
    * table carries a broadcast hint: on a real web corpus even the
    * UNIGRAM vocabulary (typos, URLs, numbers) reaches billions of
    * rows, so AQE picks broadcast only when the measured size allows
    * it. Overflow bound: c2·1e8 < 2⁶³ requires every single bigram's
    * count < ~9.2·10¹⁰ — top bigrams ("of the" ≈ 0.3% of English text)
    * cross that near ~3·10¹³ training tokens, so beyond ~10¹³ tokens
    * lower the 1e8 scale factor a decade per decade of corpus.
    *
    * Scaling evidence (BASELINE.md r13): the r10–r12
    * "GenScale vocabulary diversification erodes the collapse" theory
    * for the apparent sf10→sf100 superlinearity was measured and
    * REFUTED — the suffix corpus's vocabulary is small (3.1k unigrams
    * at sf10; collapse 285×) and a Zipf(1) fixed-50k-vocab corpus of
    * the same size (collapse 4.2×) runs in the SAME warm time
    * (10.1 vs 11.2 s): the operator is distribution-robust, and the
    * historical ratio was the warm-median-vs-in-bench-single mode
    * mismatch, closed by the r13 matched-mode measurements. */
  def bigramLmScores(docs: DataFrame): DataFrame = {
    // occurrences collapse to per-(doc, bigram) counts FIRST (map-side
    // combine on the explode output), so every downstream join moves
    // distinct-bigram rows with a multiplicity column instead of one
    // row per occurrence — identical integers (s_sum = Σ k·s,
    // n_bigrams = Σ k), strictly less join input
    val bgc = ngramStream(docs, 2, Seq("doc_id", "lang"))
      .withColumnRenamed("gram", "bigram")
      .groupBy("doc_id", "lang", "bigram").agg(count(lit(1)).as("k"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val c2 = bgc.groupBy("bigram").agg(sum("k").as("c2"))
    val c1 = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    // no broadcast hint on the unigram table: a real web corpus's token
    // vocabulary (typos, URLs, numbers) reaches billions of distinct
    // tokens — far past broadcast size — so the join strategy is left to
    // AQE, which broadcasts exactly when the measured vocab is small and
    // falls back to a shuffled hash/sort-merge join on w1 when it isn't
    bgc.join(c2, "bigram").join(c1, col("w1") === col("w"))
      .withColumn("s", expr("(c2 * 100000000) div c1"))
      .groupBy("doc_id", "lang").agg(
        sum("k").as("n_bigrams"), sum(expr("k * s")).as("s_sum"))
      .withColumn("lm_score", expr("s_sum div n_bigrams"))
  }

  /** 64-bit polynomial rolling hash of the normalized text (base 1000003,
    * wrapping Long arithmetic — deterministic across JVMs). A cheap
    * order-sensitive fingerprint, unlike the order-insensitive word-set
    * signatures. UDF (loop-shaped), but O(len) per row and shuffle-free.
    *
    * Normalization is deliberately ENGINE-NEUTRAL so the DuckDB oracle
    * can reproduce the hash on any input, not just this corpus: strip
    * exactly {space, \t, \n, \r} at the ends (Java `trim` strips ALL
    * chars ≤ U+0020 —  etc. would diverge) and lowercase ASCII
    * A–Z only (`String.toLowerCase` is locale/Unicode-table dependent;
    * DuckDB's `lower` uses utf8proc — `translate` of the 26 letters is
    * identical everywhere). Hash runs over Unicode CODE POINTS (the
    * oracle folds `unicode(c)`; folding UTF-16 code units would diverge
    * on supplementary-plane characters — see
    * [[graft.functions.PortableHash]]).
    */
  val rollingHash64 = udf { (text: String) =>
    if (text == null) 0L
    else {
      def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
      var from = 0
      var to = text.length
      while (from < to && ws(text.charAt(from))) from += 1
      while (to > from && ws(text.charAt(to - 1))) to -= 1
      var h = 1125899906842597L
      var i = from
      while (i < to) {
        val cp0 = text.codePointAt(i)
        val cp = if (cp0 >= 'A' && cp0 <= 'Z') cp0 + 32 else cp0
        h = h * 1000003L + cp
        i += Character.charCount(cp0)
      }
      h
    }
  }

  /** PII redaction patterns — the CCNet/Dolma-style curation scrub.
    * Deliberately RE2-compatible (no backrefs, no lookaround) so the
    * DuckDB oracle evaluates the IDENTICAL patterns: emails, IPv4
    * addresses, and international-format phone numbers. Single source
    * of truth is [[graft.plans.PiiRedact]] (the fused expression);
    * re-exported here so the oracle SQL interpolation sites and the
    * composable form can never drift from the native kernel. */
  val emailPattern: String = graft.plans.PiiRedact.emailPattern
  val ipv4Pattern: String = graft.plans.PiiRedact.ipv4Pattern
  val phonePattern: String = graft.plans.PiiRedact.phonePattern

  /** Fused PII scrub: one native expression returning
    * struct(redacted_text, n_emails, n_ips, n_phones) — one UTF-8
    * decode and 3–5 matcher scans per document instead of the six
    * independent regexp expressions of [[redactPii]] (r13 A/B in
    * BASELINE.md). Bit parity with the composable form pinned in
    * PiiRedactSpec; same contract: counts on the original text,
    * replacements sequential email → ip → phone. */
  def redactPiiFused(text: Column): Column =
    graft.plans.PiiRedact.redactCol(text)

  /** Redact PII spans to fixed placeholder tokens, appending per-kind
    * match counts. Order matters and is part of the contract: emails
    * first (an email's host part could otherwise be half-eaten by the
    * IP pattern), then IPs, then phones — counts are measured on the
    * original text, replacements applied sequentially. Pure codegen'd
    * column expressions; one map-side pass, no shuffle. Composable
    * reference form — the hot path uses [[redactPiiFused]]. */
  def redactPii(text: Column): (Column, Column, Column, Column) = {
    val nEmail = size(regexp_extract_all(text, lit(emailPattern), lit(0))).cast("long")
    val nIp = size(regexp_extract_all(text, lit(ipv4Pattern), lit(0))).cast("long")
    val nPhone = size(regexp_extract_all(text, lit(phonePattern), lit(0))).cast("long")
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")
    (redacted, nEmail, nIp, nPhone)
  }

  /** BM25 top-k retrieval over the corpus for a fixed bag of query
    * terms — the classic sparse-retrieval scorer (Robertson/Okapi),
    * k1 = 1.2, b = 0.75. Two deliberate engine-parity choices:
    *  - the IDF is the RAW Robertson–Sparck-Jones odds
    *    `(N − df + 0.5)/(df + 0.5)` without the usual `ln`: libm's last
    *    ulp differs across engines while this fixed-order IEEE chain
    *    over exact integers is bit-reproducible (per-term ranking is
    *    the same monotone signal; cross-term sums weight rare terms
    *    more sharply than log-IDF — documented, not hidden);
    *  - per-term scores integerize to `floor(1e8·s + 0.5)` BEFORE the
    *    per-document sum (the centroid/lm-score trick), so the
    *    order-dependent double sum becomes an exact integer sum.
    *
    * Scale shape: the corpus-sized work is ONE tokenize pass feeding
    * the term-filtered tf aggregate (the `isin` filter runs map-side
    * before any shuffle, so the tf stream carries only documents
    * containing a query term), with the document length riding the tf
    * key — len is `size(tokens)` computed MAP-SIDE (functionally
    * dependent on doc_id), which removed the original formulation's
    * corpus-wide per-doc length shuffle + doc_id join-back (r12). tf
    * is term-count × matching-docs sized — tiny — and is STAGED
    * (localCheckpoint) because its two consumers (the df aggregate and
    * the score projection) would otherwise each re-run the corpus
    * tokenize+explode feeding it (the tfidfTopTerms lesson, BASELINE
    * .md r12: pruning/key divergence defeats ReuseExchange). The
    * corpus totals collapse straight off the docs scan (restricted to
    * non-null text — exactly the docs the old length aggregate saw);
    * df and the totals are term-count-sized and broadcast; the final
    * top-k is a TakeOrdered, never a full sort. */
  def bm25RawIdfTopK(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1, "need query terms and k >= 1")
    val words = docs.select(col("doc_id"),
      tokenCount(col("text")).as("len"),
      explode(tokens(col("text"))).as("word"))
    val totals = docs.where(col("text").isNotNull)
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).cast("double").as("total_len"))
    val tf = words.where(col("word").isin(queryTerms: _*))
      .groupBy("doc_id", "len", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    // fixed-order IEEE chain, mirrored verbatim in the oracle SQL
    val score = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) +
        lit(0.75) * col("len") * col("n_docs") / col("total_len")))
    tf.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(totals))
      .withColumn("s8",
        floor(lit(100000000.0) * score + lit(0.5)).cast("long"))
      .groupBy("doc_id").agg(sum("s8").as("bm25_rsj_x8"))
      .orderBy(desc("bm25_rsj_x8"), asc("doc_id"))
      .limit(k)
  }

  /** Per-document quality metrics frame: doc_id + token/char/punct/
    * stopword counts and ratio features. */
  def qualityMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"),
      col("lang"),
      col("source"),
      length(t).cast("long").as("n_chars_actual"),
      tokenCount(t).as("n_tokens"),
      punctCount(t).as("n_punct"),
      stopwordCount(t).as("n_stopwords"))
  }
}
