package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Multimodal, Retrieval, Sampling, Similarity}
import Tables._

/** Driver-contract queries for the LLM-training-data operator families
  * (dedup / similarity search / text analysis / multimodal) over the
  * `documents` and `embeddings` tables.
  *
  * Oracle policy: everything an independent SQL engine can reproduce gets
  * a DuckDB oracle — including the "hash-seeded" operators whose hashes
  * are pure wrapping arithmetic (SimHash signatures/pairs, the rolling
  * fingerprint, the portable stratified sample), reproduced in SQL with
  * HUGEINT mod-2^64 math. Only genuinely engine-specific output stays
  * rows-only (MinHash-LSH and hyperplane/IVF ANN, whose banding/bucket
  * geometry has no SQL reproduction, and sketch-based approximates) —
  * those are verified against their exact counterparts in ScalaTest
  * (recall bounds).
  */
object LlmQueries {

  /** q_domain_gate stopword threshold (‰); the SAME value feeds the
    * query and its oracle, so they cannot desync. */
  private val domGatePermille = 55

  private val langIdCase =
    """CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
      |     WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
      |     WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
      |     WHEN s_de >= s_zh THEN 'de' ELSE 'zh' END""".stripMargin

  /** Shared CTE chain reproducing [[Dedup.simhash64]] bit-exact in
    * DuckDB: the portable code-point ×31 fold (PortableHash.cp31,
    * 32-bit wrapping) sign-extended to unsigned 64, fmix64 (the two 64×64-bit multiplies
    * split into 32-bit halves to stay inside INT128), then per-bit
    * majority votes. ONE definition interpolated into BOTH simhash
    * oracles so the arithmetic can never drift between them. Ends with
    * `sig(doc_id, u)` — u = the unsigned 64-bit signature. */
  private val simhashSigCte =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS t
      |  FROM documents),
      |hc AS (
      |  SELECT doc_id, t,
      |    list_reduce(
      |      list_prepend(CAST(0 AS HUGEINT),
      |        list_transform(regexp_extract_all(t, '(?s).'), c -> CAST(unicode(c) AS HUGEINT))),
      |      (h, c) -> (h * 31 + c) % 4294967296) AS u32
      |  FROM toks),
      |u64 AS (
      |  SELECT doc_id,
      |    CASE WHEN u32 >= 2147483648 THEN u32 + 18446744073709551616 - 4294967296 ELSE u32 END AS uh
      |  FROM hc),
      |fm2 AS (SELECT doc_id, xor(xor(uh, CAST(11400714819323198485 AS HUGEINT)), xor(uh, CAST(11400714819323198485 AS HUGEINT)) >> 33) AS h2 FROM u64),
      |fm3 AS (SELECT doc_id, (((((h2 % 4294967296) * 4283543511 + (h2 >> 32) * 3981806797) % 4294967296) * 4294967296 + (h2 % 4294967296) * 3981806797) % 18446744073709551616) AS h3 FROM fm2),
      |fm4 AS (SELECT doc_id, xor(h3, h3 >> 33) AS h4 FROM fm3),
      |fm5 AS (SELECT doc_id, (((((h4 % 4294967296) * 3301882366 + (h4 >> 32) * 444984403) % 4294967296) * 4294967296 + (h4 % 4294967296) * 444984403) % 18446744073709551616) AS h5 FROM fm4),
      |th AS (SELECT doc_id, xor(h5, h5 >> 33) AS h FROM fm5),
      |bits AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, range(64) r(b) GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN v > 0 THEN (CAST(1 AS HUGEINT) << b) ELSE CAST(0 AS HUGEINT) END) AS u
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Shared oracle CTE chain replaying [[Similarity.lloydFit]] bit-exact
    * with the registry parameters (auto-sized nLists =
    * `greatest(16, least(16384, n // 1024))` ≡ [[Similarity.autoNLists]],
    * both Lloyd rounds unrolled, fit rows = greatest(4096, 4·nl) ≡
    * [[Similarity.lloydFit]]'s scaled sample, bucket seeds 7/17):
    * portable-hash fit sample, hash-spread init, integerized
    * DECIMAL(38,0) centroid means, all dot products ordered folds
    * (`list_dot_product`). ONE definition interpolated into BOTH
    * q_embed_ann_ivf and q_embed_semdedup so the quantizer arithmetic
    * can never drift between them. Regenerate if either registry call's
    * parameters change. Ends with `cent2(list_id, cvec, cc)` over base
    * CTE `vv(vec_id, vec, vv)`. */
  private lazy val lloydOracleCtes: String =
    s"""vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
       |    list_dot_product(CAST(embedding AS DOUBLE[]),
       |                     CAST(embedding AS DOUBLE[])) AS vv
       |  FROM embeddings),
       |prm AS (SELECT COUNT(*) AS n FROM vv),
       |nlc AS (SELECT greatest(16, least(16384, n // 1024)) AS nl FROM prm),
       |fit AS (SELECT vv.* FROM vv, prm, nlc
       |  WHERE ${Sampling.portableBucketSql("vec_id", 7)} * n
       |    < greatest(4096, 4 * nl) * 10000),
       |init AS (SELECT vec, vv, list_id FROM (
       |  SELECT vec, vv,
       |      ROW_NUMBER() OVER (ORDER BY pb, vec_id) - 1 AS list_id
       |  FROM (SELECT vec_id, vec, vv,
       |      ${Sampling.portableBucketSql("vec_id", 17)} AS pb
       |    FROM fit)) WHERE list_id < (SELECT nl FROM nlc)),
       |cent0 AS (SELECT list_id, vec AS cvec, vv AS cc FROM init),
       |asg1 AS (SELECT vec_id, vec, vv, list_id FROM (
       |    SELECT f.vec_id, f.vec, f.vv, c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY f.vec_id
       |        ORDER BY f.vv + c.cc - 2*list_dot_product(f.vec, c.cvec),
       |                 c.list_id) AS rn
       |    FROM fit f CROSS JOIN cent0 c) WHERE rn = 1),
       |m1 AS (SELECT list_id, pos,
       |    CAST(SUM(CAST(floor(x*1e8 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
       |      / 1e8 / COUNT(*) AS c
       |  FROM (SELECT list_id, generate_subscripts(vec, 1) AS pos,
       |          unnest(vec) AS x FROM asg1)
       |  GROUP BY list_id, pos),
       |cent1 AS (SELECT list_id, cvec, list_dot_product(cvec, cvec) AS cc
       |  FROM (SELECT list_id, list(c ORDER BY pos) AS cvec
       |        FROM m1 GROUP BY list_id)),
       |asg2 AS (SELECT vec_id, vec, vv, list_id FROM (
       |    SELECT f.vec_id, f.vec, f.vv, c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY f.vec_id
       |        ORDER BY f.vv + c.cc - 2*list_dot_product(f.vec, c.cvec),
       |                 c.list_id) AS rn
       |    FROM fit f CROSS JOIN cent1 c) WHERE rn = 1),
       |m2 AS (SELECT list_id, pos,
       |    CAST(SUM(CAST(floor(x*1e8 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
       |      / 1e8 / COUNT(*) AS c
       |  FROM (SELECT list_id, generate_subscripts(vec, 1) AS pos,
       |          unnest(vec) AS x FROM asg2)
       |  GROUP BY list_id, pos),
       |cent2 AS (SELECT list_id, cvec, list_dot_product(cvec, cvec) AS cc
       |  FROM (SELECT list_id, list(c ORDER BY pos) AS cvec
       |        FROM m2 GROUP BY list_id)),
       |$superOracleCtes""".stripMargin

  /** The complete q_embed_ann_ivf oracle (probes over the cent2
    * quantizer, hierarchy-routed candidate assignment, cosine rank —
    * registry parameters nQueries=5, k=5, nProbe=4 hardcoded). ONE
    * definition shared by q_embed_ann_ivf and q_embed_ann_ivf_indexed:
    * the indexed query must answer bit-identically from its saved
    * parquet index, so the two oracles can never be allowed to
    * drift. */
  private lazy val ivfTopKOracleSql: String =
    s"""WITH $lloydOracleCtes,
       |probes AS (SELECT query_id, qvec, qvv, list_id FROM (
       |    SELECT q.vec_id AS query_id, q.vec AS qvec, q.vv AS qvv,
       |      c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY q.vv + c.cc - 2*list_dot_product(q.vec, c.cvec),
       |                 c.list_id) AS rn
       |    FROM (SELECT * FROM vv WHERE vec_id < 5) q
       |    CROSS JOIN cent2 c) WHERE rn <= 4),
       |cand AS (SELECT neighbor_id, cvec, cvv, list_id FROM (
       |    SELECT x.vec_id AS neighbor_id, x.vec AS cvec, x.vv AS cvv,
       |      c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY x.vv + c.cc - 2*list_dot_product(x.vec, c.cvec),
       |                 c.list_id) AS rn
       |    FROM (SELECT * FROM vv WHERE vec_id >= 5) x
       |    JOIN vsup vs ON vs.vec_id = x.vec_id
       |    JOIN hbranch br ON br.super_id = vs.super_id
       |    JOIN cent2 c ON c.list_id = br.list_id) WHERE rn = 1),
       |r AS (SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
       |      list_dot_product(qvec, cvec) / (sqrt(qvv) * sqrt(cvv)) DESC,
       |      neighbor_id) AS rank
       |  FROM probes p JOIN cand c USING (list_id))
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** q_embed_ann_ivf_int8's oracle: the [[ivfTopKOracleSql]] build
    * chain (same fit, same probes, same hierarchy-routed candidate
    * assignment) with the int8 ADC serving tail — candidates are
    * quantized with the q_embed_quantize_int8 arithmetic
    * (scale = max-abs ∨ 1e-30, floor(x/scale·127+0.5)), approximately
    * scored `scale/127 · dot(qvec, int8) / sqrt(cvv)` (the
    * graft_dot_id fold replayed as list_dot_product over the
    * exactly-cast ints), the top rerankK=32 per query (ties ascore
    * DESC, neighbor_id) re-ranked by exact cosine. Registry
    * parameters nQueries=5, k=5, nProbe=4, rerankK=32 hardcoded. */
  private lazy val ivfInt8OracleSql: String =
    s"""WITH $lloydOracleCtes,
       |probes AS (SELECT query_id, qvec, qvv, list_id FROM (
       |    SELECT q.vec_id AS query_id, q.vec AS qvec, q.vv AS qvv,
       |      c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY q.vv + c.cc - 2*list_dot_product(q.vec, c.cvec),
       |                 c.list_id) AS rn
       |    FROM (SELECT * FROM vv WHERE vec_id < 5) q
       |    CROSS JOIN cent2 c) WHERE rn <= 4),
       |cand AS (SELECT neighbor_id, cvec, cvv, list_id FROM (
       |    SELECT x.vec_id AS neighbor_id, x.vec AS cvec, x.vv AS cvv,
       |      c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY x.vv + c.cc - 2*list_dot_product(x.vec, c.cvec),
       |                 c.list_id) AS rn
       |    FROM (SELECT * FROM vv WHERE vec_id >= 5) x
       |    JOIN vsup vs ON vs.vec_id = x.vec_id
       |    JOIN hbranch br ON br.super_id = vs.super_id
       |    JOIN cent2 c ON c.list_id = br.list_id) WHERE rn = 1),
       |cs AS (SELECT neighbor_id, cvec, cvv, list_id,
       |    GREATEST(list_max(list_transform(cvec, x -> abs(x))), 1e-30)
       |      AS scale
       |  FROM cand),
       |cq AS (SELECT neighbor_id, cvv, list_id, scale,
       |    list_transform(cvec,
       |      x -> CAST(floor(x / scale * 127 + 0.5) AS INTEGER)) AS q8
       |  FROM cs),
       |sel AS (SELECT query_id, qvec, qvv, neighbor_id FROM (
       |    SELECT p.query_id, p.qvec, p.qvv, c.neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |        c.scale / 127 * list_dot_product(p.qvec,
       |          list_transform(c.q8, x -> CAST(x AS DOUBLE)))
       |          / sqrt(c.cvv) DESC,
       |        c.neighbor_id) AS ar
       |    FROM probes p JOIN cq c USING (list_id)) WHERE ar <= 32),
       |r AS (SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
       |      list_dot_product(s.qvec, e.vec) / (sqrt(s.qvv) * sqrt(e.vv))
       |        DESC,
       |      neighbor_id) AS rank
       |  FROM sel s JOIN vv e ON e.vec_id = s.neighbor_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** q_embed_ann_funnel's oracle: the [[ivfInt8OracleSql]] chain with
    * the 1-bit COARSE tier inserted between the probed-candidate join
    * and the int8 ADC — Hamming replayed by definition (count of sign
    * disagreements ≡ popcount of the packed xor, the q_embed_ann_hamming
    * precedent), top coarseK=64 per query (ties ham asc, neighbor_id),
    * then ADC top rerankK=32, then exact re-rank. Registry parameters
    * nQueries=5, k=5, nProbe=4, coarseK=64, rerankK=32 hardcoded. */
  private lazy val ivfFunnelOracleSql: String =
    s"""WITH $lloydOracleCtes,
       |probes AS (SELECT query_id, qvec, qvv, list_id FROM (
       |    SELECT q.vec_id AS query_id, q.vec AS qvec, q.vv AS qvv,
       |      c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY q.vv + c.cc - 2*list_dot_product(q.vec, c.cvec),
       |                 c.list_id) AS rn
       |    FROM (SELECT * FROM vv WHERE vec_id < 5) q
       |    CROSS JOIN cent2 c) WHERE rn <= 4),
       |cand AS (SELECT neighbor_id, cvec, cvv, list_id FROM (
       |    SELECT x.vec_id AS neighbor_id, x.vec AS cvec, x.vv AS cvv,
       |      c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY x.vv + c.cc - 2*list_dot_product(x.vec, c.cvec),
       |                 c.list_id) AS rn
       |    FROM (SELECT * FROM vv WHERE vec_id >= 5) x
       |    JOIN vsup vs ON vs.vec_id = x.vec_id
       |    JOIN hbranch br ON br.super_id = vs.super_id
       |    JOIN cent2 c ON c.list_id = br.list_id) WHERE rn = 1),
       |coarse AS (SELECT query_id, qvec, qvv, neighbor_id, cvec, cvv FROM (
       |    SELECT p.query_id, p.qvec, p.qvv, c.neighbor_id, c.cvec, c.cvv,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |        len(list_filter(range(1, len(p.qvec) + 1),
       |          i -> (p.qvec[i] > 0) != (c.cvec[i] > 0))),
       |        c.neighbor_id) AS cr
       |    FROM probes p JOIN cand c USING (list_id)) WHERE cr <= 64),
       |cs AS (SELECT query_id, qvec, qvv, neighbor_id, cvec, cvv,
       |    GREATEST(list_max(list_transform(cvec, x -> abs(x))), 1e-30)
       |      AS scale
       |  FROM coarse),
       |cq AS (SELECT query_id, qvec, qvv, neighbor_id, cvv, scale,
       |    list_transform(cvec,
       |      x -> CAST(floor(x / scale * 127 + 0.5) AS INTEGER)) AS q8
       |  FROM cs),
       |sel AS (SELECT query_id, qvec, qvv, neighbor_id FROM (
       |    SELECT query_id, qvec, qvv, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
       |        scale / 127 * list_dot_product(qvec,
       |          list_transform(q8, x -> CAST(x AS DOUBLE)))
       |          / sqrt(cvv) DESC,
       |        neighbor_id) AS ar
       |    FROM cq) WHERE ar <= 32),
       |r AS (SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
       |      list_dot_product(s.qvec, e.vec) / (sqrt(s.qvv) * sqrt(e.vv))
       |        DESC,
       |      neighbor_id) AS rank
       |  FROM sel s JOIN vv e ON e.vec_id = s.neighbor_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Replay of [[Similarity.superQuantizer]] + the two-level corpus
    * assignment ([[Similarity.hierArgminCol]] / graft_hier_argmin):
    * super count = smallest s with s² ≥ k (integer-only); init = the
    * ns children with smallest (portableBucket(list_id, 17), list_id),
    * numbered in that order; two Lloyd rounds over the k children with
    * the integerized DECIMAL(38,0) mean path; `hbranch` = each child's
    * final super; `hsup` drops childless supers (so no vector can
    * strand); `vsup` = each corpus vector's nearest populated super.
    * Consumers argmin the children of `vsup`'s branch only — ties
    * (d2, id) at every level, all dot products ordered folds. Appended
    * to [[lloydOracleCtes]] so the hierarchy can never drift from the
    * child fit it quantizes. */
  private lazy val superOracleCtes: String =
    s"""hns AS (SELECT MIN(s) AS ns FROM range(1, 130) r(s),
       |    (SELECT COUNT(*) AS k FROM cent2) kc WHERE s*s >= kc.k),
       |hinit AS (SELECT super_id, cvec AS svec, cc AS sc FROM (
       |    SELECT cvec, cc,
       |      ROW_NUMBER() OVER (ORDER BY ${Sampling.portableBucketSql("list_id", 17)},
       |        list_id) - 1 AS super_id
       |    FROM cent2) WHERE super_id < (SELECT ns FROM hns)),
       |hasg1 AS (SELECT list_id, cvec, cc, super_id FROM (
       |    SELECT c.list_id, c.cvec, c.cc, s.super_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.list_id
       |        ORDER BY c.cc + s.sc - 2*list_dot_product(c.cvec, s.svec),
       |                 s.super_id) AS rn
       |    FROM cent2 c CROSS JOIN hinit s) WHERE rn = 1),
       |hm1 AS (SELECT super_id, pos,
       |    CAST(SUM(CAST(floor(x*1e8 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
       |      / 1e8 / COUNT(*) AS c
       |  FROM (SELECT super_id, generate_subscripts(cvec, 1) AS pos,
       |          unnest(cvec) AS x FROM hasg1)
       |  GROUP BY super_id, pos),
       |hcent1 AS (SELECT super_id, svec, list_dot_product(svec, svec) AS sc
       |  FROM (SELECT super_id, list(c ORDER BY pos) AS svec
       |        FROM hm1 GROUP BY super_id)),
       |hasg2 AS (SELECT list_id, cvec, cc, super_id FROM (
       |    SELECT c.list_id, c.cvec, c.cc, s.super_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.list_id
       |        ORDER BY c.cc + s.sc - 2*list_dot_product(c.cvec, s.svec),
       |                 s.super_id) AS rn
       |    FROM cent2 c CROSS JOIN hcent1 s) WHERE rn = 1),
       |hm2 AS (SELECT super_id, pos,
       |    CAST(SUM(CAST(floor(x*1e8 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
       |      / 1e8 / COUNT(*) AS c
       |  FROM (SELECT super_id, generate_subscripts(cvec, 1) AS pos,
       |          unnest(cvec) AS x FROM hasg2)
       |  GROUP BY super_id, pos),
       |hcent2 AS (SELECT super_id, svec, list_dot_product(svec, svec) AS sc
       |  FROM (SELECT super_id, list(c ORDER BY pos) AS svec
       |        FROM hm2 GROUP BY super_id)),
       |hbranch AS (SELECT list_id, super_id FROM (
       |    SELECT c.list_id, s.super_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.list_id
       |        ORDER BY c.cc + s.sc - 2*list_dot_product(c.cvec, s.svec),
       |                 s.super_id) AS rn
       |    FROM cent2 c CROSS JOIN hcent2 s) WHERE rn = 1),
       |hsup AS (SELECT super_id, svec, sc FROM hcent2
       |  WHERE super_id IN (SELECT super_id FROM hbranch)),
       |vsup AS (SELECT vec_id, super_id FROM (
       |    SELECT x.vec_id, s.super_id,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY x.vv + s.sc - 2*list_dot_product(x.vec, s.svec),
       |                 s.super_id) AS rn
       |    FROM vv x CROSS JOIN hsup s) WHERE rn = 1)""".stripMargin

  val all: Seq[Q] = Seq(

    // ----- text analysis --------------------------------------------------

    Q("q_text_exact_dedup",
      (s, dir) => Dedup.exactGroups(documents(s, dir)).orderBy("fingerprint"),
      Some("""SELECT md5(lower(trim(text))) AS fingerprint,
             |  MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
             |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin)),

    Q("q_text_token_stats",
      (s, dir) => documents(s, dir).groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"),
          sum("n_chars").as("total_chars"))
        .withColumn("avg_chars",
          col("total_chars").cast("double") / col("n_docs"))
        .orderBy("lang"),
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
             |    AS total_tokens,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("q_text_quality",
      (s, dir) => TextAnalysis.qualityMetrics(documents(s, dir))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum("n_punct").as("total_punct"),
          sum("n_stopwords").as("total_stopwords"))
        .withColumn("stopword_ratio",
          col("total_stopwords").cast("double") / col("total_tokens"))
        .orderBy("source"),
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
             |    AS total_tokens,
             |  CAST(SUM(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
             |    AS BIGINT) AS total_punct,
             |  CAST(SUM(len(regexp_extract_all(text, '\b(the|a|of|and|to|is|in)\b')))
             |    AS BIGINT) AS total_stopwords,
             |  CAST(SUM(len(regexp_extract_all(text, '\b(the|a|of|and|to|is|in)\b')))
             |      AS DOUBLE) /
             |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
             |    AS stopword_ratio
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    Q("q_text_lang_id",
      (s, dir) => documents(s, dir)
        .withColumn("predicted", TextAnalysis.predictLang(col("text")))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted"),
      Some(s"""WITH scored AS (SELECT lang,
              |  len(regexp_extract_all(text, '\\b(the|and|of|is)\\b')) AS s_en,
              |  len(regexp_extract_all(text, '\\b(le|la|les|et|une)\\b')) AS s_fr,
              |  len(regexp_extract_all(text, '\\b(el|los|las|y|que)\\b')) AS s_es,
              |  len(regexp_extract_all(text, '\\b(der|die|und|das|ist)\\b')) AS s_de,
              |  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
              |FROM documents)
              |SELECT lang, $langIdCase AS predicted, COUNT(*) AS n
              |FROM scored GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin)),

    Q("q_text_bpe_tokens",
      (s, dir) => documents(s, dir).groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.bpeTokenCount(col("text"))).as("total_bpe_tokens"),
          max(TextAnalysis.bpeTokenCount(col("text"))).as("max_bpe_tokens"))
        .orderBy("lang"),
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')))
             |    AS BIGINT) AS total_bpe_tokens,
             |  CAST(MAX(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')))
             |    AS BIGINT) AS max_bpe_tokens
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // End-to-end corpus pipeline in ONE lazy plan — quality filter →
    // layout-independent stratified sample → sharded sequence packing —
    // the compose-don't-materialize story: Catalyst sees the whole
    // chain, so the quality predicates reach the scan and the sample
    // filter runs before the packing shuffle. Every stage is integer/
    // portable-hash arithmetic, so the full pipeline has an exact
    // DuckDB oracle. Filter: ≥ 20 tokens and punctuation ≤ 1/4 of
    // tokens (integer comparisons only — no FP thresholds to diverge).
    Q("q_pipeline_filter_sample_pack",
      (s, dir) => {
        val d = documents(s, dir)
        val quality = d.where(
          TextAnalysis.tokenCount(col("text")) >= 20 &&
          TextAnalysis.punctCount(col("text")) * 4 <=
            TextAnalysis.tokenCount(col("text")))
        val sampled = graft.operators.Sampling.stratifiedByHash(
          quality, when(col("lang") <= "en", 0.5).otherwise(0.2))
        graft.operators.Packing
          .packSummarySharded(sampled, 512, shardWidth = 100L)
          .orderBy("lang", "pack_id")
      },
      Some(s"""WITH kept AS (SELECT doc_id, lang, text FROM documents
              |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 20
              |    AND 4 * (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
              |        <= len(regexp_split_to_array(trim(text), '\\s+'))
              |    AND ${graft.operators.Sampling.portableBucketSql("doc_id", 42)}
              |        < (CASE WHEN lang <= 'en' THEN 0.5 ELSE 0.2 END) * 10000),
              |t AS (SELECT doc_id, lang, doc_id // 100 AS shard,
              |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
              |  FROM kept),
              |c AS (SELECT lang, shard, doc_id, n_tokens,
              |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              |  FROM t),
              |l AS (SELECT lang, shard, n_tokens,
              |    CAST(FLOOR(cum_before / 512.0) AS BIGINT) AS local_pack FROM c),
              |o AS (SELECT lang, shard, MAX(local_pack) + 1 AS n_packs
              |  FROM l GROUP BY lang, shard),
              |o2 AS (SELECT lang, shard,
              |    CAST(COALESCE(SUM(n_packs) OVER (PARTITION BY lang ORDER BY shard
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pack_offset
              |  FROM o)
              |SELECT l.lang, l.local_pack + o2.pack_offset AS pack_id,
              |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
              |FROM l JOIN o2 ON l.lang = o2.lang AND l.shard = o2.shard
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TF-IDF salient-term extraction: score = (tf/len)·N/df — no log-IDF
    // because ln's last ulp is libm-dependent, while this fixed-order
    // IEEE chain over exact integers is bit-reproducible in any engine
    // (same per-document ranking). One (doc_id, word) shuffle + a
    // vocab-sized df join + a bounded top-k window per doc.
    Q("q_text_tfidf",
      (s, dir) => TextAnalysis.tfidfTopTerms(documents(s, dir), 3)
        .orderBy("doc_id", "rn"),
      Some("""WITH w AS (SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
             |len AS (SELECT doc_id, COUNT(*) AS len FROM w GROUP BY 1),
             |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents)
             |SELECT doc_id, word, score, rn FROM (
             |  SELECT tf.doc_id, tf.word,
             |    CAST(tf.tf AS DOUBLE) / len.len * n.n_docs / df.df AS score,
             |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
             |      ORDER BY CAST(tf.tf AS DOUBLE) / len.len * n.n_docs / df.df DESC,
             |        tf.word) AS rn
             |  FROM tf JOIN len ON tf.doc_id = len.doc_id
             |    JOIN df ON tf.word = df.word CROSS JOIN n)
             |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    // Per-label embedding centroids (the k-means/IVF training step and
    // class-prototype computation) — posexplode + (label, pos) decimal
    // aggregation, one shuffle, no per-group collect. Components are
    // integerized with floor(v·1e8 + 0.5) before the sum (the
    // quantizeInt8 parity trick) so the order-dependent double SUM
    // becomes an exact integer sum and DuckDB reproduces every centroid
    // bit-for-bit.
    Q("q_embed_centroids",
      (s, dir) => graft.operators.Similarity
        .centroidsByLabel(embeddings(s, dir))
        .orderBy("label", "pos"),
      Some("""WITH e AS (SELECT label, unnest(embedding) AS v,
             |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
             |  FROM embeddings)
             |SELECT label, pos,
             |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 100000000.0 + 0.5) AS HUGEINT))
             |      AS DOUBLE) / COUNT(*) / 100000000.0 AS centroid,
             |  COUNT(*) AS n_vecs
             |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Sequence packing: fixed token-budget packs per lang (the
    // dedup→pack step of a training-data pipeline). Runs the SHARDED
    // formulation — composite (lang, shard) window key + broadcast
    // offset join — so the window's parallelism grows with the corpus
    // instead of capping at ~5 langs; the oracle reproduces the same
    // shard-composite greedy (packs realign at shard edges by design).
    Q("q_pack_sequences",
      (s, dir) => graft.operators.Packing
        .packSummarySharded(documents(s, dir), 512, shardWidth = 100L)
        .orderBy("lang", "pack_id"),
      Some("""WITH t AS (SELECT doc_id, lang, doc_id // 100 AS shard,
             |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
             |  FROM documents),
             |c AS (SELECT lang, shard, doc_id, n_tokens,
             |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             |  FROM t),
             |l AS (SELECT lang, shard, n_tokens,
             |    CAST(FLOOR(cum_before / 512.0) AS BIGINT) AS local_pack FROM c),
             |o AS (SELECT lang, shard, MAX(local_pack) + 1 AS n_packs
             |  FROM l GROUP BY lang, shard),
             |o2 AS (SELECT lang, shard,
             |    CAST(COALESCE(SUM(n_packs) OVER (PARTITION BY lang ORDER BY shard
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pack_offset
             |  FROM o)
             |SELECT l.lang, l.local_pack + o2.pack_offset AS pack_id,
             |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
             |FROM l JOIN o2 ON l.lang = o2.lang AND l.shard = o2.shard
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Generator/UDTF surface (SURVEY §2.11 lists it absent in the
    // reference): explode a split column into rows — the vocabulary
    // histogram every tokenizer-training pipeline starts from. The
    // explode runs inside whole-stage codegen; the top-k is
    // TakeOrderedAndProject.
    Q("q_gen_explode_wordcount",
      (s, dir) => documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word")).limit(20),
      Some("""SELECT word, COUNT(*) AS n FROM (
             |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
             |  FROM documents)
             |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin)),

    // Stratified (class-balanced) sampling — the lang-balanced
    // subsampling step of a corpus pipeline. Membership is a pure
    // function of (doc_id, seed) — NOT sampleBy's rand(seed), whose
    // draw order depends on physical partition layout — so the sample
    // is reproducible under any file split, repartition, or ENGINE: the
    // portable Lehmer+xor-fold hash (Sampling.portableBucket) is plain
    // 64-bit arithmetic, so the DuckDB oracle reproduces the sample
    // row-for-row. Rates + layout-independence in LlmOperatorsSpec.
    Q("q_sample_stratified",
      (s, dir) => graft.operators.Sampling.stratifiedByHash(
          documents(s, dir),
          when(col("lang") <= "en", 0.5).otherwise(0.2))
        .select("doc_id", "lang").orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang FROM documents
              |WHERE ${graft.operators.Sampling.portableBucketSql("doc_id", 42)}
              |  < (CASE WHEN lang <= 'en' THEN 0.5 ELSE 0.2 END) * 10000
              |ORDER BY doc_id""".stripMargin)),

    // 64-bit polynomial fingerprint, oracled: DuckDB reproduces the
    // wrapping-Long fold with HUGEINT arithmetic mod 2^64 over the
    // Unicode code points (both engines fold code points, so the hash
    // survives off-BMP text), then re-signs into BIGINT range.
    Q("q_text_fingerprint_rolling",
      (s, dir) => documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.rollingHash64(col("text")).as("fingerprint64"))
        .orderBy("doc_id"),
      Some("""WITH f AS (SELECT doc_id,
             |    CASE WHEN text IS NULL THEN CAST(0 AS HUGEINT) ELSE
             |    list_reduce(
             |      list_prepend(CAST(1125899906842597 AS HUGEINT),
             |        list_transform(
             |          regexp_extract_all(
             |            translate(trim(text, ' ' || chr(9) || chr(10) || chr(13)),
             |              'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
             |            '(?s).'),
             |          c -> CAST(unicode(c) AS HUGEINT))),
             |      (h, c) -> (h * 1000003 + c) % 18446744073709551616)
             |    END AS u
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
             |            ELSE u END AS BIGINT) AS fingerprint64
             |FROM f ORDER BY doc_id""".stripMargin)),

    // PII redaction (the CCNet/Dolma scrub pass): synthetic emails / IPs
    // / phone numbers are INJECTED deterministically into half the
    // corpus (the raw corpus carries none, which would verify only the
    // no-op path), then scrubbed to placeholder tokens with per-kind
    // counts. Patterns are RE2-compatible so both engines evaluate the
    // identical regexes; one map-side pass, no shuffle, pure codegen.
    Q("q_text_pii_redact",
      (s, dir) => {
        val injected = documents(s, dir).select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" reach me at user"),
              col("doc_id").cast("string"),
              lit("@example.com or +1-555-0199 host 10."),
              (col("doc_id") % 256).cast("string"), lit(".0.1")))
            .otherwise(col("text")).as("text"))
        // r13: the fused native kernel — one UTF-8 decode + 3-5 matcher
        // scans per doc vs six regexp expressions (six decodes + three
        // count-only match arrays). Parity with the composable form is
        // pinned in PiiRedactSpec; the struct rides its own projection
        // so the four field reads share ONE evaluation (CollapseProject
        // won't re-inline a non-cheap alias used 4x).
        graft.plans.PiiRedact.register(s)
        injected.withColumn("pii", TextAnalysis.redactPiiFused(col("text")))
          .select(col("doc_id"), col("pii.n_emails").as("n_emails"),
            col("pii.n_ips").as("n_ips"), col("pii.n_phones").as("n_phones"),
            col("pii.redacted_text").as("redacted_text"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN
             |      text || ' reach me at user' || doc_id
             |        || '@example.com or +1-555-0199 host 10.'
             |        || (doc_id % 256) || '.0.1'
             |    ELSE text END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text,
             |    '${TextAnalysis.emailPattern}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(text,
             |    '${TextAnalysis.ipv4Pattern}')) AS BIGINT) AS n_ips,
             |  CAST(len(regexp_extract_all(text,
             |    '${TextAnalysis.phonePattern}')) AS BIGINT) AS n_phones,
             |  regexp_replace(regexp_replace(regexp_replace(text,
             |    '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
             |    '${TextAnalysis.ipv4Pattern}', '<IP>', 'g'),
             |    '${TextAnalysis.phonePattern}', '<PHONE>', 'g') AS redacted_text
             |FROM t ORDER BY doc_id""".stripMargin)),

    // ----- dedup ----------------------------------------------------------

    // Threshold 0.9 ("almost identical"): this synthetic corpus draws all
    // docs from one small vocabulary, so typical pairwise word-set J is
    // already ~0.6 and any low threshold makes the TRUE answer itself
    // quadratic. 0.9 keeps the answer a near-dup set and lets the size
    // bound + banding prune hard.
    Q("q_dedup_ngram_jaccard",
      (s, dir) => Dedup.jaccardPairs(documents(s, dir), 0.9)
        .orderBy("doc_a", "doc_b"),
      Some("""WITH t AS (SELECT doc_id, lang,
             |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
             |  FROM documents),
             |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    len(list_intersect(a.toks, b.toks)) AS inter,
             |    len(a.toks) AS na, len(b.toks) AS nb
             |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |    AND len(a.toks) >= len(b.toks) * 0.9 AND len(b.toks) >= len(a.toks) * 0.9)
             |SELECT doc_a, doc_b,
             |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
             |FROM p WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.9
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Cluster assignment over the Jaccard pair graph: smallest-reachable
    // doc_id per document (iterative label propagation in Spark, a
    // recursive transitive-closure CTE in DuckDB — two independent CC
    // formulations verifying each other).
    // Scoped to one language: the pair graph of THIS corpus is ~25×
    // denser than a real near-dup graph (shared 40-word vocabulary), and
    // the full-corpus clustering is already covered by the operator's
    // unit test — the registry query verifies the algorithm, not GC
    // endurance.
    Q("q_dedup_clusters",
      (s, dir) => {
        val scoped = documents(s, dir).where(col("lang") === "de")
        Dedup.duplicateClusters(Dedup.jaccardPairs(scoped, 0.9), scoped)
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id, lang,
             |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
             |  FROM documents WHERE lang = 'de'),
             |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |    AND len(a.toks) >= len(b.toks) * 0.9 AND len(b.toks) >= len(a.toks) * 0.9
             |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9),
             |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
             |  UNION ALL SELECT doc_b, doc_a FROM p),
             |reach AS (
             |  SELECT src AS doc, dst AS other FROM e
             |  UNION
             |  SELECT r.doc, e.dst FROM reach r JOIN e ON r.other = e.src)
             |SELECT d.doc_id,
             |  LEAST(d.doc_id, COALESCE(MIN(r.other), d.doc_id)) AS cluster_id
             |FROM documents d LEFT JOIN reach r ON r.doc = d.doc_id
             |WHERE d.lang = 'de'
             |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // b=8, r=8: collision prob ≈0.99 at J=0.9, ≈0.03 at J=0.5 — the
    // banding itself prunes the low-similarity mass of this corpus.
    // Like the hyperplane ANN, MinHash-LSH is "approximate" only in
    // recall — every number it produces is deterministic arithmetic, so
    // the ENTIRE banded pipeline has an independent DuckDB oracle:
    // per-permutation tokenHash (code-point ×31 fold ^ fmix64-scrambled
    // seed, the same 32-bit-split HUGEINT machinery as the simhash
    // oracle), SIGNED-long minima (Scala compares signed), the in-band
    // 31-polynomial bucket fold, candidate join, the ≥ 48/64
    // signature-agreement gate, and exact token-set Jaccard — which
    // also independently proves banding+gate lose no emitted pair.
    //
    // DELIVERY NOTE (r13 verdict; operator landed r15): the trailing
    // global orderBy(doc_a, doc_b) exists so the DuckDB hash compare
    // sees a canonical row order — at sf100 it is ~154 s of the
    // query's cost, sorting a 959.9M-row ANSWER whose production is
    // already at its attributed floor (sig 42 s / bucket exchange
    // ~220 s / gate+verify answer-bound). At 100 TB the canonical-
    // order CONTRACT itself is the scale-killer, not the operator:
    // a pair answer that size is delivered by
    // io.Tables.writeShardedPairs — arithmetic range-disjoint shards,
    // one hash exchange (no RangePartitioner sampling pass), each
    // shard one internally-sorted file; concat in boundary order ≡
    // this global sort (ShardedPairsSpec pins it; sf100 A/B in
    // BASELINE.md r15 via tools/ProbeShards). The oracle keeps the
    // orderBy because the harness compares one hash, not a sharded
    // layout.
    Q("q_dedup_minhash_lsh",
      (s, dir) => Dedup.minhashLshPairs(documents(s, dir), 0.9,
        bands = 8, rows = 8).orderBy("doc_a", "doc_b"),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS t
             |  FROM documents),
             |toksets AS (
             |  SELECT doc_id, list(t) AS ts, COUNT(*) AS n FROM toks GROUP BY doc_id),
             |hc AS (
             |  SELECT doc_id, t,
             |    list_reduce(
             |      list_prepend(CAST(0 AS HUGEINT),
             |        list_transform(regexp_extract_all(t, '(?s).'), c -> CAST(unicode(c) AS HUGEINT))),
             |      (h, c) -> (h * 31 + c) % 4294967296) AS u32
             |  FROM toks),
             |u64 AS (
             |  SELECT doc_id, t,
             |    CASE WHEN u32 >= 2147483648 THEN u32 + 18446744073709551616 - 4294967296 ELSE u32 END AS uh
             |  FROM hc),
             |perms AS (
             |  SELECT CAST(i AS INT) AS i,
             |    (CAST(11400714819323198485 AS HUGEINT) * (i + 1)) % 18446744073709551616 AS xork
             |  FROM range(64) r(i)),
             |f1 AS (SELECT doc_id, t, i, xor(uh, xork) AS h1 FROM u64, perms),
             |f2 AS (SELECT doc_id, t, i, xor(h1, h1 >> 33) AS h2 FROM f1),
             |f3 AS (SELECT doc_id, t, i, (((((h2 % 4294967296) * 4283543511 + (h2 >> 32) * 3981806797) % 4294967296) * 4294967296 + (h2 % 4294967296) * 3981806797) % 18446744073709551616) AS h3 FROM f2),
             |f4 AS (SELECT doc_id, t, i, xor(h3, h3 >> 33) AS h4 FROM f3),
             |f5 AS (SELECT doc_id, t, i, (((((h4 % 4294967296) * 3301882366 + (h4 >> 32) * 444984403) % 4294967296) * 4294967296 + (h4 % 4294967296) * 444984403) % 18446744073709551616) AS h5 FROM f4),
             |th AS (SELECT doc_id, i, xor(h5, h5 >> 33) AS h FROM f5),
             |sig AS (  -- Scala compares SIGNED longs: re-sign before MIN
             |  SELECT doc_id, i,
             |    MIN(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END) AS s
             |  FROM th GROUP BY doc_id, i),
             |bands AS (
             |  SELECT doc_id, CAST(i // 8 AS INT) AS bd,
             |    list(CASE WHEN s < 0 THEN CAST(s AS HUGEINT) + 18446744073709551616 ELSE CAST(s AS HUGEINT) END ORDER BY i) AS ss
             |  FROM sig GROUP BY doc_id, i // 8),
             |buckets AS (
             |  SELECT doc_id, bd,
             |    CAST(bd AS BIGINT) * 72057594037927936 +
             |      CAST(list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), ss),
             |        (a, x) -> (a * 31 + x) % 18446744073709551616) % 281474976710656 AS BIGINT) AS bucket
             |  FROM bands),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM buckets a JOIN buckets b ON a.bucket = b.bucket
             |  WHERE a.doc_id < b.doc_id),
             |gated AS (
             |  SELECT c.doc_a, c.doc_b
             |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
             |    JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
             |  GROUP BY c.doc_a, c.doc_b
             |  HAVING SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) >= 48),
             |verified AS (
             |  SELECT g.doc_a, g.doc_b,
             |    CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
             |      / (ta.n + tb.n - len(list_intersect(ta.ts, tb.ts))) AS jaccard
             |  FROM gated g JOIN toksets ta ON ta.doc_id = g.doc_a
             |    JOIN toksets tb ON tb.doc_id = g.doc_b)
             |SELECT doc_a, doc_b, jaccard FROM verified
             |WHERE jaccard >= 0.9 ORDER BY doc_a, doc_b""".stripMargin)),

    // SimHash signatures, oracled: tokenHash is the portable code-point
    // ×31 fold (32-bit wrapping) xor'd/scrambled by fmix64 — every step is
    // plain modular arithmetic, so DuckDB reproduces the EXACT 64-bit
    // signature with HUGEINT mod-2^64 math (64×64-bit multiplies split
    // into 32-bit halves to stay inside INT128), then takes the same
    // per-bit majority votes. Verified bit-exact across engines.
    Q("q_dedup_simhash",
      (s, dir) => Dedup.simhashSignatures(documents(s, dir)).orderBy("doc_id"),
      Some(s"""$simhashSigCte
              |SELECT doc_id,
              |  CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS simhash,
              |  CAST(u >> 48 AS INT) AS bucket
              |FROM sig ORDER BY doc_id""".stripMargin)),

    // Pairs oracle: DuckDB reproduces the bit-exact signatures (same
    // CTE chain as q_dedup_simhash) and then brute-forces hamming <= 3
    // over all pairs — an INDEPENDENT formulation that also proves the
    // Spark side's pigeonhole chunk blocking loses no pair.
    Q("q_dedup_simhash_pairs",
      (s, dir) => Dedup.simhashNearDupPairs(documents(s, dir), 3)
        .orderBy("doc_a", "doc_b"),
      Some(s"""$simhashSigCte,
              |s2 AS (SELECT doc_id,
              |  CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS simhash
              |FROM sig)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // ----- similarity search ----------------------------------------------

    Q("q_embed_knn_exact",
      (s, dir) => Similarity.exactTopK(embeddings(s, dir), 5, 5)
        .orderBy("query_id", "rank"),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, vec AS qvec FROM v WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id, vec AS cvec FROM v WHERE vec_id >= 5),
             |s AS (SELECT query_id, neighbor_id,
             |    list_dot_product(qvec, cvec) /
             |      (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(cvec, cvec)))
             |      AS cos
             |  FROM q CROSS JOIN c),
             |r AS (SELECT query_id, neighbor_id,
             |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
             |      AS rank FROM s)
             |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // 1-bit (sign) quantization: the third rung of the compression
    // ladder (float → int8 → 1 bit). The oracle rebuilds each packed
    // 64-bit word as an MSB-first HUGEINT fold over the sign bits and
    // re-signs to BIGINT (the fmix64 precedent) — generic over d via
    // the nested comprehension, COALESCE padding the last word.
    Q("q_embed_quantize_binary",
      (s, dir) => {
        graft.plans.SignPack.register(s)
        // the compare harness can't hash array cells (the int8-quantize
        // precedent), so the signature rides out as scalar witnesses:
        // the first word verbatim (bit-exact packing), the word count,
        // and the total popcount across all words. sig staged through
        // its own projection (non-cheap alias read 3x).
        embeddings(s, dir).where(col("embedding").isNotNull)
          .withColumn("sig", graft.plans.SignPack.packCol(
            col("embedding").cast("array<double>")))
          .select(col("vec_id"),
            element_at(col("sig"), 1).as("sig_w0"),
            size(col("sig")).cast("long").as("n_words"),
            aggregate(col("sig"), lit(0L),
              (a, w) => a + bit_count(w)).as("popcnt"))
          .orderBy("vec_id")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
             |  FROM embeddings WHERE embedding IS NOT NULL),
             |w AS (SELECT vec_id,
             |    [ list_reduce(
             |        list_prepend(CAST(0 AS HUGEINT),
             |          [CASE WHEN COALESCE(vec[wi*64 + j] > 0, false)
             |                THEN CAST(1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
             |           FOR j IN range(64, 0, -1)]),
             |        (h, b) -> h * 2 + b)
             |      FOR wi IN range(0, (len(vec) + 63) // 64) ] AS uwords
             |  FROM v),
             |sg AS (SELECT vec_id,
             |    [CAST(CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
             |          THEN u - CAST(18446744073709551616 AS HUGEINT)
             |          ELSE u END AS BIGINT) FOR u IN uwords] AS sig
             |  FROM w)
             |SELECT vec_id, sig[1] AS sig_w0,
             |  CAST(len(sig) AS BIGINT) AS n_words,
             |  CAST(list_sum(list_transform(sig, w -> bit_count(w)))
             |    AS BIGINT) AS popcnt
             |FROM sg ORDER BY vec_id""".stripMargin)),

    // 1-bit ANN: coarse Hamming top-rerankK over the packed signatures
    // (the corpus scan reads 1/32 the bytes of the float column), exact
    // cosine re-rank of the survivors. Deterministic end to end, so the
    // oracle replays it fully — Hamming by its DEFINITION (count of
    // sign disagreements ≡ popcount of the packed xor), then the same
    // ordered-fold cosine re-rank as q_embed_knn_exact. Registry
    // parameters nQueries=5, k=5, rerankK=48.
    Q("q_embed_ann_hamming",
      (s, dir) => Similarity.hammingTopK(embeddings(s, dir), 5, 5, 48)
        .orderBy("query_id", "rank"),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, vec AS qvec FROM v WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id, vec AS cvec FROM v WHERE vec_id >= 5),
             |h AS (SELECT query_id, neighbor_id, qvec, cvec,
             |    len(list_filter(range(1, len(qvec) + 1),
             |      i -> (qvec[i] > 0) != (cvec[i] > 0))) AS ham
             |  FROM q CROSS JOIN c),
             |cand AS (SELECT query_id, neighbor_id, qvec, cvec FROM (
             |    SELECT query_id, neighbor_id, qvec, cvec,
             |      ROW_NUMBER() OVER (PARTITION BY query_id
             |        ORDER BY ham, neighbor_id) AS crank
             |    FROM h) WHERE crank <= 48),
             |rr AS (SELECT query_id, neighbor_id,
             |    list_dot_product(qvec, cvec) /
             |      (sqrt(list_dot_product(qvec, qvec)) *
             |       sqrt(list_dot_product(cvec, cvec))) AS cos
             |  FROM cand)
             |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
             |FROM (
             |  SELECT query_id, neighbor_id,
             |    ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, neighbor_id) AS rank
             |  FROM rr) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // The hyperplane-LSH ANN is "approximate" only in RECALL — its
    // output is fully deterministic (fixed-seed LCG hyperplanes, fixed-
    // order IEEE dot products), so it gets a complete oracle: the
    // recursive CTE replays the exact LCG (64-bit wrapping state via
    // HUGEINT with the 32-bit-split multiply; (s >> 11)/2^53 − 0.5
    // reproduces the double bit-for-bit), regenerates all 8×8×64 plane
    // components in fill order, rebuilds every bucket/candidate, and
    // re-ranks by the same ordered-fold cosine. MATCHed bit-exact.
    Q("q_embed_ann_lsh",
      (s, dir) => Similarity.annTopK(embeddings(s, dir), 5, 5)
        .orderBy("query_id", "rank"),
      Some("""WITH RECURSIVE lcg(k, s) AS (
             |  SELECT 0, (((((CAST(25214903917 AS HUGEINT) % 4294967296) * 1481765933 + (25214903917 >> 32) * 1284865837) % 4294967296) * 4294967296 + (25214903917 % 4294967296) * 1284865837) % 18446744073709551616 + 1442695040888963407) % 18446744073709551616
             |  UNION ALL
             |  SELECT k + 1, (((((s % 4294967296) * 1481765933 + (s >> 32) * 1284865837) % 4294967296) * 4294967296 + (s % 4294967296) * 1284865837) % 18446744073709551616 + 1442695040888963407) % 18446744073709551616 FROM lcg WHERE k < 4095),
             |pvals AS (
             |  SELECT CAST(k // 512 AS INT) AS t, CAST((k // 64) % 8 AS INT) AS b,
             |    CAST(k % 64 AS INT) AS i,
             |    CAST(s >> 11 AS DOUBLE) / 9007199254740992.0 - 0.5 AS p
             |  FROM lcg),
             |planes AS (
             |  SELECT t, b, list(p ORDER BY i) AS pl FROM pvals GROUP BY t, b),
             |v AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
             |vn AS (
             |  SELECT vec_id, vec,
             |    sqrt(list_reduce(list_prepend(0.0,
             |      list_transform(vec, x -> x * x)), (a, x) -> a + x)) AS nrm
             |  FROM v),
             |dots AS (
             |  SELECT vec_id, t, b,
             |    list_reduce(list_prepend(0.0,
             |      list_transform(list_zip(pl, vec), z -> z[1] * z[2])),
             |      (a, x) -> a + x) AS s
             |  FROM vn, planes),
             |buckets AS (
             |  SELECT vec_id, t,
             |    CAST(t AS BIGINT) * 4294967296 +
             |      SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS bucket
             |  FROM dots GROUP BY vec_id, t),
             |cand AS (
             |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
             |  FROM buckets q JOIN buckets c ON q.bucket = c.bucket
             |  WHERE q.vec_id < 5 AND c.vec_id >= 5),
             |scored AS (
             |  SELECT cand.query_id, cand.neighbor_id,
             |    list_reduce(list_prepend(0.0,
             |      list_transform(list_zip(qa.vec, ca.vec), z -> z[1] * z[2])),
             |      (a, x) -> a + x) / (qa.nrm * ca.nrm) AS cos
             |  FROM cand
             |  JOIN vn qa ON qa.vec_id = cand.query_id
             |  JOIN vn ca ON ca.vec_id = cand.neighbor_id),
             |r AS (
             |  SELECT query_id, neighbor_id,
             |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // IVF ANN is "approximate" only in RECALL: the fixed-iteration Lloyd
    // quantizer (portable-hash fit sample + hash-spread init + integerized
    // DECIMAL centroid means + ordered-fold dot products) is deterministic
    // pure arithmetic, so the oracle replays the ENTIRE operator — both
    // Lloyd rounds unrolled as CTEs — and must match bit-for-bit. The SQL
    // hardcodes the registry parameters (nQueries=5, k=5, nLists=16,
    // nProbe=4, iters=2, maxFitRows=4096, bucket seeds 7/17): regenerate
    // it if the registry call changes.
    Q("q_embed_ann_ivf",
      (s, dir) => Similarity.ivfTopK(embeddings(s, dir), 5, 5)
        .orderBy("query_id", "rank"),
      Some(ivfTopKOracleSql)),

    // The same ANN answer served from a PERSISTED index: build writes
    // the quantizer + list_id-clustered postings as parquet
    // (Similarity.buildIvfIndex), serve is the probe-only read path
    // (ivfTopKFromIndex) — the index lifecycle that amortizes the fit
    // over every query batch at corpus scale. The storage round-trip is
    // exact (IEEE doubles through parquet), so the oracle is the SAME
    // full Lloyd-replay SQL as q_embed_ann_ivf — the hash match proves
    // save → load → serve loses nothing vs the fused operator.
    Q("q_embed_ann_ivf_indexed",
      (s, dir) => {
        val ix = s.conf.get("spark.sql.warehouse.dir")
          .stripSuffix("/") + "/graft_ivf_index"
        Similarity.buildIvfIndex(embeddings(s, dir), ix)
        // the staged rebuild (r17) keeps the previous generation's
        // files for old-snapshot readers; this bench/verify REBUILD
        // context has none, so reclaim them or repeat runs into the
        // persistent warehouse accumulate superseded generations
        graft.io.Manifest.vacuum(s, ix)
        Similarity.ivfTopKFromIndex(s, ix, 5, 5)
          .orderBy("query_id", "rank")
      },
      Some(ivfTopKOracleSql)),

    // int8-compressed index serving (ADC + full-precision re-rank):
    // same fit/assignment as q_embed_ann_ivf_indexed, but the stored
    // postings are int8 (Similarity.buildIvfIndexInt8) and the
    // candidate ranking runs on the quantized dot with rerankK=32
    // exact-re-scored survivors — small enough that the int8 ordering
    // is DECISIVE (thousands of candidates per query at sf0.01), so
    // the oracle exercises the quantized arithmetic, not just the
    // exact tail. Full bit-exact DuckDB replay (every step is integer
    // or order-pinned double arithmetic).
    Q("q_embed_ann_ivf_int8",
      (s, dir) => {
        val ix = s.conf.get("spark.sql.warehouse.dir")
          .stripSuffix("/") + "/graft_ivf_index_q8"
        Similarity.buildIvfIndexInt8(embeddings(s, dir), ix)
        graft.io.Manifest.vacuum(s, ix) // reclaim the superseded build
        Similarity.ivfTopKFromIndexInt8(s, ix, embeddings(s, dir), 5, 5,
            nProbe = 4, rerankK = 32)
          .orderBy("query_id", "rank")
      },
      Some(ivfInt8OracleSql)),

    // The three-tier serving funnel — the actual 100 TB serve shape,
    // composing every tier the int8 index stores: 1-bit Hamming coarse
    // over the probed lists (the scan reads the sig column, ~32× fewer
    // bytes than the floats), int8 ADC over the coarse survivors,
    // exact re-rank of the ADC survivors. coarseK=64 < the per-query
    // candidate count and rerankK=32 < coarseK at sf0.01, so EVERY
    // tier's ordering is decisive in the oracle match. Deterministic
    // end-to-end; DuckDB replays the full chain (Hamming by its
    // definition — count of sign disagreements).
    Q("q_embed_ann_funnel",
      (s, dir) => {
        val ix = s.conf.get("spark.sql.warehouse.dir")
          .stripSuffix("/") + "/graft_ivf_index_funnel"
        Similarity.buildIvfIndexInt8(embeddings(s, dir), ix)
        graft.io.Manifest.vacuum(s, ix) // reclaim the superseded build
        Similarity.ivfTopKFromIndexFunnel(s, ix, embeddings(s, dir), 5, 5,
            nProbe = 4, coarseK = 64, rerankK = 32)
          .orderBy("query_id", "rank")
      },
      Some(ivfFunnelOracleSql)),

    // Three-level (tree) IVF — the beyond-16M-vectors fit
    // (Similarity.treeFit): supers from the distributed lloydFit at
    // ns = ceil-sqrt(nLists), children from a grouped per-super Lloyd
    // over the scaled fit sample, corpus assignment super→child with
    // no k-sized literal and no driver-side child state. Deterministic
    // pure arithmetic end-to-end, so the oracle replays the ENTIRE
    // chain: the super Lloyd (2 rounds), the child-sample super
    // assignment, the grouped child Lloyd (2 rounds), flat ids
    // list_id = super_id*cq + child_idx, flat probe ranking, and the
    // populated-super corpus routing. Registry parameters hardcoded
    // (nQueries=25, k=5, nLists=48 → ns=7, cq=7, nProbe=4, iters=2,
    // maxFitRows=4096, seeds 7/17): regenerate if the call changes.
    Q("q_embed_ann_ivf_tree",
      (s, dir) => Similarity.ivfTopKTree(embeddings(s, dir), 25, 5,
          nLists = 48)
        .orderBy("query_id", "rank"),
      Some(s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
             |    list_dot_product(CAST(embedding AS DOUBLE[]),
             |                     CAST(embedding AS DOUBLE[])) AS vv
             |  FROM embeddings),
             |prm AS (SELECT COUNT(*) AS n FROM vv),
             |sfit AS (SELECT vv.* FROM vv, prm
             |  WHERE ${Sampling.portableBucketSql("vec_id", 7)} * n
             |    < greatest(4096, 4 * 7) * 10000),
             |sinit AS (SELECT vec, vv, super_id FROM (
             |  SELECT vec, vv,
             |      ROW_NUMBER() OVER (ORDER BY pb, vec_id) - 1 AS super_id
             |  FROM (SELECT vec_id, vec, vv,
             |      ${Sampling.portableBucketSql("vec_id", 17)} AS pb
             |    FROM sfit)) WHERE super_id < 7),
             |scent0 AS (SELECT super_id, vec AS svec, vv AS sc FROM sinit),
             |sasg1 AS (SELECT vec_id, vec, vv, super_id FROM (
             |    SELECT f.vec_id, f.vec, f.vv, c.super_id,
             |      ROW_NUMBER() OVER (PARTITION BY f.vec_id
             |        ORDER BY f.vv + c.sc - 2*list_dot_product(f.vec, c.svec),
             |                 c.super_id) AS rn
             |    FROM sfit f CROSS JOIN scent0 c) WHERE rn = 1),
             |sm1 AS (SELECT super_id, pos,
             |    CAST(SUM(CAST(floor(x*1e8 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
             |      / 1e8 / COUNT(*) AS c
             |  FROM (SELECT super_id, generate_subscripts(vec, 1) AS pos,
             |          unnest(vec) AS x FROM sasg1)
             |  GROUP BY super_id, pos),
             |scent1 AS (SELECT super_id, svec, list_dot_product(svec, svec) AS sc
             |  FROM (SELECT super_id, list(c ORDER BY pos) AS svec
             |        FROM sm1 GROUP BY super_id)),
             |sasg2 AS (SELECT vec_id, vec, vv, super_id FROM (
             |    SELECT f.vec_id, f.vec, f.vv, c.super_id,
             |      ROW_NUMBER() OVER (PARTITION BY f.vec_id
             |        ORDER BY f.vv + c.sc - 2*list_dot_product(f.vec, c.svec),
             |                 c.super_id) AS rn
             |    FROM sfit f CROSS JOIN scent1 c) WHERE rn = 1),
             |sm2 AS (SELECT super_id, pos,
             |    CAST(SUM(CAST(floor(x*1e8 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
             |      / 1e8 / COUNT(*) AS c
             |  FROM (SELECT super_id, generate_subscripts(vec, 1) AS pos,
             |          unnest(vec) AS x FROM sasg2)
             |  GROUP BY super_id, pos),
             |scent2 AS (SELECT super_id, svec, list_dot_product(svec, svec) AS sc
             |  FROM (SELECT super_id, list(c ORDER BY pos) AS svec
             |        FROM sm2 GROUP BY super_id)),
             |cfit AS (SELECT vec_id, vec, vv, super_id FROM (
             |    SELECT f.vec_id, f.vec, f.vv, s.super_id,
             |      ROW_NUMBER() OVER (PARTITION BY f.vec_id
             |        ORDER BY f.vv + s.sc - 2*list_dot_product(f.vec, s.svec),
             |                 s.super_id) AS rn
             |    FROM (SELECT vv.* FROM vv, prm
             |      WHERE ${Sampling.portableBucketSql("vec_id", 7)} * n
             |        < greatest(4096, 4 * 48) * 10000
             |        AND vv IS NOT NULL) f
             |    CROSS JOIN scent2 s) WHERE rn = 1),
             |cinit AS (SELECT super_id, child_idx, vec AS cvec, vv AS cc FROM (
             |  SELECT super_id, vec, vv,
             |      ROW_NUMBER() OVER (PARTITION BY super_id
             |        ORDER BY pb, vec_id) - 1 AS child_idx
             |  FROM (SELECT vec_id, vec, vv, super_id,
             |      ${Sampling.portableBucketSql("vec_id", 17)} AS pb
             |    FROM cfit)) WHERE child_idx < 7),
             |casg1 AS (SELECT vec_id, super_id, child_idx FROM (
             |    SELECT f.vec_id, f.super_id, c.child_idx,
             |      ROW_NUMBER() OVER (PARTITION BY f.vec_id
             |        ORDER BY f.vv + c.cc - 2*list_dot_product(f.vec, c.cvec),
             |                 c.child_idx) AS rn
             |    FROM cfit f JOIN cinit c ON c.super_id = f.super_id)
             |  WHERE rn = 1),
             |cm1 AS (SELECT super_id, child_idx, pos,
             |    CAST(SUM(CAST(floor(x*1e8 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
             |      / 1e8 / COUNT(*) AS c
             |  FROM (SELECT a.super_id, a.child_idx,
             |          generate_subscripts(f.vec, 1) AS pos,
             |          unnest(f.vec) AS x
             |        FROM casg1 a JOIN cfit f USING (vec_id))
             |  GROUP BY super_id, child_idx, pos),
             |ccent1 AS (SELECT super_id, child_idx, cvec,
             |    list_dot_product(cvec, cvec) AS cc
             |  FROM (SELECT super_id, child_idx, list(c ORDER BY pos) AS cvec
             |        FROM cm1 GROUP BY super_id, child_idx)),
             |casg2 AS (SELECT vec_id, super_id, child_idx FROM (
             |    SELECT f.vec_id, f.super_id, c.child_idx,
             |      ROW_NUMBER() OVER (PARTITION BY f.vec_id
             |        ORDER BY f.vv + c.cc - 2*list_dot_product(f.vec, c.cvec),
             |                 c.child_idx) AS rn
             |    FROM cfit f JOIN ccent1 c ON c.super_id = f.super_id)
             |  WHERE rn = 1),
             |cm2 AS (SELECT super_id, child_idx, pos,
             |    CAST(SUM(CAST(floor(x*1e8 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
             |      / 1e8 / COUNT(*) AS c
             |  FROM (SELECT a.super_id, a.child_idx,
             |          generate_subscripts(f.vec, 1) AS pos,
             |          unnest(f.vec) AS x
             |        FROM casg2 a JOIN cfit f USING (vec_id))
             |  GROUP BY super_id, child_idx, pos),
             |ccent2 AS (SELECT super_id, child_idx, cvec,
             |    list_dot_product(cvec, cvec) AS cc
             |  FROM (SELECT super_id, child_idx, list(c ORDER BY pos) AS cvec
             |        FROM cm2 GROUP BY super_id, child_idx)),
             |kids AS (SELECT super_id,
             |    CAST(super_id * 7 + child_idx AS INT) AS list_id, cvec, cc
             |  FROM ccent2),
             |pop AS (SELECT DISTINCT super_id FROM kids),
             |probes AS (SELECT query_id, qvec, qvv, list_id FROM (
             |    SELECT q.vec_id AS query_id, q.vec AS qvec, q.vv AS qvv,
             |      k.list_id,
             |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |        ORDER BY q.vv + k.cc - 2*list_dot_product(q.vec, k.cvec),
             |                 k.list_id) AS rn
             |    FROM (SELECT * FROM vv WHERE vec_id < 25) q
             |    CROSS JOIN kids k) WHERE rn <= 4),
             |vsupt AS (SELECT vec_id, super_id FROM (
             |    SELECT x.vec_id, s.super_id,
             |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
             |        ORDER BY x.vv + s.sc - 2*list_dot_product(x.vec, s.svec),
             |                 s.super_id) AS rn
             |    FROM (SELECT * FROM vv WHERE vec_id >= 25) x
             |    CROSS JOIN (SELECT s.* FROM scent2 s JOIN pop USING (super_id)) s)
             |  WHERE rn = 1),
             |cand AS (SELECT neighbor_id, cvec, cvv, list_id FROM (
             |    SELECT x.vec_id AS neighbor_id, x.vec AS cvec, x.vv AS cvv,
             |      k.list_id,
             |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
             |        ORDER BY x.vv + k.cc - 2*list_dot_product(x.vec, k.cvec),
             |                 k.list_id) AS rn
             |    FROM vv x
             |    JOIN vsupt t ON t.vec_id = x.vec_id
             |    JOIN kids k ON k.super_id = t.super_id) WHERE rn = 1),
             |r AS (SELECT query_id, neighbor_id,
             |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             |      list_dot_product(qvec, cvec) / (sqrt(qvv) * sqrt(cvv)) DESC,
             |      neighbor_id) AS rank
             |  FROM probes p JOIN cand c USING (list_id))
             |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // int8 embedding quantization (the 4× storage step for a corpus-
    // scale embedding table); per-vector scale + checksum + saturation
    // count make the output driver-sortable while pinning every
    // quantized component transitively.
    Q("q_embed_quantize_int8",
      (s, dir) => Similarity.quantizeInt8(embeddings(s, dir))
        .select(col("vec_id"), col("scale"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x).as("q_sum"),
          size(filter(col("qvec"), x => abs(x) === 127)).cast("long").as("n_sat"))
        .orderBy("vec_id"),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
             |  FROM embeddings),
             |s AS (SELECT vec_id, vec,
             |    GREATEST(list_max(list_transform(vec, x -> abs(x))), 1e-30) AS scale
             |  FROM v),
             |q AS (SELECT vec_id, scale,
             |    list_transform(vec, x -> CAST(floor(x / scale * 127 + 0.5) AS INTEGER)) AS qvec
             |  FROM s)
             |SELECT vec_id, scale, CAST(list_sum(qvec) AS BIGINT) AS q_sum,
             |  CAST(len(list_filter(qvec, x -> abs(x) = 127)) AS BIGINT) AS n_sat
             |FROM q ORDER BY vec_id""".stripMargin)),

    Q("q_embed_neardup_cosine",
      // 0.4 is calibrated to the synthetic embeddings (label-blocked
      // cosine tops out ≈0.47); a text-embedding corpus would use ~0.95
      (s, dir) => Similarity.cosineNearDupPairs(embeddings(s, dir), 0.4)
        .orderBy("vec_a", "vec_b"),
      Some("""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
             |  FROM embeddings)
             |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |  ROUND(list_dot_product(a.vec, b.vec) /
             |    (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))),
             |    6) AS cos6
             |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
             |WHERE ROUND(list_dot_product(a.vec, b.vec) /
             |    (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))),
             |    6) >= 0.4
             |ORDER BY vec_a, vec_b""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): Lloyd-cluster the embeddings, then
    // prune any vector with a smaller-id within-cluster cosine near-dup
    // (threshold 0.35 — calibrated to the synthetic embeddings, which
    // top out ≈0.47; prunes 76/500 at sf0.01). The quantizer CTEs are
    // the SAME text as q_embed_ann_ivf (lloydOracleCtes), and the whole
    // operator is deterministic arithmetic, so the oracle replays it
    // exactly: full-corpus nearest-centroid assignment, within-cluster
    // pair join, NOT IN prune.
    Q("q_embed_semdedup",
      (s, dir) => Similarity.semDedupSurvivors(embeddings(s, dir), 0.35)
        .orderBy("vec_id"),
      Some(s"""WITH $lloydOracleCtes,
             |asg AS (SELECT vec_id, vec, vv, list_id FROM (
             |    SELECT x.vec_id, x.vec, x.vv, c.list_id,
             |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
             |        ORDER BY x.vv + c.cc - 2*list_dot_product(x.vec, c.cvec),
             |                 c.list_id) AS rn
             |    FROM vv x
             |    JOIN vsup vs ON vs.vec_id = x.vec_id
             |    JOIN hbranch br ON br.super_id = vs.super_id
             |    JOIN cent2 c ON c.list_id = br.list_id) WHERE rn = 1),
             |pruned AS (SELECT DISTINCT b.vec_id
             |  FROM asg a JOIN asg b ON a.list_id = b.list_id
             |    AND a.vec_id < b.vec_id
             |  WHERE list_dot_product(a.vec, b.vec)
             |      / (sqrt(a.vv) * sqrt(b.vv)) >= 0.35)
             |SELECT vec_id, CAST(list_id AS INTEGER) AS list_id FROM asg
             |WHERE vec_id NOT IN (SELECT vec_id FROM pruned)
             |ORDER BY vec_id""".stripMargin)),

    // ----- multimodal -----------------------------------------------------

    Q("q_multimodal_meta",
      (s, dir) => Multimodal.attachPayload(documents(s, dir))
        .select(col("doc_id"),
          col("media_meta.byte_len").as("byte_len"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"))
        .withColumn("chunks", expr("(byte_len + 1023) div 1024"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             |  CAST(n_chars % 640 AS INTEGER) AS width,
             |  CAST(n_chars * 7 % 480 AS INTEGER) AS height,
             |  (CAST(octet_length(encode(text)) AS BIGINT) + 1023) // 1024 AS chunks
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Approximate aggregates (sketches) — the 100 TB path for distinct
    // counts / quantiles. Sketch VALUES are engine-specific (HLL++ vs
    // DuckDB's HLL, GK vs t-digest), so the oracled projection is the
    // TOLERANCE CONTRACT instead: each engine computes its own sketch
    // AND the exact answer, and emits the exact value plus a boolean
    // "sketch within documented bound" flag. Both engines' sketches are
    // deterministic for a given dataset, so the flags hash-compare —
    // and go red if either engine's sketch drifts out of bound.
    // (ApproxAggSpec additionally pins Spark-side accuracy numerically.)
    Q("q_approx_distinct",
      (s, dir) => {
        val e = events(s, dir)
        // rsd 0.02 → flag at 3σ = 6% relative error, integer-compared
        // (|approx − exact| · 100 ≤ 6 · exact avoids FP thresholds).
        //
        // Plan shape: two countDistincts over DIFFERENT columns in one
        // aggregate make Catalyst plan an Expand ×3 — every events row
        // tripled through the shuffle (the top sf100 registry cost at
        // 683.6 s, r12). Instead each exact distinct runs as its own
        // two-level pre-dedup aggregate: distinct(event_type, col) gets
        // map-side partial dedup on the first pass (each row shuffles
        // once, duplicates collapse before the wire), then a per-type
        // count over the already-distinct pairs. The HLL++ sketch is
        // duplicate-insensitive (register-max over hashed values), so
        // approx_count_distinct over the deduped pairs is the SAME
        // sketch as over the raw rows and rides the second pass free.
        // The two per-type results are a handful of rows → broadcast
        // join back together.
        def pass(c: String, exactName: String, okName: String) =
          e.select(col("event_type"), col(c)).distinct()
            .groupBy("event_type").agg(
              count(lit(1)).as(exactName),
              approx_count_distinct(col(c), 0.02).as("a"))
            .select(col("event_type"), col(exactName),
              (abs(col("a") - col(exactName)) * 100 <=
                col(exactName) * 6).as(okName))
        pass("user_id", "exact_users", "users_ok")
          .join(broadcast(pass("event_id", "exact_events", "events_ok")),
            Seq("event_type"))
          .select(col("event_type"), col("exact_users"), col("exact_events"),
            col("users_ok"), col("events_ok"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  COUNT(DISTINCT user_id) AS exact_users,
             |  COUNT(DISTINCT event_id) AS exact_events,
             |  abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id)) * 100
             |    <= COUNT(DISTINCT user_id) * 6 AS users_ok,
             |  abs(approx_count_distinct(event_id) - COUNT(DISTINCT event_id)) * 100
             |    <= COUNT(DISTINCT event_id) * 6 AS events_ok
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Quantile tolerance via RANK windows (robust to ties): the sketch
    // value v passes for target rank p ∈ [lo, hi] iff
    // count(value < v) ≤ hi·n AND count(value ≤ v) ≥ lo·n — the true
    // rank interval of v then overlaps [lo, hi]. Spark's GK sketch at
    // accuracy 1000 guarantees rank error ≤ 0.001; DuckDB's t-digest is
    // unbounded formally but lands far inside ±0.03/±0.03 in practice.
    // All comparisons integer (×100), no FP thresholds.
    Q("q_approx_quantiles",
      (s, dir) => {
        val e = events(s, dir)
        val ap = e.groupBy("event_type").agg(
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("a50"),
          percentile_approx(col("value"), lit(0.95), lit(1000)).as("a95"))
        e.join(ap, "event_type").groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("value") < col("a95"), 1L).otherwise(0L)).as("lt95"),
            sum(when(col("value") <= col("a95"), 1L).otherwise(0L)).as("le95"))
          .select(col("event_type"), col("n"),
            (col("lt50") * 100 <= col("n") * 53 &&
              col("le50") * 100 >= col("n") * 47).as("p50_ok"),
            (col("lt95") * 100 <= col("n") * 98 &&
              col("le95") * 100 >= col("n") * 92).as("p95_ok"))
          .orderBy("event_type")
      },
      Some("""WITH ap AS (
             |  SELECT event_type,
             |    approx_quantile(value, 0.5) AS a50,
             |    approx_quantile(value, 0.95) AS a95
             |  FROM events GROUP BY event_type)
             |SELECT e.event_type, COUNT(*) AS n,
             |  SUM(CASE WHEN e.value < ap.a50 THEN 1 ELSE 0 END) * 100
             |      <= COUNT(*) * 53
             |    AND SUM(CASE WHEN e.value <= ap.a50 THEN 1 ELSE 0 END) * 100
             |      >= COUNT(*) * 47 AS p50_ok,
             |  SUM(CASE WHEN e.value < ap.a95 THEN 1 ELSE 0 END) * 100
             |      <= COUNT(*) * 98
             |    AND SUM(CASE WHEN e.value <= ap.a95 THEN 1 ELSE 0 END) * 100
             |      >= COUNT(*) * 92 AS p95_ok
             |FROM events e JOIN ap USING (event_type)
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // A REAL byte-level image-header decode over constructed PNG/JPEG
    // payloads: a third of the corpus becomes a PNG (signature + IHDR),
    // a third a JPEG whose SOF frame sits behind a VARIABLE-length
    // comment segment (so the Spark-side parser must walk marker
    // segments), a third stays raw bytes (decoder yields nulls). The
    // oracle rebuilds the identical payload hex in DuckDB and
    // re-extracts width/height/depth FROM THE BYTES at the format's
    // big-endian offsets — both engines parse the same blobs, neither
    // knows the answer a priori. batch_size (partition-layout-dependent
    // by design) stays out of the oracled projection — asserted in
    // LlmOperatorsSpec instead, alongside hand-assembled byte arrays
    // that pin the parser's endianness independently of construction.
    Q("q_multimodal_features",
      (s, dir) => Multimodal.decodeMedia(s,
          Multimodal.attachImagePayload(documents(s, dir)))
        .select("doc_id", "format", "width", "height", "bit_depth", "byte_len")
        .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    doc_id % 3 AS fmt,
             |    CAST(1 + n_chars % 640 AS INT) AS w,
             |    CAST(1 + (n_chars * 7) % 480 AS INT) AS h,
             |    octet_length(encode(COALESCE(source,''))) AS comlen,
             |    octet_length(encode(COALESCE(text,''))) AS tlen,
             |    hex(encode(COALESCE(source,''))) AS srchex
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, fmt, comlen, tlen,
             |    CASE WHEN fmt = 0 THEN
             |      '89504E470D0A1A0A0000000D49484452'
             |      || lpad(hex(w), 8, '0') || lpad(hex(h), 8, '0')
             |      || '080200000000000000'
             |    WHEN fmt = 1 THEN
             |      'FFD8FFE000104A46494600010100004800480000'
             |      || 'FFFE' || lpad(hex(comlen + 2), 4, '0') || srchex
             |      || 'FFC0001108' || lpad(hex(h), 4, '0') || lpad(hex(w), 4, '0')
             |      || '03011100021101031101'
             |    ELSE '' END AS hh
             |  FROM d),
             |x AS (
             |  SELECT doc_id, fmt, tlen,
             |    CASE WHEN fmt=0 THEN substr(hh,33,8)
             |         WHEN fmt=1 THEN substr(hh, 2*(32+comlen)-1, 4) END AS whex,
             |    CASE WHEN fmt=0 THEN substr(hh,41,8)
             |         WHEN fmt=1 THEN substr(hh, 2*(30+comlen)-1, 4) END AS hhex,
             |    CASE WHEN fmt=0 THEN substr(hh,49,2)
             |         WHEN fmt=1 THEN substr(hh, 2*(29+comlen)-1, 2) END AS dhex,
             |    length(hh)//2 AS headbytes
             |  FROM c)
             |SELECT doc_id,
             |  CASE WHEN fmt=0 THEN 'png' WHEN fmt=1 THEN 'jpeg' END AS format,
             |  CASE WHEN fmt=2 THEN NULL ELSE
             |    CAST(list_sum(list_transform(regexp_extract_all(whex,'..'),
             |      (p, i) -> ((strpos('0123456789ABCDEF',p[1])-1)*16
             |                 + strpos('0123456789ABCDEF',p[2])-1)
             |                * 256 ** (length(whex)//2 - i))) AS INT) END AS width,
             |  CASE WHEN fmt=2 THEN NULL ELSE
             |    CAST(list_sum(list_transform(regexp_extract_all(hhex,'..'),
             |      (p, i) -> ((strpos('0123456789ABCDEF',p[1])-1)*16
             |                 + strpos('0123456789ABCDEF',p[2])-1)
             |                * 256 ** (length(hhex)//2 - i))) AS INT) END AS height,
             |  CASE WHEN fmt=2 THEN NULL ELSE
             |    CAST((strpos('0123456789ABCDEF',dhex[1])-1)*16
             |         + strpos('0123456789ABCDEF',dhex[2])-1 AS INT) END AS bit_depth,
             |  CAST(headbytes + tlen AS BIGINT) AS byte_len
             |FROM x ORDER BY doc_id""".stripMargin)),

    // ----- corpus curation: decontamination / repetition / chunking /
    // ----- mixture / end-to-end dedup removal -----------------------------

    // Benchmark decontamination: a deterministic 2% of the corpus plays
    // the "benchmark suite" (portable-bucket < 200 of 10000 on doc_id),
    // and every remaining TRAINING doc sharing a word 3-gram with it is
    // flagged with its distinct-overlap count. The eval n-gram set is
    // broadcast (benchmarks are KB–MB vs a TB corpus); the corpus side
    // map-joins and the only shuffle is the per-doc count — see
    // operators/Decontaminate.scala.
    Q("q_decontaminate_ngram",
      (s, dir) => {
        val docs = documents(s, dir)
        val isBench = graft.operators.Sampling
          .portableBucket(col("doc_id"), 7) < 200
        graft.operators.Decontaminate
          .overlapReport(docs.where(!isBench), docs.where(isBench), n = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, ${graft.operators.Sampling.portableBucketSql("doc_id", 7)} AS b,
              |    regexp_split_to_array(trim(text), '\\s+') AS t
              |  FROM documents),
              |grams AS (
              |  SELECT doc_id, b,
              |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
              |      i -> array_to_string(t[i:i+2], ' '))) AS gram
              |  FROM toks),
              |ev AS (SELECT DISTINCT gram FROM grams WHERE b < 200)
              |SELECT g.doc_id, CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_shared
              |FROM grams g JOIN ev USING (gram) WHERE g.b >= 200
              |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition signals, aggregated per lang in pure
    // integers (no FP accumulation): top-bigram mass, total bigrams,
    // distinct-token mass, and how many docs have a single bigram
    // exceeding 4% of their bigrams (top·25 > total — cross-multiplied,
    // no division). The top-bigram count never leaves its document, so
    // it is computed ROW-LOCALLY by the native
    // graft_ngram_max_multiplicity (plans/NgramMaxMultiplicity.scala)
    // over the token array — the r12 reshape removed the corpus-wide
    // explode → groupBy(doc_id, gram) shuffle + join-back of the
    // original formulation; the only exchanges left are the 6-row lang
    // rollup and the output ORDER BY (plan-pinned in PlanAuditSpec).
    // total_bigrams = max(n_tokens−1, 0) by definition, also map-side.
    Q("q_text_repetition",
      (s, dir) => {
        val toks = TextAnalysis.tokens(col("text"))
        documents(s, dir).select(col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          size(TextAnalysis.tokenSet(col("text"))).cast("long").as("n_distinct"),
          graft.plans.NgramMaxMultiplicity.maxMultCol(s, toks, 2)
            .as("top_bigram"),
          greatest(size(toks) - 1, lit(0)).cast("long").as("total_bigrams"))
          .groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(coalesce(col("top_bigram"), lit(0L))).as("sum_top_bigram"),
            sum(coalesce(col("total_bigrams"), lit(0L))).as("sum_total_bigrams"),
            sum("n_distinct").as("sum_distinct_tokens"),
            sum("n_tokens").as("sum_tokens"),
            sum(when(col("top_bigram") * 25 > col("total_bigrams"), 1L)
              .otherwise(0L)).as("n_repetitive"))
          .orderBy("lang")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS t
             |  FROM documents),
             |base AS (
             |  SELECT doc_id, lang, len(t) AS n_tokens,
             |    len(list_distinct(t)) AS n_distinct, t FROM toks),
             |grams AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, greatest(len(t), 1)),
             |      i -> array_to_string(t[i:i+1], ' '))) AS gram
             |  FROM toks),
             |per_gram AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
             |per_doc AS (SELECT doc_id, MAX(c) AS top_bigram,
             |    SUM(c) AS total_bigrams FROM per_gram GROUP BY 1)
             |SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(COALESCE(top_bigram, 0)) AS BIGINT) AS sum_top_bigram,
             |  CAST(SUM(COALESCE(total_bigrams, 0)) AS BIGINT) AS sum_total_bigrams,
             |  CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct_tokens,
             |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(top_bigram, 0) * 25 > total_bigrams)
             |    AS BIGINT) AS n_repetitive
             |FROM base LEFT JOIN per_doc USING (doc_id)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Context-window chunking: 40-token windows every 30 tokens (10-token
    // overlap). Integer boundary arithmetic + slice, one explode, zero
    // shuffles — see operators/Chunking.scala.
    Q("q_text_chunk",
      (s, dir) => graft.operators.Chunking
        .chunk(documents(s, dir), window = 40, stride = 30)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
             |  FROM documents),
             |chunks AS (
             |  SELECT doc_id, len(t) AS n_tok_doc,
             |    unnest(range(1, 2 + CAST(floor((greatest(len(t)-40, 0)+29)/30) AS BIGINT)))
             |      AS chunk_id, t
             |  FROM toks)
             |SELECT doc_id, chunk_id,
             |  1 + (chunk_id-1)*30 AS start_tok,
             |  least(40, n_tok_doc - (chunk_id-1)*30) AS n_tok,
             |  array_to_string(
             |    t[(1+(chunk_id-1)*30):((chunk_id-1)*30 +
             |       least(40, n_tok_doc - (chunk_id-1)*30))], ' ') AS chunk_text
             |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin)),

    // Corpus mixture resampling toward target lang weights (40% en,
    // 20% fr, 20% es, 10% de, 10% zh of the original corpus size;
    // under-represented strata keep everything). Membership is the
    // cross-multiplied integer predicate over the portable hash — no FP,
    // layout-independent, engine-reproducible. See
    // operators/Sampling.mixtureResample.
    Q("q_corpus_mixture",
      (s, dir) => graft.operators.Sampling
        .mixtureResample(documents(s, dir),
          Map("en" -> 4, "fr" -> 2, "es" -> 2, "de" -> 1, "zh" -> 1),
          weightDen = 10, seed = 42)
        .groupBy("lang").agg(
          count(lit(1)).as("n_kept"),
          sum(TextAnalysis.tokenCount(col("text"))).as("tokens_kept"))
        .orderBy("lang"),
      Some(s"""WITH c AS (SELECT lang, COUNT(*) AS n_stratum FROM documents GROUP BY lang),
              |t AS (SELECT COUNT(*) AS n_total FROM documents),
              |kept AS (
              |  SELECT d.lang, d.text FROM documents d
              |  JOIN c USING (lang) CROSS JOIN t
              |  WHERE ${graft.operators.Sampling.portableBucketSql("doc_id", 42)}
              |      * 10 * n_stratum <
              |    (CASE lang WHEN 'en' THEN 4 WHEN 'fr' THEN 2 WHEN 'es' THEN 2
              |               WHEN 'de' THEN 1 WHEN 'zh' THEN 1 ELSE 0 END)
              |      * n_total * 10000)
              |SELECT lang, COUNT(*) AS n_kept,
              |  CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
              |    AS tokens_kept
              |FROM kept GROUP BY lang ORDER BY lang""".stripMargin)),

    // End-to-end exact-dedup REMOVAL (not just group detection): keep
    // each fingerprint's canonical doc, report the surviving corpus per
    // lang. The join back is fingerprint-group-sized and keyed on
    // doc_id = canonical_id; composition of Dedup.exactGroups with the
    // corpus scan in one lazy plan.
    Q("q_dedup_prune",
      (s, dir) => {
        val docs = documents(s, dir)
        val groups = Dedup.exactGroups(docs)
        docs.join(groups, docs("doc_id") === groups("canonical_id"))
          .groupBy("lang").agg(
            count(lit(1)).as("n_kept"),
            sum(col("dup_count") - 1).as("n_removed"),
            sum(TextAnalysis.tokenCount(col("text"))).as("tokens_kept"))
          .orderBy("lang")
      },
      Some("""WITH g AS (SELECT md5(lower(trim(text))) AS fp,
             |    MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
             |  FROM documents GROUP BY 1)
             |SELECT lang, COUNT(*) AS n_kept,
             |  CAST(SUM(dup_count - 1) AS BIGINT) AS n_removed,
             |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
             |    AS tokens_kept
             |FROM documents d JOIN g ON d.doc_id = g.canonical_id
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // PII-safe export: deterministic pseudonymization keeps referential
    // integrity (the same portable-hash token on both sides of the
    // customer↔orders relationship), masking keeps a display column.
    // Per-row codegen'd expressions — anonymization adds zero shuffles
    // to the plan; the token arithmetic is the portable hash, so the
    // oracle reproduces every token bit-exact. See functions/Anonymize.
    Q("q_anonymize_export",
      (s, dir) => {
        import graft.functions.Anonymize
        val cust = table(s, dir, "customer").select(
          col("c_custkey"),
          Anonymize.pseudonymizeId(col("c_custkey"), 99).as("pseudo_id"),
          Anonymize.maskAllButLast(col("c_name"), 4).as("masked_name"))
        table(s, dir, "orders")
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy("pseudo_id", "masked_name").agg(
            count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("spend"))
          .orderBy("pseudo_id")
      },
      Some(s"""SELECT ${graft.functions.Anonymize.pseudonymizeIdSql("c_custkey", 99)}
              |    AS pseudo_id,
              |  repeat('*', greatest(length(c_name) - 4, 0)) || right(c_name, 4)
              |    AS masked_name,
              |  CAST(COUNT(*) AS BIGINT) AS n_orders,
              |  ${sqlDsum("o_totalprice")} AS spend
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |GROUP BY 1, 2 ORDER BY pseudo_id""".stripMargin)),

    // Per-source cap (web-corpus domain balancing): at most 50 docs per
    // source, chosen by the deterministic portable-hash priority. The
    // Spark side runs the skew-safe two-stage (salted) top-k; the oracle
    // is the plain single-window formulation — equality IS the
    // correctness claim (and SamplingSpec pins it independently).
    Q("q_source_cap",
      (s, dir) => graft.operators.Sampling
        .cappedPerKey(documents(s, dir), "source", 50)
        .select("source", "cap_rank", "doc_id")
        .orderBy("source", "cap_rank"),
      Some(s"""WITH p AS (SELECT source, doc_id,
             |    ${Sampling.portableBucketSql("doc_id", 42)} AS pb
             |  FROM documents),
             |r AS (SELECT source, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY pb, doc_id)
             |      AS cap_rank
             |  FROM p)
             |SELECT source, CAST(cap_rank AS BIGINT) AS cap_rank, doc_id
             |FROM r WHERE cap_rank <= 50 ORDER BY source, cap_rank""".stripMargin)),

    // Corpus-wide chunk-level exact dedup: every 40/30-token chunk keeps
    // its first (doc_id, chunk_id) occurrence; per-document survival
    // counts. The shuffle carries md5 fingerprints, never chunk text;
    // the oracle groups by the chunk text itself — same partition of
    // chunks into groups, so counts must agree.
    Q("q_chunk_dedup_global",
      (s, dir) => graft.operators.Chunking
        .dedupChunksGlobal(documents(s, dir), window = 40, stride = 30)
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS t
             |  FROM documents),
             |chunks AS (
             |  SELECT doc_id, len(t) AS n_tok_doc,
             |    unnest(range(1, 2 + CAST(floor((greatest(len(t)-40, 0)+29)/30) AS BIGINT)))
             |      AS chunk_id, t
             |  FROM toks),
             |ctext AS (
             |  SELECT doc_id, chunk_id,
             |    array_to_string(
             |      t[(1+(chunk_id-1)*30):((chunk_id-1)*30 +
             |         least(40, n_tok_doc - (chunk_id-1)*30))], ' ') AS chunk_text
             |  FROM chunks),
             |r AS (SELECT doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id)
             |      AS rn
             |  FROM ctext)
             |SELECT doc_id, COUNT(*) AS n_chunks,
             |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Histogram-threshold quality gate: keep (at least) the top-30% of
    // documents by integer stopword-density score, never splitting a
    // tied score bucket. No global sort — the percentile comes off a
    // score histogram (see Sampling.topFractionGate); the integer
    // cross-multiplied cut makes the threshold engine-reproducible.
    Q("q_quality_gate",
      (s, dir) => graft.operators.Sampling.topFractionGate(
          TextAnalysis.qualityMetrics(documents(s, dir))
            .withColumn("score",
              expr("(n_stopwords * 1000) div greatest(n_tokens, 1)")),
          col("score"), keepNum = 3, keepDen = 10)
        .groupBy("lang").agg(
          count(lit(1)).as("n_kept"),
          max(col("gate_threshold")).as("gate_threshold"))
        .orderBy("lang"),
      Some("""WITH s AS (SELECT doc_id, lang,
             |    (len(regexp_extract_all(text, '\b(the|a|of|and|to|is|in)\b')) * 1000)
             |      // greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS score
             |  FROM documents),
             |h AS (SELECT score, COUNT(*) AS cnt FROM s GROUP BY score),
             |c AS (SELECT score, cnt,
             |    SUM(cnt) OVER (ORDER BY score DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    (SELECT COUNT(*) FROM s) AS tot
             |  FROM h),
             |t AS (SELECT coalesce(
             |    max(CASE WHEN cum * 10 >= tot * 3 THEN score END),
             |    min(score)) AS thr FROM c)
             |SELECT lang, COUNT(*) AS n_kept, CAST(t.thr AS BIGINT) AS gate_threshold
             |FROM s, t WHERE s.score >= t.thr
             |GROUP BY lang, t.thr ORDER BY lang""".stripMargin)),

    // Hashed-feature linear quality classifier (fastText/DCLM-style
    // "apply the trained model to the corpus" gate — the MODEL-based
    // counterpart of the heuristic q_quality_gate). The 256-bucket
    // weight vector here is a deterministic synthetic stand-in for an
    // offline-trained model (Knuth-multiplier spread into [-1, 1]);
    // the operator takes any weights. Logit emitted, not sigmoid —
    // exp has no cross-engine bit contract, the linear form does:
    // cp31u code-point hash fold, literal-array lookup, one ordered
    // sum, one division, all replayed exactly. Zero shuffles.
    Q("q_quality_classifier",
      (s, dir) => graft.operators.QualityClassifier.scoreDocs(
          documents(s, dir),
          (0 until 256).map(b =>
            ((b * 2654435761L % 4294967296L) % 2001 - 1000) / 1000.0),
          bias = 0.1, threshold = 0.0)
        .orderBy("doc_id"),
      Some("""WITH wl AS (SELECT list(
             |    (((b * 2654435761) % 4294967296) % 2001 - 1000) / 1000.0
             |    ORDER BY b) AS w
             |  FROM range(256) r(b)),
             |t AS (SELECT doc_id,
             |    regexp_split_to_array(trim(text), '\s+') AS toks
             |  FROM documents),
             |tw AS (SELECT doc_id, len(toks) AS n_tokens,
             |    list_reduce(list_prepend(0.0, list_transform(toks, tok ->
             |      wl.w[CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
             |          list_transform(regexp_extract_all(tok, '(?s).'),
             |            c -> CAST(unicode(c) AS HUGEINT))),
             |          (h, c) -> (h*31 + c) % 4294967296) % 256 AS INT) + 1])),
             |      (a, x) -> a + x) AS s
             |  FROM t, wl)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  0.1 + s / n_tokens AS qscore,
             |  (0.1 + s / n_tokens) >= 0.0 AS keep
             |FROM tw ORDER BY doc_id""".stripMargin)),

    // Per-language token-budget subsampling: take docs in deterministic
    // portable-hash priority order until each lang holds 2000 tokens
    // (the crossing doc is included). The Spark side runs the sharded
    // composite-window + broadcast prefix-sum shape (window parallelism
    // grows with the corpus); the oracle is the plain single-window
    // running sum — equality is the correctness claim.
    Q("q_token_budget_select",
      (s, dir) => graft.operators.Sampling
        .selectToTokenBudget(documents(s, dir), budget = 2000L)
        .orderBy("lang", "doc_id"),
      Some(s"""WITH p AS (SELECT doc_id, lang,
             |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             |    ${Sampling.portableBucketSql("doc_id", 42)} AS pb
             |  FROM documents),
             |c AS (SELECT doc_id, lang, n_tokens,
             |    coalesce(SUM(n_tokens) OVER (PARTITION BY lang
             |      ORDER BY pb, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_before
             |  FROM p)
             |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(cum_before AS BIGINT) AS cum_before
             |FROM c WHERE cum_before < 2000 ORDER BY lang, doc_id""".stripMargin)),

    // Bloom-filter decontamination: the eval set ships as an m-bit
    // portable bloom (not a gram-string join side); the corpus tests
    // membership map-side and the exact join runs only on survivors.
    // Every bit of the filter is reproducible arithmetic (u32
    // code-point-fold hash + double hashing), so the oracle REBUILDS the
    // filter as a distinct-position set and replays membership —
    // including false positives — exactly. Same bench/train split as
    // q_decontaminate_ngram (portable bucket 7 < 200). m auto-sizes to
    // ~14 bits per distinct eval gram (floored at 65536) so the FP rate
    // survives any eval-set size — the `ms` CTE computes the identical
    // integer formula from the oracle's own distinct-gram count.
    Q("q_bloom_decontaminate",
      (s, dir) => {
        val docs = documents(s, dir)
        val isBench = Sampling.portableBucket(col("doc_id"), 7) < 200
        graft.operators.BloomFilter
          .decontaminateReport(docs.where(!isBench), docs.where(isBench), n = 3)
          .orderBy("lang")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, lang, ${Sampling.portableBucketSql("doc_id", 7)} AS bb,
             |    regexp_split_to_array(trim(text), '\\s+') AS t
             |  FROM documents),
             |grams AS (SELECT DISTINCT doc_id, lang, bb, gram FROM (
             |  SELECT doc_id, lang, bb,
             |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
             |      i -> array_to_string(t[i:i+2], ' '))) AS gram
             |  FROM toks)),
             |hc AS (SELECT doc_id, lang, bb, gram,
             |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
             |      list_transform(regexp_extract_all(gram, '(?s).'),
             |        c -> CAST(unicode(c) AS HUGEINT))),
             |      (h, c) -> (h * 31 + c) % 4294967296) AS u32
             |  FROM grams),
             |ev AS (SELECT DISTINCT gram FROM grams WHERE bb < 200),
             |ms AS (SELECT greatest(65536, ((14*COUNT(*) + 63) // 64) * 64) AS m
             |  FROM ev),
             |hp AS (SELECT doc_id, lang, bb, gram,
             |    u32 % (SELECT m FROM ms) AS h1,
             |    1 + (u32 // (SELECT m FROM ms)) % ((SELECT m FROM ms) - 1) AS h2
             |  FROM hc),
             |evpos AS (SELECT DISTINCT (h1 + j*h2) % (SELECT m FROM ms) AS p
             |  FROM hp, range(3) r(j) WHERE bb < 200),
             |tp AS (SELECT doc_id, lang, gram,
             |    (h1 + j*h2) % (SELECT m FROM ms) AS p
             |  FROM hp, range(3) r(j) WHERE bb >= 200),
             |hits AS (SELECT doc_id, lang, gram FROM tp JOIN evpos USING (p)
             |  GROUP BY doc_id, lang, gram HAVING COUNT(*) = 3),
             |bagg AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_docs_flagged,
             |    COUNT(*) AS n_bloom_grams
             |  FROM hits GROUP BY lang),
             |tr AS (SELECT h.lang, COUNT(*) AS n_true FROM hits h
             |  JOIN ev USING (gram) GROUP BY h.lang)
             |SELECT b.lang, CAST(b.n_docs_flagged AS BIGINT) AS n_docs_flagged,
             |  CAST(b.n_bloom_grams AS BIGINT) AS n_bloom_grams,
             |  CAST(coalesce(t.n_true, 0) AS BIGINT) AS n_true_grams
             |FROM bagg b LEFT JOIN tr t USING (lang) ORDER BY lang""".stripMargin)),

    // Content-defined chunking: boundaries where the token's portable
    // hash divides — spans survive upstream edits, unlike fixed-window
    // offsets (spec-pinned), making them the dedup unit for re-crawled
    // corpora. Pure expressions, no shuffle; the oracle refolds the
    // same hash per token and rebuilds every span.
    Q("q_chunk_cdc",
      (s, dir) => graft.operators.Chunking
        .chunkContentDefined(documents(s, dir), divisor = 16)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS t
             |  FROM documents),
             |hb AS (
             |  SELECT doc_id, t,
             |    list_filter(range(1, len(t)+1),
             |      i -> list_reduce(list_prepend(CAST(0 AS HUGEINT),
             |             list_transform(regexp_extract_all(t[i], '(?s).'),
             |               c -> CAST(unicode(c) AS HUGEINT))),
             |             (h, c) -> (h * 31 + c) % 4294967296) % 16 = 0) AS bp
             |  FROM toks),
             |spans AS (
             |  SELECT doc_id, t,
             |    list_prepend(1, list_transform(bp, p -> p + 1)) AS starts,
             |    list_append(bp, len(t)) AS ends
             |  FROM hb),
             |z AS (SELECT doc_id, t, unnest(starts) AS s, unnest(ends) AS e FROM spans),
             |f AS (SELECT doc_id, t, s, e,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS chunk_id
             |  FROM z WHERE s <= e)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |  CAST(s AS BIGINT) AS start_tok, CAST(e - s + 1 AS BIGINT) AS n_tok,
             |  array_to_string(t[s:e], ' ') AS chunk_text
             |FROM f ORDER BY doc_id, chunk_id""".stripMargin)),

    // End-to-end NEAR-dedup prune (the near-dup sibling of
    // q_dedup_prune): exact-Jaccard pairs → connected components → the
    // cluster's min doc survives; per-cluster kept/removed token mass.
    // Same 'de' scope as q_dedup_clusters (the shared-vocab corpus's
    // full pair graph is pathologically dense — the scope verifies the
    // algorithm, not GC endurance).
    Q("q_neardup_prune",
      (s, dir) => {
        val scoped = documents(s, dir).where(col("lang") === "de")
        Dedup.duplicateClusters(Dedup.jaccardPairs(scoped, 0.9), scoped)
          .join(scoped.select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")), "doc_id")
          .groupBy("cluster_id").agg(
            count(lit(1)).as("n_members"),
            sum(when(col("doc_id") === col("cluster_id"), col("n_tokens"))
              .otherwise(0L)).as("tokens_kept"),
            sum(when(col("doc_id") =!= col("cluster_id"), col("n_tokens"))
              .otherwise(0L)).as("tokens_removed"))
          .orderBy("cluster_id")
      },
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id, lang,
             |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks,
             |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
             |  FROM documents WHERE lang = 'de'),
             |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |    AND len(a.toks) >= len(b.toks) * 0.9 AND len(b.toks) >= len(a.toks) * 0.9
             |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9),
             |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
             |  UNION ALL SELECT doc_b, doc_a FROM p),
             |reach AS (
             |  SELECT src AS doc, dst AS other FROM e
             |  UNION
             |  SELECT r.doc, e.dst FROM reach r JOIN e ON r.other = e.src),
             |cl AS (SELECT d.doc_id, d.n_tokens,
             |    LEAST(d.doc_id, COALESCE(MIN(r.other), d.doc_id)) AS cluster_id
             |  FROM t d LEFT JOIN reach r ON r.doc = d.doc_id
             |  GROUP BY d.doc_id, d.n_tokens)
             |SELECT cluster_id, COUNT(*) AS n_members,
             |  CAST(SUM(CASE WHEN doc_id = cluster_id THEN n_tokens ELSE 0 END) AS BIGINT)
             |    AS tokens_kept,
             |  CAST(SUM(CASE WHEN doc_id <> cluster_id THEN n_tokens ELSE 0 END) AS BIGINT)
             |    AS tokens_removed
             |FROM cl GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),

    // Composed curation pipeline over the r7 operators, ONE lazy plan:
    // top-30% quality gate → ≤ 40 docs per source → 1500-token
    // per-language budget. Each stage's scale shape survives composition
    // (histogram gate broadcast, salted two-stage cap, sharded budget
    // prefix sums); the oracle chains all three stages' CTEs.
    Q("q_pipeline_curate",
      (s, dir) => {
        val scored = TextAnalysis.qualityMetrics(documents(s, dir))
          .withColumn("score",
            expr("(n_stopwords * 1000) div greatest(n_tokens, 1)"))
        val gated = graft.operators.Sampling
          .topFractionGate(scored, col("score"), keepNum = 3, keepDen = 10)
          .select("doc_id", "lang", "source", "n_tokens")
        val capped = graft.operators.Sampling
          .cappedPerKey(gated, "source", 40)
        graft.operators.Sampling
          .selectToTokenBudget(capped, budget = 1500L,
            tokens = col("n_tokens")) // already counted by the gate stage
          .groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum("n_tokens").as("n_tokens"))
          .orderBy("lang")
      },
      Some(s"""WITH sc AS (SELECT doc_id, lang, source,
             |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             |    (len(regexp_extract_all(text, '\\b(the|a|of|and|to|is|in)\\b')) * 1000)
             |      // greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS score
             |  FROM documents),
             |h AS (SELECT score, COUNT(*) AS cnt FROM sc GROUP BY score),
             |c AS (SELECT score,
             |    SUM(cnt) OVER (ORDER BY score DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    (SELECT COUNT(*) FROM sc) AS tot
             |  FROM h),
             |thr AS (SELECT coalesce(
             |    max(CASE WHEN cum * 10 >= tot * 3 THEN score END),
             |    min(score)) AS t FROM c),
             |gated AS (SELECT sc.* FROM sc, thr WHERE sc.score >= thr.t),
             |capped AS (SELECT * FROM (
             |    SELECT g.*, ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY ${Sampling.portableBucketSql("doc_id", 42)}, doc_id)
             |      AS cap_rank
             |    FROM gated g) WHERE cap_rank <= 40),
             |budget AS (SELECT doc_id, lang, n_tokens,
             |    coalesce(SUM(n_tokens) OVER (PARTITION BY lang
             |      ORDER BY ${Sampling.portableBucketSql("doc_id", 42)}, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_before
             |  FROM capped)
             |SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
             |FROM budget WHERE cum_before < 1500
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // CCNet-style LM quality score in exact integer arithmetic: bigram
    // MLE trained on the corpus itself, each doc scored by the
    // integerized mean conditional probability of its bigrams (no ln,
    // no FP — same monotone ranking as perplexity). See
    // TextAnalysis.bigramLmScores.
    Q("q_text_lm_score",
      (s, dir) => TextAnalysis.bigramLmScores(documents(s, dir))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS t
             |  FROM documents),
             |bg AS (
             |  SELECT doc_id, lang,
             |    unnest(list_transform(range(1, greatest(len(t), 1)),
             |      i -> array_to_string(t[i:i+1], ' '))) AS bigram
             |  FROM toks),
             |bg2 AS (SELECT doc_id, lang, bigram,
             |    split_part(bigram, ' ', 1) AS w1 FROM bg),
             |c2 AS (SELECT bigram, COUNT(*) AS c2 FROM bg2 GROUP BY bigram),
             |c1 AS (SELECT w, COUNT(*) AS c1
             |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
             |j AS (SELECT doc_id, lang,
             |    (c2.c2 * 100000000) // c1.c1 AS s
             |  FROM bg2 JOIN c2 USING (bigram) JOIN c1 ON bg2.w1 = c1.w)
             |SELECT doc_id, lang, COUNT(*) AS n_bigrams,
             |  CAST(SUM(s) AS BIGINT) AS s_sum,
             |  CAST(SUM(s) AS BIGINT) // COUNT(*) AS lm_score
             |FROM j GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin)),

    // ANALYZE-style table profile: per-column null counts + exact
    // distinct cardinalities + row count, one aggregation over one scan,
    // long-format output. See operators/Profiling.
    Q("q_profile_table",
      (s, dir) => graft.operators.Profiling.profile(
          table(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"))
        .orderBy("col_name"),
      Some(graft.operators.Profiling.profileSql("orders",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")))),

    // Training-shard assignment: deterministic pseudo-shuffled global
    // order (portable hash, ties by doc_id) cut into 50-doc shards. The
    // Spark side computes the global rank scale-safe — contiguous
    // portable-bucket range-shards + a broadcast prefix-sum offset join
    // over ≤ nShards rows, the selectToTokenBudget shape — while the
    // oracle is the plain single-window formulation: equality IS the
    // correctness claim (and CurationSpec pins it independently).
    Q("q_shard_assign",
      (s, dir) => graft.operators.Sharding
        .assignShards(documents(s, dir), 50)
        .orderBy("train_rank"),
      Some(s"""WITH p AS (SELECT doc_id,
             |    ${Sampling.portableBucketSql("doc_id", 42)} AS pb
             |  FROM documents),
             |r AS (SELECT doc_id,
             |    ROW_NUMBER() OVER (ORDER BY pb, doc_id) AS train_rank
             |  FROM p)
             |SELECT doc_id, CAST(train_rank AS BIGINT) AS train_rank,
             |  (CAST(train_rank AS BIGINT) - 1) // 50 AS shard_id
             |FROM r ORDER BY train_rank""".stripMargin)),

    // Corpus-wide line-level dedup (RefinedWeb §3.2.3 / C4: lines
    // recurring across documents are boilerplate — removed from every
    // doc, prose survives; operators/LineDedup.scala). The synthetic
    // docs are single-line, so the query builds a deterministic 4-line
    // text (the q_text_pii_redact injection pattern): a mostly-unique
    // prose slice, a 1-in-3 shared banner, a per-lang contact line
    // (df ≈ lang size → removed) or a 1-in-5 blank (kept), and a
    // unique doc stamp. The oracle replays the construction and the
    // whole dedup on the line STRINGS — verifying the engine's hashed
    // (doc_id, pos, lh) stream end-to-end, collisions included.
    Q("q_line_dedup",
      (s, dir) => {
        val t = coalesce(col("text"), lit(""))
        val injected = documents(s, dir).select(col("doc_id"), col("lang"),
          concat_ws("\n",
            substring(t, 1, 60),
            when(col("doc_id") % 3 === 0,
              lit("subscribe to our newsletter today"))
              .otherwise(substring(t, 61, 60)),
            when(col("doc_id") % 5 === 0, lit(""))
              .otherwise(concat(lit("contact us in "), col("lang"))),
            concat(lit("doc "), col("doc_id").cast("string"))).as("text"))
        graft.operators.LineDedup.dedupLines(injected, minDf = 2)
          .orderBy("doc_id")
      },
      Some("""WITH inj AS (SELECT doc_id, lang,
             |    substr(coalesce(text, ''), 1, 60)
             |      || chr(10) || CASE WHEN doc_id % 3 = 0
             |        THEN 'subscribe to our newsletter today'
             |        ELSE substr(coalesce(text, ''), 61, 60) END
             |      || chr(10) || CASE WHEN doc_id % 5 = 0 THEN ''
             |        ELSE 'contact us in ' || lang END
             |      || chr(10) || 'doc ' || doc_id AS text
             |  FROM documents),
             |ls AS (SELECT doc_id, lang,
             |    string_split(text, chr(10)) AS ls FROM inj),
             |lp AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS p,
             |    unnest(list_transform(ls, x -> trim(x))) AS line
             |  FROM ls),
             |cand AS (SELECT doc_id, p, line FROM lp WHERE line <> ''),
             |hot AS (SELECT line FROM (
             |    SELECT line, COUNT(DISTINCT doc_id) AS df
             |    FROM cand GROUP BY line) WHERE df >= 2),
             |rm AS (SELECT doc_id, list(p) AS rm
             |  FROM cand JOIN hot USING (line) GROUP BY doc_id)
             |SELECT l.doc_id, l.lang,
             |  CAST(len(l.ls) AS BIGINT) AS n_lines,
             |  CAST(COALESCE(len(r.rm), 0) AS BIGINT) AS n_removed,
             |  COALESCE(array_to_string(list_transform(
             |    list_filter(range(1, len(l.ls) + 1),
             |      q -> NOT list_contains(COALESCE(r.rm,
             |        CAST([] AS BIGINT[])), q)),
             |    q -> l.ls[q]), chr(10)), '') AS cleaned_text
             |FROM ls l LEFT JOIN rm r USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Corpus-level boilerplate removal: every token covered by a word
    // 3-gram that occurs in >= 3 distinct documents is stripped and the
    // text rebuilt — the C4/RefinedWeb "shared span" pass, rewriting
    // documents instead of dropping them. The oracle replays the whole
    // pipeline: per-position gram stream, distinct-doc frequency,
    // covered-position union, array rebuild. See operators/Boilerplate.
    Q("q_boilerplate_strip",
      (s, dir) => graft.operators.Boilerplate
        .removeFrequentNgrams(documents(s, dir), n = 3, minDf = 3)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
             |    regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS t
             |  FROM documents),
             |gp AS (SELECT doc_id,
             |    unnest(range(1, len(t) - 1)) AS p,
             |    unnest(list_transform(range(1, len(t) - 1),
             |      i -> array_to_string(t[i:i+2], ' '))) AS gram
             |  FROM toks WHERE len(t) >= 3),
             |fr AS (SELECT gram FROM (
             |    SELECT gram, COUNT(DISTINCT doc_id) AS df
             |    FROM gp GROUP BY gram) WHERE df >= 3),
             |st AS (SELECT doc_id, list(p) AS starts
             |  FROM gp JOIN fr USING (gram) GROUP BY doc_id),
             |cov AS (SELECT doc_id,
             |    list_distinct(flatten(list_transform(starts,
             |      i -> range(i, i + 3)))) AS covered
             |  FROM st)
             |SELECT tk.doc_id,
             |  CAST(len(tk.t) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(len(c.covered), 0) AS BIGINT) AS n_removed,
             |  COALESCE(array_to_string(list_transform(
             |    list_filter(range(1, len(tk.t) + 1),
             |      q -> NOT list_contains(COALESCE(c.covered,
             |        CAST([] AS BIGINT[])), q)),
             |    q -> tk.t[q]), ' '), '') AS cleaned_text
             |FROM toks tk LEFT JOIN cov c USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Multi-epoch upsampling: en trains 2.5 epochs (2 full copies +
    // the deterministic pb-hash half), fr 1, es 0.5, de/zh drop — the
    // repeat-small-high-quality-sources half of data mixing (mixture
    // resampling is the downsample half). Pure explode + integer
    // predicate; the oracle replays copies and the partial-epoch
    // membership exactly. See operators/Sampling.epochUpsample.
    Q("q_epoch_mix",
      (s, dir) => graft.operators.Sampling
        .epochUpsample(documents(s, dir),
          Map("en" -> 5, "fr" -> 2, "es" -> 1), epochsDen = 2)
        .orderBy("doc_id", "epoch"),
      Some(s"""WITH p AS (SELECT doc_id, lang,
             |    ${Sampling.portableBucketSql("doc_id", 42)} AS pb,
             |    CASE lang WHEN 'en' THEN 5 WHEN 'fr' THEN 2
             |              WHEN 'es' THEN 1 ELSE 0 END AS num
             |  FROM documents),
             |x AS (SELECT doc_id, lang, pb, num,
             |    unnest(range(1, num // 2 + 2)) AS epoch
             |  FROM p)
             |SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch
             |FROM x
             |WHERE epoch <= num // 2
             |   OR (num % 2 > 0 AND pb * 2 < (num % 2) * 10000)
             |ORDER BY doc_id, epoch""".stripMargin)),

    // Domain-level quality gate: whole sources pass or fail on their
    // AGGREGATE signals (>= 10 docs, integer-div mean >= 52 tokens,
    // stopword rate >= 55 per mille) and only passing sources' documents
    // continue — the Gopher/FineWeb per-domain filter that catches
    // systematically-bad domains whose individual docs look fine. See
    // operators/DomainGate.
    Q("q_domain_gate",
      // The stopword-rate threshold is the constant 55‰ (query and
      // oracle share it). At sf100 the GenScale vocabulary
      // diversification dilutes stopword rates below 55‰ and every
      // source fails the gate, so the at-scale run returns 0 rows and
      // never exercises the doc-rejoin fan-out (BASELINE.md records
      // the one r13 run with the threshold at 0).
      (s, dir) => graft.operators.DomainGate
        .filterDocs(documents(s, dir), minDocs = 10, minAvgTokens = 52,
          minStopPerMille = domGatePermille)
        .orderBy("doc_id"),
      Some(s"""WITH rep AS (
             |  SELECT source, COUNT(*) AS n_docs,
             |    SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS total_tokens,
             |    SUM(len(regexp_extract_all(text, '\\b(the|a|of|and|to|is|in)\\b')))
             |      AS total_stopwords
             |  FROM documents GROUP BY source),
             |k AS (SELECT source, total_tokens // n_docs AS avg_tokens
             |  FROM rep
             |  WHERE n_docs >= 10 AND total_tokens // n_docs >= 52
             |    AND total_stopwords * 1000 >= total_tokens * $domGatePermille)
             |SELECT d.doc_id, d.source, CAST(k.avg_tokens AS BIGINT) AS avg_tokens
             |FROM documents d JOIN k USING (source)
             |ORDER BY doc_id""".stripMargin)),

    // Substring-level exact dedup (Lee et al. 2022): every 5-token span
    // occurring more than once in the corpus is removed from all but
    // its globally-first occurrence, and documents are rebuilt from the
    // surviving tokens. The Spark side ships 64-bit gram hashes through
    // the one stats shuffle; the oracle groups the gram STRINGS — hash
    // identity ≡ string identity up to 2^-64 collisions (the md5/
    // jaccard-verify trade). See operators/SpanDedup.
    Q("q_span_dedup",
      (s, dir) => graft.operators.SpanDedup
        .removeDuplicateSpans(documents(s, dir), l = 5)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
             |    regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS t
             |  FROM documents),
             |o AS (SELECT doc_id,
             |    unnest(range(1, len(t) - 3)) AS p,
             |    unnest(list_transform(range(1, len(t) - 3),
             |      i -> array_to_string(t[i:i+4], ' '))) AS gram
             |  FROM toks WHERE len(t) >= 5),
             |ok AS (SELECT doc_id, p, gram, doc_id * 1048576 + p AS k FROM o),
             |st AS (SELECT gram, MIN(k) AS fk FROM ok
             |  GROUP BY gram HAVING COUNT(*) >= 2),
             |cv AS (SELECT doc_id, list(p) AS starts
             |  FROM ok JOIN st USING (gram) WHERE k != fk GROUP BY doc_id),
             |cov AS (SELECT doc_id,
             |    list_distinct(flatten(list_transform(starts,
             |      i -> range(i, i + 5)))) AS covered
             |  FROM cv)
             |SELECT tk.doc_id,
             |  CAST(len(tk.t) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(len(c.covered), 0) AS BIGINT) AS n_removed,
             |  COALESCE(array_to_string(list_transform(
             |    list_filter(range(1, len(tk.t) + 1),
             |      q -> NOT list_contains(COALESCE(c.covered,
             |        CAST([] AS BIGINT[])), q)),
             |    q -> tk.t[q]), ' '), '') AS deduped_text
             |FROM toks tk LEFT JOIN cov c USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // BM25 top-k retrieval for a fixed query bag — raw RSJ odds instead
    // of log-IDF (libm parity; same per-term monotone ranking) and
    // per-term scores integerized before the per-doc sum so the double
    // sum is order-independent. See functions/TextAnalysis.bm25RawIdfTopK.
    Q("q_text_bm25_topk",
      (s, dir) => TextAnalysis
        .bm25RawIdfTopK(documents(s, dir), Seq("vector", "merge", "stream"), 10),
      Some("""WITH w AS (SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS word
             |  FROM documents),
             |len AS (SELECT doc_id, COUNT(*) AS len FROM w GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS n_docs,
             |    CAST(SUM(len) AS DOUBLE) AS total_len FROM len),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w
             |  WHERE word IN ('vector', 'merge', 'stream') GROUP BY 1, 2),
             |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
             |ts AS (SELECT tf.doc_id,
             |    CAST(floor(100000000.0 *
             |      ((tot.n_docs - df.df + 0.5) / (df.df + 0.5) *
             |       (tf.tf * 2.2) /
             |       (tf.tf + 1.2 * (0.25 +
             |         0.75 * len.len * tot.n_docs / tot.total_len))) + 0.5)
             |      AS BIGINT) AS s8
             |  FROM tf JOIN len USING (doc_id) JOIN df USING (word)
             |    CROSS JOIN tot)
             |SELECT doc_id, CAST(SUM(s8) AS BIGINT) AS bm25_rsj_x8
             |FROM ts GROUP BY 1
             |ORDER BY bm25_rsj_x8 DESC, doc_id LIMIT 10""".stripMargin)),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 top-25 and
    // the exact-cosine top-25 vs the vec_id=0 query embedding
    // (doc_id ≡ vec_id). Ranks are exact integers; 1/(60+rank) and the
    // fixed two-term sum are engine-identical IEEE ops, so the rrf
    // double hash-compares. See operators/Retrieval.rrfHybridTopK.
    Q("q_retrieval_rrf",
      (s, dir) => Retrieval.rrfHybridTopK(documents(s, dir),
        embeddings(s, dir), Seq("vector", "merge", "stream"),
        queryVecId = 0L, kEach = 25, k = 15),
      Some("""WITH w AS (SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS word
             |  FROM documents),
             |len AS (SELECT doc_id, COUNT(*) AS len FROM w GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS n_docs,
             |    CAST(SUM(len) AS DOUBLE) AS total_len FROM len),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w
             |  WHERE word IN ('vector', 'merge', 'stream') GROUP BY 1, 2),
             |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
             |ts AS (SELECT tf.doc_id,
             |    CAST(floor(100000000.0 *
             |      ((tot.n_docs - df.df + 0.5) / (df.df + 0.5) *
             |       (tf.tf * 2.2) /
             |       (tf.tf + 1.2 * (0.25 +
             |         0.75 * len.len * tot.n_docs / tot.total_len))) + 0.5)
             |      AS BIGINT) AS s8
             |  FROM tf JOIN len USING (doc_id) JOIN df USING (word)
             |    CROSS JOIN tot),
             |bm AS (SELECT doc_id, CAST(SUM(s8) AS BIGINT) AS s FROM ts
             |  GROUP BY 1 ORDER BY s DESC, doc_id LIMIT 25),
             |sp AS (SELECT doc_id,
             |    ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r_sparse
             |  FROM bm),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
             |  FROM embeddings),
             |qv AS (SELECT vec AS qvec FROM v WHERE vec_id = 0),
             |cs AS (SELECT c.vec_id, list_dot_product(q.qvec, c.vec) /
             |      (sqrt(list_dot_product(q.qvec, q.qvec)) *
             |       sqrt(list_dot_product(c.vec, c.vec))) AS cos
             |  FROM v c CROSS JOIN qv q WHERE c.vec_id <> 0),
             |dn0 AS (SELECT vec_id, cos FROM cs
             |  ORDER BY cos DESC, vec_id LIMIT 25),
             |dn AS (SELECT vec_id AS doc_id,
             |    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_dense
             |  FROM dn0)
             |SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
             |  COALESCE(CAST(1 AS DOUBLE) / (60 + r_sparse), CAST(0 AS DOUBLE))
             |    + COALESCE(CAST(1 AS DOUBLE) / (60 + r_dense), CAST(0 AS DOUBLE))
             |    AS rrf
             |FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id
             |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin)),

    // The at-scale RRF variant: the dense leg scores only the LSH
    // bucket cohort of the query vector (annTopK's candidate rule)
    // instead of the whole corpus — approximate in WHICH ids get
    // scored, deterministic in every number produced, so the oracle
    // replays the full chain: the hyperplane LCG (the q_embed_ann_lsh
    // machinery), bucket candidates for vec_id = 0, exact cosine over
    // the cohort, and the same BM25 + 1/(60+rank) fusion.
    Q("q_retrieval_rrf_ann",
      (s, dir) => Retrieval.rrfHybridTopK(documents(s, dir),
        embeddings(s, dir), Seq("vector", "merge", "stream"),
        queryVecId = 0L, kEach = 25, k = 15, denseLeg = "lsh"),
      Some("""WITH RECURSIVE lcg(k, s) AS (
             |  SELECT 0, (((((CAST(25214903917 AS HUGEINT) % 4294967296) * 1481765933 + (25214903917 >> 32) * 1284865837) % 4294967296) * 4294967296 + (25214903917 % 4294967296) * 1284865837) % 18446744073709551616 + 1442695040888963407) % 18446744073709551616
             |  UNION ALL
             |  SELECT k + 1, (((((s % 4294967296) * 1481765933 + (s >> 32) * 1284865837) % 4294967296) * 4294967296 + (s % 4294967296) * 1284865837) % 18446744073709551616 + 1442695040888963407) % 18446744073709551616 FROM lcg WHERE k < 4095),
             |pvals AS (
             |  SELECT CAST(k // 512 AS INT) AS t, CAST((k // 64) % 8 AS INT) AS b,
             |    CAST(k % 64 AS INT) AS i,
             |    CAST(s >> 11 AS DOUBLE) / 9007199254740992.0 - 0.5 AS p
             |  FROM lcg),
             |planes AS (
             |  SELECT t, b, list(p ORDER BY i) AS pl FROM pvals GROUP BY t, b),
             |v AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
             |vn AS (
             |  SELECT vec_id, vec,
             |    sqrt(list_dot_product(vec, vec)) AS nrm FROM v),
             |dots AS (
             |  SELECT vec_id, t, b,
             |    list_reduce(list_prepend(0.0,
             |      list_transform(list_zip(pl, vec), z -> z[1] * z[2])),
             |      (a, x) -> a + x) AS s
             |  FROM vn, planes),
             |buckets AS (
             |  SELECT vec_id, t,
             |    CAST(t AS BIGINT) * 4294967296 +
             |      SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS bucket
             |  FROM dots GROUP BY vec_id, t),
             |cand AS (
             |  SELECT DISTINCT c.vec_id
             |  FROM buckets c JOIN buckets q ON c.bucket = q.bucket
             |  WHERE q.vec_id = 0 AND c.vec_id <> 0),
             |cs AS (
             |  SELECT ca.vec_id,
             |    list_dot_product(qa.vec, ca.vec) / (qa.nrm * ca.nrm) AS cos
             |  FROM cand
             |  JOIN vn ca ON ca.vec_id = cand.vec_id
             |  CROSS JOIN (SELECT vec, nrm FROM vn WHERE vec_id = 0) qa),
             |dn0 AS (SELECT vec_id, cos FROM cs
             |  ORDER BY cos DESC, vec_id LIMIT 25),
             |dn AS (SELECT vec_id AS doc_id,
             |    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_dense
             |  FROM dn0),
             |w AS (SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS word
             |  FROM documents),
             |len AS (SELECT doc_id, COUNT(*) AS len FROM w GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS n_docs,
             |    CAST(SUM(len) AS DOUBLE) AS total_len FROM len),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w
             |  WHERE word IN ('vector', 'merge', 'stream') GROUP BY 1, 2),
             |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
             |ts AS (SELECT tf.doc_id,
             |    CAST(floor(100000000.0 *
             |      ((tot.n_docs - df.df + 0.5) / (df.df + 0.5) *
             |       (tf.tf * 2.2) /
             |       (tf.tf + 1.2 * (0.25 +
             |         0.75 * len.len * tot.n_docs / tot.total_len))) + 0.5)
             |      AS BIGINT) AS s8
             |  FROM tf JOIN len USING (doc_id) JOIN df USING (word)
             |    CROSS JOIN tot),
             |bm AS (SELECT doc_id, CAST(SUM(s8) AS BIGINT) AS s FROM ts
             |  GROUP BY 1 ORDER BY s DESC, doc_id LIMIT 25),
             |sp AS (SELECT doc_id,
             |    ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r_sparse
             |  FROM bm)
             |SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
             |  COALESCE(CAST(1 AS DOUBLE) / (60 + r_sparse), CAST(0 AS DOUBLE))
             |    + COALESCE(CAST(1 AS DOUBLE) / (60 + r_dense), CAST(0 AS DOUBLE))
             |    AS rrf
             |FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id
             |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin)),

    // Temperature-scaled mixture (T = 2): stratum share ∝ √n_lang,
    // integerized weights (floor(1000·√n) — sqrt is IEEE correctly
    // rounded, unlike pow) and an exact HUGEINT/DECIMAL(38,0)
    // cross-multiplied membership predicate. See
    // operators/Sampling.temperatureResample.
    Q("q_mixture_temperature",
      (s, dir) => Sampling
        .temperatureResample(documents(s, dir), totalTarget = 400L)
        .select("doc_id", "lang").orderBy("doc_id"),
      Some(s"""WITH c AS (SELECT lang, COUNT(*) AS n,
             |    CAST(floor(1000.0 * sqrt(CAST(COUNT(*) AS DOUBLE)))
             |      AS BIGINT) AS w
             |  FROM documents GROUP BY lang),
             |t AS (SELECT CAST(SUM(w) AS BIGINT) AS w_tot FROM c)
             |SELECT d.doc_id, d.lang
             |FROM documents d JOIN c USING (lang) CROSS JOIN t
             |WHERE CAST(${Sampling.portableBucketSql("d.doc_id", 42)} AS HUGEINT)
             |    * c.n * t.w_tot
             |  < CAST(10000 AS HUGEINT) * 400 * c.w
             |ORDER BY doc_id""".stripMargin)),
  )
}
