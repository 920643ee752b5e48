package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard (blocked), MinHash-LSH (banded), and SimHash.
  *
  * Scale design: nothing here is all-pairs over the corpus.
  *  - exact dedup = one hash aggregation on the fingerprint;
  *  - Jaccard pairs are blocked on (lang, compatible size) — the size
  *    predicate `2·min ≥ max` is a *necessary* condition for J ≥ 0.5, so
  *    no true pair is lost while the candidate space collapses;
  *  - MinHash-LSH generates candidates only within band buckets (the
  *    classic b×r banding scheme), then verifies with exact Jaccard —
  *    the shuffle key is the band bucket, never the cross product;
  *  - SimHash is a per-row signature; near-dup candidates come from
  *    signature-prefix buckets.
  */
object Dedup {

  /** Exact duplicate groups: canonical (min) doc_id + group size per
    * normalized-content fingerprint. One shuffle on the fingerprint. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(TextAnalysis.md5Fingerprint(col("text")).as("fingerprint"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("dup_count"))

  /** ln-scale size bucket with width ln(1/threshold): two token sets
    * that can reach J ≥ threshold (size ratio ≤ 1/threshold, see
    * [[jaccardPairs]]) land in the same or adjacent buckets. Exposed
    * package-private so specs can assert the blocking-key cardinality
    * scales with the corpus instead of capping at #langs. */
  private[graft] def sizeBucket(nToks: org.apache.spark.sql.Column,
                                threshold: Double): org.apache.spark.sql.Column = {
    // clamp keeps threshold = 1 meaningful (bucket ≈ exact size match)
    val width = math.max(math.log(1.0 / threshold), 1e-9)
    floor(log(greatest(nToks, lit(1)).cast("double")) / width).cast("long")
  }

  /** Sorted 64-bit token-hash set of a text column (graft_tok64 over
    * the distinct tokens): the exact-verify representation — fixed
    * 8 bytes per token through the candidate-pair joins, primitive
    * compares in the two-pointer intersect. Hash identity ≡ string
    * identity up to 2⁻⁶⁴-scale collisions (the md5-fingerprint trade).
    */
  private def sortedTokenHashSet(
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_sort(transform(TextAnalysis.tokenSet(text),
      t => graft.plans.Tok64Hash.tok64Col(t)))

  /** One-pass token-set projection: (doc_id, lang, toks, n_toks) with
    * `toks` the sorted 64-bit token-hash set. Package-private so specs
    * can feed [[prefixTokens]] directly. */
  private[graft] def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      sortedTokenHashSet(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")))

  /** Prefix-filter token stream (AllPairs/ppjoin family; Bayardo et al.
    * WWW'07, Xiao et al. WWW'08): each document's `n − ⌈t·n⌉ + 1`
    * globally RAREST tokens under the total order (document frequency
    * asc, token hash asc). For any pair with J ≥ t, the smallest
    * common token in that order provably lies in BOTH prefixes — if it
    * didn't lie in A's, at least |A| − ⌈t·|A|⌉ + 1 tokens of A would
    * precede every common token, forcing |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤
    * t·|A∪B|, contradicting J ≥ t — so an equi-join on a shared prefix
    * token is a LOSSLESS candidate generator whose key cardinality is
    * the token vocabulary: it grows with the corpus, and documents with
    * no tokens in common (e.g. different crawl shards/languages) never
    * meet at all. The 1e-9 slack inside ceil only ever LENGTHENS a
    * prefix when t·n sits on an exact-integer boundary that floating
    * multiplication overshoots, so it cannot lose pairs.
    *
    * Returns (doc_id, lang, n_toks, tok, pos, ptoks) — one row per
    * prefix token. `pos` is the token's 1-based rank in the doc's FULL
    * (df asc, tok asc)-ordered token list — the ppjoin positional-
    * filter input (Xiao et al. WWW'08): every common token of a pair
    * sits at or after the first common token in each side's order, so
    * |A∩B| ≤ |A| − pos_A + 1 at that token. `ptoks` is the doc's
    * prefix flattened as (df, tok, pos) TRIPLES sorted by (df, tok) —
    * the walk order of [[graft.plans.PrefixPositional]], which fuses
    * the canonical-occurrence dedup (evaluate each pair only at its
    * first common prefix entry, no `distinct()` shuffle — see
    * [[jaccardPairs]]) with the positional lookup. At any threshold
    * the prefix is the short end of the document (`n − ⌈t·n⌉ + 1`
    * tokens — ~3 at t = 0.9), so the array is a few extra longs per
    * row. `pos` is capped at 2^21 − 1 to fit the packed return value;
    * capping DOWN only ever LOOSENS the positional bound (|A| − pos
    * grows), so a >2M-token monster document degrades pruning, never
    * correctness. Both shuffles scale linearly: the df aggregate
    * map-side combines on the token, the rank window partitions per
    * document (the prefix-array collect reuses the same per-document
    * partitioning — one exchange, two in-partition passes). */
  private[graft] def prefixTokens(toks: DataFrame,
                                  threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = toks.select(col("doc_id"), col("lang"), col("n_toks"),
      explode(col("toks")).as("tok"))
    // toks holds SETS, so the occurrence count is the document frequency
    val dfT = ex.groupBy("tok").agg(count(lit(1)).as("_df"))
    val p = col("n_toks") -
      ceil(col("n_toks") * lit(threshold) - lit(1e-9)) + lit(1)
    // no broadcast hint: the vocabulary is corpus-sized at scale (AQE
    // broadcasts the few-MB df table itself at test scale)
    ex.join(dfT, "tok")
      .withColumn("_rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("_df"), col("tok"))))
      .where(col("_rk") <= p)
      .withColumn("pos", least(col("_rk").cast("long"), lit((1L << 21) - 1)))
      .withColumn("ptoks", flatten(transform(
        array_sort(collect_list(struct(col("_df"), col("tok"), col("pos"))).over(
          Window.partitionBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))),
        e => array(e("_df"), e("tok"), e("pos")))))
      .select("doc_id", "lang", "n_toks", "tok", "pos", "ptoks")
  }

  /** Candidate pairs of the prefix-filtered Jaccard join: each
    * qualifying pair exactly once, every bound applied MAP-SIDE inside
    * the join stage, before the pair shuffle. Used by [[jaccardPairs]].
    *
    * Four conjoined *necessary* conditions, each lossless (the full
    * ppjoin family, Xiao et al. WWW'08):
    *  - size compatibility: J ≥ t ⟹ min ≥ t·max (size filter + bucket
    *    replication on side b);
    *  - asymmetric INDEX prefix (in the body below): the smaller side
    *    offers only its first `n − ⌈(2t/(1+t))·n⌉ + 1` tokens, cutting
    *    join fan-in before any pair exists;
    *  - canonical occurrence: a pair sharing m candidate tokens meets m
    *    times; [[graft.plans.PrefixPositional]] returns non-NULL only
    *    where the join token is the FIRST common (df, tok) prefix
    *    entry — exact dedup with no occurrence shuffle, the minhash
    *    FirstEqualIndex shape. Buckets cannot double-count: side a pins
    *    its own bucket, so a pair meets a given shared token at most
    *    once;
    *  - ppjoin positional bound: at that first common token,
    *    |A∩B| ≤ min(|A| − posA + 1, |B| − posB + 1), and J ≥ t needs
    *    |A∩B| ≥ ⌈t·(|A|+|B|)/(1+t)⌉,
    *    so candidates whose shared token sits too deep in either
    *    prefix die HERE instead of riding the pair shuffle into the
    *    verify. The 1e-9 slack inside ceil can only round the required
    *    overlap DOWN to its exact integer value, never up past it, so
    *    no qualifying pair is lost (the prefix-length slack argument).
    *
    * `positional = false` selects [[jaccardCandidatesSymmetric]] — the
    * symmetric probe-prefix shape without the bound, kept as the
    * pruning spec's reference; production callers never pass it. */
  private[graft] def jaccardCandidates(pfx: DataFrame, threshold: Double,
                                       positional: Boolean = true): DataFrame = {
    if (!positional) return jaccardCandidatesSymmetric(pfx, threshold)
    // Orientation by SIZE (a = larger, ties by id): the side-b stream
    // offers only its INDEX prefix — the first
    // `n − ⌈(2t/(1+t))·n⌉ + 1` tokens in the (df, tok) order (~3 at
    // t = 0.9 vs the ~5-token probe prefix). Lossless for the smaller
    // record of a qualifying pair: overlap o ≥ t(na+nb)/(1+t) ≥
    // (2t/(1+t))·nb when nb ≤ na, so if the first common token sat
    // past b's index prefix, o ≤ nb − idxLen = ⌈(2t/(1+t))·nb⌉ − 1 <
    // o — contradiction. Join fan-in drops on both axes: fewer b rows
    // per doc AND only {bkt, bkt+1} bucket replicas (nb ≤ na pins
    // bucket(na) ≥ bucket(nb)), vs the symmetric shape's full probe
    // prefix × 3 replicas.
    val a = pfx.select(col("doc_id").as("ida"), col("lang"),
      col("tok"), col("n_toks").as("na"), col("ptoks").as("pa"))
      .withColumn("size_bucket", sizeBucket(col("na"), threshold))
    val idxLen = (col("n_toks") -
      ceil(col("n_toks") * lit(2.0 * threshold / (1.0 + threshold)) -
        lit(1e-9)) + lit(1)).cast("int")
    val bkt = sizeBucket(col("nb"), threshold)
    // the triple array is (df, tok)-sorted == pos-sorted, so the index
    // prefix is its first 3·idxLen elements (pos is capped at 2^21−1
    // for monster docs; a capped row passing the filter spuriously is
    // harmless — its token is absent from the sliced array, so the
    // first-common check below returns NULL and the row drops)
    val b = pfx
      .withColumn("_il", idxLen)
      .where(col("pos") <= col("_il"))
      .select(col("doc_id").as("idb"), col("lang"), col("tok"),
        col("n_toks").as("nb"),
        slice(col("ptoks"), lit(1), col("_il") * lit(3)).as("pb"))
      .withColumn("size_bucket", explode(array(bkt, bkt + 1)))
    val pp = graft.plans.PrefixPositional
      .posCol(col("pa"), col("pb"), col("tok"))
    // required overlap for J ≥ t: o/(na+nb−o) ≥ t ⟺ o ≥ t(na+nb)/(1+t)
    val alpha = ceil((col("na") + col("nb")) *
      lit(threshold / (1.0 + threshold)) - lit(1e-9))
    a.join(b, Seq("lang", "size_bucket", "tok"))
      .where((col("na") > col("nb") ||
          (col("na") === col("nb") && col("ida") < col("idb"))) &&
        col("nb") >= col("na") * threshold)
      .withColumn("_pp", pp)
      // non-NULL certifies the join token is the pair's FIRST common
      // prefix entry (exact dedup, one occurrence per pair) AND carries
      // its positions for the ppjoin bound
      .where(col("_pp").isNotNull &&
        least(col("na") - shiftright(col("_pp"), 21),
          col("nb") - col("_pp").bitwiseAND(lit((1L << 21) - 1))) +
          lit(1) >= alpha)
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"))
  }

  /** The symmetric probe×probe shape without the positional bound —
    * kept ONLY as the pruning spec's reference, behind
    * `jaccardCandidates(positional = false)`. */
  private def jaccardCandidatesSymmetric(pfx: DataFrame,
                                         threshold: Double): DataFrame = {
    val a = pfx.select(col("doc_id").as("doc_a"), col("lang"),
      col("tok"), col("n_toks").as("na"), col("ptoks").as("pa"))
      .withColumn("size_bucket", sizeBucket(col("na"), threshold))
    val bkt = sizeBucket(col("nb"), threshold)
    val b = pfx.select(col("doc_id").as("doc_b"), col("lang"),
      col("tok"), col("n_toks").as("nb"), col("ptoks").as("pb"))
      .withColumn("size_bucket", explode(array(bkt - 1, bkt, bkt + 1)))
    val pp = graft.plans.PrefixPositional
      .posCol(col("pa"), col("pb"), col("tok"))
    a.join(b, Seq("lang", "size_bucket", "tok"))
      .where(col("doc_a") < col("doc_b") &&
        col("na") >= col("nb") * threshold &&
        col("nb") >= col("na") * threshold)
      .where(pp.isNotNull)
      .select("doc_a", "doc_b")
  }

  /** Word-set Jaccard similarity pairs with J ≥ threshold. Returns
    * (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * Candidate key = (lang, ln-scale size bucket, shared prefix token) —
    * the conjunction of *necessary* conditions, each lossless
    * (see [[jaccardCandidates]] for the full derivation):
    *  - size compatibility: J ≥ t requires min(|A|,|B|) ≥ t·max(|A|,|B|),
    *    so with bucket width ln(1/t) a qualifying pair's buckets differ
    *    by ≤ 1 — side a pins its own bucket, side b replicates to
    *    {b−1, b, b+1} (the [[TemporalJoins.withinRange]] pattern);
    *  - prefix filter: the pair must share one of each side's rarest
    *    `n − ⌈t·n⌉ + 1` tokens ([[prefixTokens]]);
    *  - ppjoin positional bound: at the pair's FIRST common prefix
    *    token, the achievable overlap min(|A| − posA + 1, |B| − posB + 1)
    *    must reach ⌈t·(|A|+|B|)/(1+t)⌉, so weak candidates die before
    *    the pair shuffle.
    * A pair sharing m prefix tokens matches m times; the fused
    * [[graft.plans.PrefixPositional]] keeps only the first-common-token
    * occurrence IN the join stage (no pair-key `distinct` shuffle), so
    * the two-pointer intersect runs once per candidate pair.
    *
    * Scale: the r9 sf10 (100×) run exposed the previous
    * (lang, size_bucket)-only key as quadratic — bucket COUNT is fixed
    * by the size distribution, so 10× corpus ⇒ 100× pairs per bucket,
    * and the hottest bucket ran in ONE task for 46+ minutes. The prefix
    * token component makes the key cardinality grow with the
    * VOCABULARY: disjoint-vocabulary documents (other crawl shards,
    * other languages) generate zero candidates, and residual hot-token
    * skew is AQE-splittable because the quadratic work is spread over
    * (bucket × token) cells.
    *
    * Verify: both sides' token arrays attach to the candidate ids by two
    * plain joins, then the two-pointer [[graft.plans.SortedIntersectSize]]
    * gives the exact intersection.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // ONE tokenize pass (localCheckpoint, the minhashLshPairs
    // precedent): four consumers — the df aggregate and the prefix
    // stream inside prefixTokens, and both verify-side attach joins —
    // re-read ~|set| longs per doc instead of re-scanning the corpus.
    // Token identity via the 64-bit graft_tok64 ≡ string identity up
    // to 2⁻⁶⁴-scale collisions (the md5-fingerprint trade; equality
    // with the string formulation is property-tested).
    // NOT Par.floor'd (measured r17): jaccard's heavy stages all sit
    // past an exchange (df aggregate, rank window, bucket join), so the
    // floor only adds an exchange + 32-way scheduling to the tokenize
    // pass — q_dedup_ngram_jaccard read 3.2 -> 4.15 s median with it,
    // and the CC loop downstream of these pairs inherits the width.
    val toks = tokenSets(docs).localCheckpoint()
    // the prefix stream is doc×prefix-sized (≪ corpus tokens);
    // checkpoint once so the self-join's two sides don't each re-run
    // the df aggregate + rank window
    val pfx = prefixTokens(toks, threshold).localCheckpoint()
    val ta = toks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
      col("n_toks").as("na"))
    val tb = toks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
      col("n_toks").as("nb"))
    val inter = graft.plans.SortedIntersectSize
      .intersectSizeCol(col("toks_a"), col("toks_b"))
    jaccardCandidates(pfx, threshold).join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("inter", inter)
      // raw int/int division — bit-identical in any engine, so no ROUND
      // (which Spark and DuckDB perform differently on binary doubles)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Connected components of a near-duplicate pair graph: every document
    * labeled with the SMALLEST doc_id reachable through pairs — the
    * canonical-cluster assignment that turns pairwise near-dup output
    * (from [[jaccardPairs]] / [[minhashLshPairs]] /
    * [[simhashNearDupPairs]]) into dedup groups.
    *
    * Algorithm: iterative smallest-label propagation with pointer
    * jumping — each round every node takes the min of its own and its
    * neighbors' labels (one broadcast-join + min-aggregate, map-side
    * combining), then shortcuts label := label(label) (one more
    * broadcast join; labels are node ids, so the lookup is total). The
    * jump halves the distance to each component's minimum every round,
    * so the round bound is O(log diameter) — a 10k-link chain converges
    * in ~15 rounds, not 10k — at the price of a second node-sized join
    * per round (irrelevant for the tight clusters near-dup graphs
    * produce, decisive for adversarial chains; pinned in
    * LlmOperatorsSpec's path-graph test). Labels are `localCheckpoint`ed
    * per round so the plan doesn't grow with the iteration count; the
    * driver holds only a crossing-edge COUNT, never the graph. Returns
    * (doc_id, cluster_id), deterministic for any input partitioning.
    *
    * Convergence: the loop stops in the last CHANGING round, when no
    * edge crosses (label(src) != label(dst)). If no edge crosses,
    * propagation is a no-op, so labels are uniform per component; a
    * uniform component label L is the id of a node in that component
    * whose own label is then L by the same uniformity, so the pointer
    * jump is the identity too — the next round provably reproduces the
    * labels bit-for-bit, and skipping it cannot change the output. The
    * probe runs over the caller's full edge list, which the loop never
    * rewrites (CCConvergenceSpec pins the saved round).
    */
  def duplicateClusters(pairs: DataFrame, docs: DataFrame,
                        maxRounds: Int = 50): DataFrame = {
    // lazy checkpoint: round 1's job materializes the blocks, and every
    // later round streams them instead of re-running the caller's plan
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(false)
    // Propagate over docs ∪ pair endpoints: a caller may pass pairs whose
    // nodes were filtered out of `docs`, and paths THROUGH such nodes
    // must still connect (only the output is restricted to docs).
    val nodes = docs.select(col("doc_id"))
      .unionByName(edges.select(col("src").as("doc_id"))).distinct()
    var labels = nodes.withColumn("label", col("doc_id"))
      .localCheckpoint(false) // materialized by round 1's job
    // The label table is NODE-sized while the edge list is PAIR-sized
    // (near-dup graphs run ~100+ edges per node), so every label lookup
    // below broadcasts the labels and streams the edges from their
    // checkpoint blocks: the per-round shuffle is only the map-side-
    // combined aggregate (≤ nodes rows per mapper). The broadcast is
    // node-bounded: ~300 MB at 20M nodes.
    // (r18 negative, measured: a data-derived round-width cap — coalesce
    // edges + hash-repartition the propagation aggregate to
    // ceil((edges+nodes)/500k) partitions when under defaultParallelism,
    // the mirror image of Par.floor — was NEUTRAL at contract scale
    // (4.4-4.8 s vs 4.1-4.9 s fresh-JVM on q_neardup_prune): the
    // per-round cost is driver/AQE/job latency, not 32-way task
    // scheduling. Reverted to keep the loop's one shape.)
    def crossingCount(lbl: DataFrame): Long = {
      val la = lbl.select(col("doc_id").as("src"), col("label").as("la"))
      val lb = lbl.select(col("doc_id").as("dst"), col("label").as("lb"))
      edges.join(broadcast(la), "src").join(broadcast(lb), "dst")
        .where(col("la") =!= col("lb")).count()
    }
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      require(round <= maxRounds, s"CC did not converge in $maxRounds rounds")
      // Round 1 is join-free (the hash-to-min initialization): the
      // labels are still the identity (label(src) == src for every
      // node), so the broadcast-join lookup below would be an identity
      // map evaluated once per edge. Emitting the edge directly computes
      // the same round-1 propagation min(self, neighbors); rounds 2+
      // need the real label lookup.
      val fromNeighbors =
        if (round == 1)
          edges.select(col("dst").as("doc_id"), col("src").as("label"))
        else edges
          .join(broadcast(labels.withColumnRenamed("doc_id", "src")), "src")
          .select(col("dst").as("doc_id"), col("label"))
      val propagated = labels.unionByName(fromNeighbors)
        .groupBy("doc_id").agg(min("label").as("label"))
      // pointer jumping: label := label(label). Every label IS a node id
      // (initial labels are ids; min only selects among them), so the
      // left join always matches — coalesce only guards the in-flight
      // case where the mapping row lands in a later partition batch.
      // Labels stay monotone non-decreasing downward: label(label) ≤
      // label because every node's label ≤ its own id.
      // (r18 negative, measured: a DOUBLE jump — label := m(m(label)),
      // second join reusing the same broadcast mapping — left the round
      // count at 4 on the contract graphs: the changing rounds are
      // PROPAGATION-depth-bound (min flowing along edges), not label-
      // chain-bound, so the extra in-stage probe bought nothing.
      // Reverted; single jump below.)
      val mapping = propagated
        .select(col("doc_id").as("map_src"), col("label").as("map_dst"))
      val next = propagated
        .join(broadcast(mapping), col("label") === col("map_src"), "left")
        .select(col("doc_id"),
          coalesce(col("map_dst"), col("label")).as("label"))
        .localCheckpoint(false) // materialized by the convergence probe
      // the probe's broadcast builds execute (and so materialize) the
      // lazy checkpoint: one action per round
      converged = crossingCount(next) == 0L
      // `next` is materialized, so the previous round's checkpoint
      // blocks are dead — free them NOW (Ckpt.free releases the
      // underlying RDD's blocks; Dataset.unpersist() is a CacheManager
      // no-op on a checkpoint)
      Ckpt.free(labels)
      labels = next
    }
    labels.join(docs.select("doc_id").distinct(), "doc_id")
      .select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Deterministic 64-bit token hash for permutation `i` (seeded affine
    * scramble over a murmur-ish base — stable across JVMs/executors). */
  private def tokenHash(i: Int, token: String): Long = {
    // sign-extended code-point ×31 fold (PortableHash.cp31), NOT
    // String.hashCode: the DuckDB oracles fold unicode(c), and the two
    // only agree beyond the BMP if the JVM side folds code points too
    var h = graft.functions.PortableHash.cp31(token).toLong ^
      (0x9e3779b97f4a7c15L * (i + 1))
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33); h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** MinHash signature of a token set: `numPerm` minima. */
  def minhashSignature(toks: Seq[String], numPerm: Int): Array[Long] = {
    val sig = Array.fill(numPerm)(Long.MaxValue)
    toks.foreach { t =>
      var i = 0
      while (i < numPerm) {
        val h = tokenHash(i, t)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * b bands × r rows (numPerm = b·r) — a pair lands in the same bucket of
    * some band with probability 1-(1-J^r)^b (≈0.99+ for J ≥ 0.5 at
    * b=16, r=4). Candidates are generated ONLY within band buckets
    * (groupBy band+bucket), then verified with exact word-set Jaccard, so
    * the expensive comparison runs on a vanishing fraction of pairs.
    *
    * Shuffle discipline (the r9 sf10 lesson): dedup, the signature-
    * agreement gate, and the exact verify ALL run inside the bucket-join
    * stage, on rows that already carry the signature, the band-hash
    * array, and the sorted token-hash set. The per-doc payload is
    * ~(numPerm + bands + |tokens|) longs through ONE bucket exchange
    * (reused for both join sides); nothing else shuffles. The previous
    * formulation materialized the candidate ids (457M rows at sf10),
    * `distinct()`ed them, then re-attached signatures and token sets
    * with four corpus-wide joins — the second of which shipped a
    * signature array per CANDIDATE (~240 GB at sf10) and measured 38×
    * for 10× data. Pair dedup is now the canonical-occurrence filter:
    * a pair is evaluated only in its FIRST shared band
    * ([[graft.plans.FirstEqualIndex]]), which is exact dedup without a
    * shuffle.
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double,
                      bands: Int = 16, rows: Int = 4): DataFrame =
    // (r18 negative, MEASURED — the r17-verdict "narrow the band-
    // exchange payload" design spike.) A cluster-routed variant was
    // built and A/B'd: band-join on (doc_id, bhs, bucket) only — 9×
    // fewer bytes per band replica — emitting bare candidate ids, then
    // the gate + exact verify cogrouped by connected component so each
    // doc's (sig, htoks) crossed the network once (the shape of a
    // since-deleted routed jaccard verify). Output-identical (9,587,106 pairs
    // both arms at sf1), but 3× SLOWER at sf1 (32.2 s vs 9.9-10 s) and
    // ≥8× slower at sf10 (one routed execution exceeded 8 min vs
    // 53.9 s fused): candidates outnumber docs ~100:1 on a dup-heavy
    // corpus, so the routed shape's pair-scale machinery (candidate
    // checkpoint + CC loop + two cogroup exchanges over ~4.6× the true
    // pairs) costs far more than shipping the per-doc payload once per
    // BAND REPLICA (8×docs rows) ever did. The fused in-stage shape —
    // payload through ONE reused exchange, dedup/gate/verify map-side —
    // is the right trade at every measured scale; reverted to it.
    minhashStages(docs, threshold, bands, rows)

  /** The [[minhashLshPairs]] pipeline. `boundedVerify = false` swaps
    * in the plain intersection kernel, the reference the bounded one is
    * checked against (ArrayExprSpec). Calling it EAGERLY computes the
    * signature stage (the localCheckpoint). */
  private[graft] def minhashStages(docs: DataFrame, threshold: Double,
      bands: Int, rows: Int, boundedVerify: Boolean = true): DataFrame = {
    val numPerm = bands * rows
    val sigUdf = udf { (toks: Seq[String]) => minhashSignature(toks, numPerm) }
    val bandHashUdf = udf { (sig: Seq[Long]) =>
      (0 until bands).map { bd =>
        var h = 1125899906842597L
        var j = bd * rows
        while (j < (bd + 1) * rows) { h = h * 31 + sig(j); j += 1 }
        bd.toLong << 56 | (h & 0xffffffffffffL)
      }
    }
    // ONE tokenize pass over the corpus: a single projection computes
    // every derived representation — the numPerm-long minhash signature
    // (the estimate gate), the bands-long band-hash array (bucketing +
    // canonical-occurrence dedup), and the sorted 64-bit token-hash set
    // (exact verify; intersection on graft_tok64 hashes ≡ on strings up
    // to 2⁻⁶⁴-scale collisions, property-tested vs the string answer) —
    // from one tokenSet evaluation, then localCheckpoints (the
    // duplicateClusters/semDedup precedent). The signature UDF (numPerm
    // hashes per token, the heaviest per-row step) runs exactly once.
    // Minhash minima are order-independent, so the unsorted distinct
    // set feeds the UDF directly.
    // Par.floor: the signature pass AND the band join's probe side run
    // at the checkpoint's partition count — a single-file corpus scan
    // would serialize both on one core (r17: 9.7 → 1.3 s at sf0.1).
    val sigs = Par.floor(docs)
      .select(col("doc_id"), TextAnalysis.tokenSet(col("text")).as("_ts"))
      .select(col("doc_id"),
        sigUdf(col("_ts")).as("sig"),
        array_sort(transform(col("_ts"),
          t => graft.plans.Tok64Hash.tok64Col(t)))
          .as("htoks"))
      .withColumn("bhs", bandHashUdf(col("sig")))
      .localCheckpoint()

    val brows = sigs.select(col("doc_id"), col("sig"), col("htoks"),
      col("bhs"), explode(col("bhs")).as("bucket"))
    // native codegen'd in-stage predicates (the zip_with/aggregate HOF
    // forms are CodegenFallback: interpreted lambdas + an intermediate
    // array per pair, and these run on every in-bucket occurrence)
    val firstShared = graft.plans.FirstEqualIndex
      .firstEqualIndexCol(col("x.bhs"), col("y.bhs"))
    val estMatches = graft.plans.CountEqual
      .countEqualCol(col("x.sig"), col("y.sig"))
    // verify kernel: the threshold-bounded merge aborts a pair the
    // moment `matched + min(remaining)` can no longer reach the minimal
    // passing intersection (which also kills size-mismatched pairs at
    // step 0, before a single comparison). It returns -1 for provably-
    // failing pairs, whose jaccard then computes negative and fails the
    // SAME `>= threshold` filter — the emitted row set is identical to
    // the plain kernel's (property-pinned in LlmOperatorsSpec; r13
    // sf100 A/B in BASELINE.md). `boundedVerify = false` keeps the
    // plain kernel reachable for that property spec.
    val inter =
      if (boundedVerify) graft.plans.SortedIntersectBounded
        .boundedCol(col("x.htoks"), col("y.htoks"), lit(threshold))
      else graft.plans.SortedIntersectSize
        .intersectSizeCol(col("x.htoks"), col("y.htoks"))
    val candidates = brows.as("x").join(brows.as("y"), Seq("bucket"))
      .where(col("x.doc_id") < col("y.doc_id"))
      // canonical occurrence: a pair is in every shared band's bucket;
      // keep only its FIRST shared band, so each unique pair is
      // evaluated exactly once — dedup with ~bands compares, no shuffle
      .where(shiftright(col("bucket"), 56).cast("int") === firstShared)
    // signature-agreement estimate (matching components / numPerm, an
    // unbiased J estimator) prunes pairs well below the threshold
    // before the exact token-set intersection runs. The slack (0.15)
    // keeps estimator variance from dropping true pairs
    // (property-tested in LlmOperatorsSpec); the final filter is
    // EXACT Jaccard, so precision is unaffected.
    candidates
      .where(estMatches >= lit(math.max(0.0, threshold - 0.15) * numPerm))
      .withColumn("inter", inter)
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("x.htoks")) + size(col("y.htoks")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("jaccard"))
  }

  /** 64-bit SimHash over the word set (unweighted votes). */
  def simhash64(toks: Seq[String]): Long = {
    val votes = new Array[Int](64)
    toks.foreach { t =>
      val h = tokenHash(0, t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  private val simhashUdf = udf { (toks: Seq[String]) => simhash64(toks) }

  /** Per-document SimHash signatures + a 16-bit prefix bucket (the
    * blocking key a near-dup pass would shuffle on). */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        simhashUdf(TextAnalysis.tokenSet(col("text"))).as("simhash"))
      .withColumn("bucket", shiftrightunsigned(col("simhash"), 48).cast("int"))

  /** SimHash near-duplicate pairs with Hamming distance ≤ maxHamming.
    *
    * Blocking is pigeonhole-exact for maxHamming ≤ 3: the 64-bit
    * signature splits into 4 disjoint 16-bit chunks, and any pair
    * within ≤ 3 differing bits must agree EXACTLY on at least one
    * chunk — so the candidate join on (chunk index, chunk value) loses
    * no true pair, and the verify step is a codegen'd
    * bit_count(a XOR b). Same shuffle shape as MinHash banding: equi-
    * join on the chunk key, never a cross product.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk blocking is only exact for maxHamming <= 3")
    // Par.floor: the simhash UDF and the chunk join's probe side
    // otherwise run at the corpus scan's partition count (see Par)
    val sigs = Par.floor(docs).select(col("doc_id"),
      simhashUdf(TextAnalysis.tokenSet(col("text"))).as("simhash"))
    val chunks = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { i =>
        struct(lit(i).as("chunk_idx"),
          shiftrightunsigned(col("simhash"), i * 16)
            .bitwiseAND(lit(0xffffL)).as("chunk_val"))
      }: _*)).as("c"))
      .select(col("doc_id"), col("simhash"),
        col("c.chunk_idx").as("chunk_idx"), col("c.chunk_val").as("chunk_val"))
    val x = chunks.select(col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"), col("chunk_idx"), col("chunk_val"))
    val y = chunks.select(col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"), col("chunk_idx"), col("chunk_val"))
    // The hamming verify runs INSIDE the bucket-join stage, before the
    // pair-dedup distinct (the minhash-LSH precedent): bit_count(xor) is
    // one codegen'd instruction pair, so evaluating it on every candidate
    // costs nothing, while distinct is a full shuffle of its input — and
    // candidates outnumber true pairs ~9x (sf10 measured 274.7M
    // candidates vs 29.1M true pairs), so filtering first cuts the
    // operator's one big exchange by that factor. A pair near on ≥ 2
    // chunks duplicates into ≥ 2 buckets, but both copies pass the same
    // verdict, so distinct-after-verify loses nothing.
    x.join(y, Seq("chunk_idx", "chunk_val"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming").distinct()
  }
}
