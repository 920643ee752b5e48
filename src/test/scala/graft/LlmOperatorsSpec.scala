package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity}

/** Quality contracts for the approximate LLM-pipeline operators, asserted
  * against their exact counterparts (these have no DuckDB oracle — the
  * hash seeds are engine-internal).
  */
class LlmOperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // Synthetic corpus with planted near-duplicates: base docs + mutated
  // copies (drop/replace a few tokens) + exact copies.
  private lazy val corpus = {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon".split(" ")
    def doc(seed: Int, n: Int): String = {
      var s = seed.toLong
      (0 until n).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        words((((s >>> 33) % words.length).toInt + words.length) % words.length)
      }.mkString(" ")
    }
    val bases = (0 until 20).map(i => (i.toLong, doc(i * 31 + 7, 40), "en"))
    val nearDups = (0 until 6).map { i =>
      val base = bases(i)._2.split(" ")
      val mutated = base.take(36).mkString(" ") + " omega psi chi phi"
      (100L + i, mutated, "en")
    }
    val exactDups = (0 until 3).map(i => (200L + i, bases(i)._2, "en"))
    spark.createDataFrame(bases ++ nearDups ++ exactDups)
      .toDF("doc_id", "text", "lang")
  }

  test("exact dedup groups exact copies under the min doc_id") {
    val groups = Dedup.exactGroups(corpus)
      .where(col("dup_count") > 1).collect()
    assert(groups.length === 3)
    assert(groups.forall(_.getLong(1) < 20)) // canonical = base doc id
    assert(groups.forall(_.getLong(2) === 2L))
  }

  test("jaccard blocking-key cardinality scales with the corpus, not #langs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // candidate key = (lang, size_bucket, prefix token): its cardinality
    // is bounded below by the distinct (lang, prefix-token) pairs — the
    // vocabulary-scaling component that keeps per-cell pair work bounded
    // as the corpus grows (the r9 sf10 run showed the size bucket alone
    // caps at a fixed count ⇒ quadratic per-bucket work in one task)
    val keys = Dedup.prefixTokens(Dedup.tokenSets(docs), 0.9)
      .select("lang", "tok").distinct().count()
    val langs = docs.select("lang").distinct().count()
    assert(keys >= langs * 3,
      s"only $keys blocking keys for $langs langs — pair explosion would run at #langs parallelism")
    // and the prefix stream itself is doc×prefix-sized, not corpus-token-sized
    val nDocs = docs.count()
    val pfxRows = Dedup.prefixTokens(Dedup.tokenSets(docs), 0.9).count()
    assert(pfxRows >= nDocs, s"prefix stream $pfxRows rows < $nDocs docs")
  }

  test("jaccard positional bound prunes a size-compatible shared-prefix pair") {
    // Hand-built ppjoin kill case (t = 0.8): two 10-token docs sharing
    // 8 tokens — J = 8/12 ≈ 0.67 < t, so not in the answer — that the
    // size filter (10 vs 10) and the prefix filter (they DO share a
    // prefix token) both pass. B's two unique tokens are globally rare
    // (df = 1), so they fill B's prefix and push the shared token to
    // prefix position 3: the index prefix (⌈(2·0.8/1.8)·10⌉ ⇒ first 2
    // tokens) excludes it, and even at probe depth the positional
    // bound kills it — achievable overlap ≤ min(10−posA+1, 10−posB+1)
    // = 8 < ⌈0.8·20/1.8⌉ = 9. Either way the pair dies before the
    // pair shuffle.
    val t = 0.8
    val shared = (1 to 8).map(i => s"s$i")
    val a = (shared ++ Seq("a9", "a10")).mkString(" ")
    val b = (shared ++ Seq("x9", "x10")).mkString(" ")
    // padding docs keep the shared tokens' df ABOVE the unique tokens'
    // (each padding doc repeats the shared tokens under a distinct lang
    // so it can't join with the pair under test)
    val pad = (0 until 3).map(i => (10L + i, shared.mkString(" "), s"pad$i"))
    val docs = (Seq((1L, a, "en"), (2L, b, "en")) ++ pad)
      .toDF("doc_id", "text", "lang")
    val pfx = Dedup.prefixTokens(Dedup.tokenSets(docs), t)
    // preconditions: the pair shares a prefix token and is size-compatible
    val pfxByDoc = pfx.select("doc_id", "tok").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(pfxByDoc(1L).intersect(pfxByDoc(2L)).nonEmpty,
      "setup broken: pair must share a prefix token for the test to bite")
    // with the bound disabled the pair IS a candidate — so the bound,
    // not some other filter, does the pruning below
    assert(Dedup.jaccardCandidates(pfx, t, positional = false)
      .where(col("doc_a") === 1L && col("doc_b") === 2L).count() === 1)
    assert(Dedup.jaccardCandidates(pfx, t)
      .where(col("doc_a") === 1L && col("doc_b") === 2L).count() === 0,
      "positional bound failed to prune the candidate")
  }

  test("jaccard prefix filter is lossless vs a brute-force same-lang join") {
    // exact answer via an unblocked O(n²) join on the tiny spec corpus
    val t = 0.5
    val toks = Dedup.tokenSets(corpus)
    val l = toks.select(col("doc_id").as("doc_a"), col("lang"),
      col("toks").as("ta"), col("n_toks").as("na"))
    val r = toks.select(col("doc_id").as("doc_b"), col("lang"),
      col("toks").as("tb"), col("n_toks").as("nb"))
    val brute = l.join(r, "lang")
      .where(col("doc_a") < col("doc_b"))
      .withColumn("inter", graft.plans.SortedIntersectSize
        .intersectSizeCol(col("ta"), col("tb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= t)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val blockedRows = Dedup.jaccardPairs(corpus, t)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSeq
    val blocked = blockedRows.toSet
    assert(blocked === brute)
    assert(brute.nonEmpty)
    // each pair exactly once: the canonical-occurrence dedup runs inside
    // the candidate join, with no distinct() downstream to hide a repeat
    assert(blockedRows.size === blocked.size)
  }

  test("minhash estimate prefilter keeps every true pair (property, b=8 r=8)") {
    // Property behind Dedup's two-stage verification: no pair with true
    // J >= threshold is dropped by the `threshold - 0.15` signature
    // estimate gate. The estimator matches/numPerm has stddev
    // sqrt(J(1-J)/64) ~ 0.04 at J=0.9, so the 0.15 slack is ~4 sigma;
    // with pinned generator seeds the check is fully deterministic.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val numPerm = 64
    val threshold = 0.9
    val gate = math.max(0.0, threshold - 0.15) * numPerm
    val vocab = (0 until 400).map(i => s"w$i").toVector
    val genCase = for {
      n <- Gen.choose(20, 120)
      base <- Gen.pick(n, vocab)
      nMut <- Gen.choose(0, math.max(1, n / 12))
      repl <- Gen.pick(nMut, vocab)
    } yield {
      val sa = base.toSet
      (sa, sa.toSeq.sorted.drop(nMut).toSet ++ repl.toSet)
    }
    var checked = 0
    (0 until 300).foreach { i =>
      val (sa, sb) = genCase(Gen.Parameters.default, Seed(42L + i)).get
      val trueJ = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if (trueJ >= threshold) {
        checked += 1
        val estA = Dedup.minhashSignature(sa.toSeq.sorted, numPerm)
        val estB = Dedup.minhashSignature(sb.toSeq.sorted, numPerm)
        val matches = estA.zip(estB).count { case (x, y) => x == y }
        assert(matches >= gate,
          s"corpus $i: true J=$trueJ but estimate $matches < gate $gate — prefilter dropped a true pair")
      }
    }
    assert(checked >= 30, s"generator produced only $checked high-J cases")
  }

  test("MinHash-LSH finds every exact duplicate and high-Jaccard pair") {
    val exact = Dedup.jaccardPairs(corpus, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val lsh = Dedup.minhashLshPairs(corpus, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    // precision: LSH output is exact-verified, so it must be a subset
    assert(lsh.subsetOf(exact))
    // recall on strong pairs (J >= 0.7): banding (b=16, r=4) detects
    // these with prob > 0.98 each
    val strong = exact.filter(_._3 >= 0.7)
    assert(strong.nonEmpty)
    val found = strong.count(lsh.contains)
    assert(found.toDouble / strong.size >= 0.9,
      s"LSH recall ${found.toDouble / strong.size} on ${strong.size} strong pairs")
    // the planted exact copies (J = 1.0) are always found
    assert(lsh.exists { case (a, b, j) => j === 1.0 && b >= 200 && a < 20 })
  }

  test("duplicate clusters: transitive chains collapse to the min doc_id") {
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L), (4L, 5L), (3L, 4L), // chain 1..6
        (10L, 11L))
      .toDF("doc_a", "doc_b")
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 10L, 11L, 20L).toDF("doc_id")
    val cc = Dedup.duplicateClusters(pairs, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the 6-hop chain needs multiple propagation rounds; 20 is untouched
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))

    // paths THROUGH nodes absent from docs still connect, and the
    // output contains only docs rows
    val filtered = Seq(1L, 3L).toDF("doc_id")
    val viaMissing = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val cc2 = Dedup.duplicateClusters(viaMissing, filtered)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc2 === Map(1L -> 1L, 3L -> 1L))
  }

  test("SimHash: identical token sets collide, distinct ones don't (here)") {
    val sigs = Dedup.simhashSignatures(corpus)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    (0 until 3).foreach { i =>
      assert(sigs(i.toLong) === sigs(200L + i), s"exact dup $i hash differs")
    }
    assert(sigs.values.toSet.size > 15)
  }

  test("SimHash near-dup pairs match brute force exactly (pigeonhole blocking)") {
    val pairs = Dedup.simhashNearDupPairs(corpus, 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    // planted exact copies collide at hamming 0
    (0 until 3).foreach { i =>
      assert(pairs.exists(p => p._1 == i && p._2 == 200L + i && p._3 == 0))
    }
    // chunk blocking is lossless for <= 3: equals the all-pairs answer
    val sigs = Dedup.simhashSignatures(corpus)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(pairs === brute)
  }

  test("ANN (hyperplane LSH) recalls most exact top-5 neighbors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Similarity.exactTopK(emb, 5, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(emb, 5, 5, tables = 8, bits = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall < 0.6 (${exact.size} truth pairs)")
  }

  test("ANN (IVF / k-means lists) recalls most exact top-5 neighbors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Similarity.exactTopK(emb, 5, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, 5, 5, nLists = 8, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall < 0.6 (${exact.size} truth pairs)")
  }

  test("SemDeDup survivors match a brute-force within-cluster reimplementation") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val t = 0.3
    val got = Similarity.semDedupSurvivors(emb, t)
      .as[(Long, Int)].collect().toMap

    // third implementation (plain Scala, no Spark joins): same centroids
    // from lloydFit, then sequential-fold argmin + all-pairs per cluster
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val ndot = graft.plans.DotProduct.dotCol(_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column)
    val vFrame = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val cents = Similarity.lloydFit(vFrame, 16, 2, 4096L)
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
      .as[(Long, Seq[Double])].collect()
    // r11: assignment is TWO-LEVEL (nearest populated super, then
    // nearest child of that branch) — mirror it from superQuantizer's
    // output so the reference stays independent of graft_hier_argmin
    val (sup, branchOf) = Similarity.superQuantizer(cents, 2)
    val populated = branchOf.values.toSet
    val supOk = sup.filter(s => populated.contains(s._1))
    val asg = vecs.map { case (id, vec) =>
      val n = dot(vec, vec)
      val sid = supOk.map { case (s, sv, sc) =>
        (n + sc - 2 * dot(vec, sv.toSeq), s) }.min._2
      val cid = cents.filter(c => branchOf(c._1) == sid).map { case (c, cv, cc) =>
        (n + cc - 2 * dot(vec, cv.toSeq), c) }.min._2
      (id, cid, vec, n)
    }
    val pruned = (for {
      (ida, ca, va, na) <- asg; (idb, cb, vb, nb) <- asg
      if ca == cb && ida < idb &&
        dot(va, vb) / (math.sqrt(na) * math.sqrt(nb)) >= t
    } yield idb).toSet
    assert(pruned.nonEmpty, "threshold should prune something at this sf")
    val want = asg.filterNot(a => pruned(a._1)).map(a => a._1 -> a._2).toMap
    assert(got === want)
    // representative property: the smallest vec_id always survives
    assert(got.contains(vecs.map(_._1).min))
  }

  test("stratified sample: layout-independent, deterministic, near target rates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    val fractions = Map("en" -> 0.5, "fr" -> 0.2, "es" -> 0.2, "de" -> 0.2, "zh" -> 0.2)
      .filter { case (l, _) => langs.contains(l) }
    def ids(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.stratifiedByHash(d, "lang", fractions, "doc_id", 42)
        .select("doc_id").as[Long](spark.implicits.newLongEncoder).collect().sorted.toSeq
    val a = ids(docs)
    assert(a === ids(docs), "same seed must give the same sample")
    // layout independence — the defect sampleBy has: membership must be
    // a pure function of doc_id, identical under ANY partitioning
    assert(a === ids(docs.repartition(13)))
    assert(a === ids(docs.coalesce(1)))
    val all = docs.select("doc_id").as[Long](spark.implicits.newLongEncoder).collect().toSet
    assert(a.forall(all.contains))
    // per-stratum rate within a loose Bernoulli tolerance
    val sampled = graft.operators.Sampling
      .stratifiedByHash(docs, "lang", fractions, "doc_id", 42)
    val got = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    fractions.foreach { case (l, f) =>
      val rate = got.getOrElse(l, 0L).toDouble / totals(l)
      assert(math.abs(rate - f) < 0.15, s"stratum $l rate $rate vs target $f")
    }
  }

  test("duplicate clusters: empty pair graph / empty corpus is a no-op") {
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val noDocs = Seq.empty[Long].toDF("doc_id")
    assert(Dedup.duplicateClusters(noPairs, noDocs).count() === 0L)
    // empty pairs over a non-empty corpus: every doc is its own cluster
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val singleton = Dedup.duplicateClusters(noPairs, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(singleton === Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("duplicate clusters: path graph converges in O(log diameter) rounds") {
    import spark.implicits._
    // adversarial worst case for label propagation: one 2000-link chain
    // (diameter 2000). Plain neighbor-min needs ~2000 rounds; pointer
    // jumping halves the distance to the minimum every round, so 20
    // rounds (≈ log2(2000) + slack) must suffice — WITHOUT raising the
    // default maxRounds=50.
    val n = 2000L
    val chain = spark.range(n).select(col("id").as("doc_a"),
      (col("id") + 1).as("doc_b"))
    val docs = spark.range(n + 1).select(col("id").as("doc_id"))
    val clusters = Dedup.duplicateClusters(chain.toDF(), docs.toDF(),
      maxRounds = 20)
    val byCluster = clusters.groupBy("cluster_id").count().collect()
    assert(byCluster.length === 1, "a chain is ONE component")
    assert(byCluster.head.getLong(0) === 0L, "cluster id = min node id")
    assert(byCluster.head.getLong(1) === n + 1)
    // two chains + isolated nodes keep distinct labels
    val twoChains = chain.where(col("doc_a") =!= lit(999L)) // cut at 999-1000
    val c2 = Dedup.duplicateClusters(twoChains.toDF(), docs.toDF(),
      maxRounds = 20)
      .groupBy("cluster_id").count().orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(c2 === Seq((0L, 1000L), (1000L, 1001L)))
  }

  test("int8 quantization: range, saturation at the max, bounded dequant error") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val rows = graft.operators.Similarity.quantizeInt8(emb)
      .join(emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec")), "vec_id")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val q = r.getSeq[Int](r.fieldIndex("qvec"))
      val v = r.getSeq[Double](r.fieldIndex("vec"))
      assert(q.forall(x => x >= -127 && x <= 127))
      // the max-|component| quantizes to exactly ±127
      assert(q.exists(x => math.abs(x) == 127))
      // dequantization error ≤ scale/254 (half a quantization step)
      v.zip(q).foreach { case (orig, quant) =>
        val err = math.abs(orig - quant * scale / 127)
        assert(err <= scale / 254 + 1e-12, s"err $err > ${scale / 254}")
      }
    }
  }

  test("multimodal: payload schema + batched real header decode") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(Multimodal.attachPayload(docs)
      .schema("payload").dataType.typeName === "binary")
    val media = Multimodal.attachImagePayload(docs)
    assert(media.schema("payload").dataType.typeName === "binary")
    val out = Multimodal.decodeMedia(spark, media, batchSize = 16).collect()
    assert(out.nonEmpty)
    // batch shape: every row decoded within a batch of <= 16
    assert(out.forall(r => r.getInt(6) >= 1 && r.getInt(6) <= 16))
    assert(out.exists(_.getInt(6) > 1))
    // format assignment and parsed dimensions match the construction
    val meta = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = (1 + meta(id) % 640, 1 + meta(id) * 7 % 480)
      (id % 3) match {
        case 0 =>
          assert(r.getString(1) == "png" && r.getInt(2) == w &&
            r.getInt(3) == h && r.getInt(4) == 8, s"doc $id: $r")
        case 1 =>
          assert(r.getString(1) == "jpeg" && r.getInt(2) == w &&
            r.getInt(3) == h && r.getInt(4) == 8, s"doc $id: $r")
        case _ =>
          assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3), s"doc $id: $r")
      }
    }
  }

  test("PII redaction: counts on original text, ordered replacement") {
    import graft.functions.TextAnalysis
    val rows = Seq(
      (1L, "mail a.b+c@sub.example.org and 192.168.0.1 or call +44-207-946-0958"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io y@z.ai one ip 8.8.8.8"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val (red, ne, ni, np) = TextAnalysis.redactPii(col("text"))
    val out = rows.select(col("doc_id"), ne, ni, np, red)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getString(4)))).toMap
    assert(out(1L) == ((1L, 1L, 1L,
      "mail <EMAIL> and <IP> or call <PHONE>")))
    assert(out(2L) == ((0L, 0L, 0L, "no pii here at all")))
    assert(out(3L) == ((2L, 1L, 0L, "two mails <EMAIL> <EMAIL> one ip <IP>")))
    assert(out(4L)._4 == null)
  }

  test("image header parse: real-world byte edge cases") {
    import Multimodal.decodeImageHeader
    // hand-assembled 3x5 PNG, depth 16
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 3, 0, 0, 0, 5, 16, 2, 0, 0, 0, 1, 2, 3, 4).map(_.toByte)
    assert(decodeImageHeader(png) == (("png", 3, 5, 16)))
    // JPEG whose SOF0 sits after TWO variable-length segments
    val jpeg = Array[Int](0xFF, 0xD8,
      0xFF, 0xE0, 0x00, 0x04, 1, 2,       // APP0, len 4
      0xFF, 0xFE, 0x00, 0x05, 7, 8, 9,    // COM, len 5
      0xFF, 0xC0, 0x00, 0x11, 8, 0x01, 0x00, 0x02, 0x00, 3,
      1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1).map(_.toByte)
    assert(decodeImageHeader(jpeg) == (("jpeg", 512, 256, 8)))
    // truncation, wrong magic, empty — all survive as nulls
    assert(decodeImageHeader(png.take(27)) == (("png", null, null, null)))
    assert(decodeImageHeader(jpeg.take(6))._1 == "jpeg")
    assert(decodeImageHeader("plain text".getBytes("UTF-8")) ==
      ((null, null, null, null)))
    assert(decodeImageHeader(Array.empty[Byte]) == ((null, null, null, null)))
    // determinism
    assert(decodeImageHeader(jpeg) == decodeImageHeader(jpeg))
  }
}
