package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** IVF index persistence (Similarity.buildIvfIndex / ivfTopKFromIndex):
  * the save → load → serve path must answer bit-identically to the
  * fused ivfTopK on the same parameters (IEEE doubles round-trip
  * parquet exactly), rebuilds must be idempotent, and the serve plan
  * must be probe-only (pushed query filter, no refit). */
class IndexedIvfSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def ixDir = spark.conf.get("spark.sql.warehouse.dir")
    .stripSuffix("/") + "/graft_ivf_index_spec"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("index-served top-k is bit-identical to the fused ivfTopK") {
    Similarity.buildIvfIndex(emb, ixDir)
    val served = Similarity.ivfTopKFromIndex(spark, ixDir, 5, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val fused = Similarity.ivfTopK(emb, 5, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(served.nonEmpty)
    assert(served === fused)
  }

  test("rebuild overwrites: serving after a second build is unchanged") {
    Similarity.buildIvfIndex(emb, ixDir)
    val first = Similarity.ivfTopKFromIndex(spark, ixDir, 5, 5)
      .orderBy("query_id", "rank").collect().toSeq
    Similarity.buildIvfIndex(emb, ixDir)
    val second = Similarity.ivfTopKFromIndex(spark, ixDir, 5, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(first === second)
  }

  test("serve is probe-only: query lookup pushed to the postings scan, no refit aggregate") {
    Similarity.buildIvfIndex(emb, ixDir)
    val q = Similarity.ivfTopKFromIndex(spark, ixDir, 5, 5)
    q.collect() // finalize the adaptive plan before inspecting it
    val plan = q.queryExecution.executedPlan.toString
    // the bounded query side is a pushed point-lookup on the postings
    // parquet, and nothing in the serve path re-runs the fit (the
    // centroid means would show up as an aggregate over the corpus)
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,5)]") ||
      plan.contains("PushedFilters: [LessThan(vec_id,5)"), plan.take(1200))
    assert(!plan.contains("HashAggregate"), plan.take(1200))
  }

  test("index layout: metadata-scale centroids, postings clustered by list_id") {
    val nl = Similarity.buildIvfIndex(emb, ixDir)
    // earlier tests rebuilt into the same dir; the staged rebuild keeps
    // superseded generations until vacuum, and the PLAIN subdir reads
    // below must see exactly the live snapshot
    graft.io.Manifest.vacuum(spark, ixDir)
    val cents = spark.read.parquet(s"$ixDir/centroids")
    assert(cents.count() === nl.toLong)
    assert(cents.columns.sorted === Array("cc", "cvec", "list_id"))
    // every vector of the corpus that is indexable appears exactly once
    val post = spark.read.parquet(s"$ixDir/postings")
    assert(post.count() === emb.count())
    assert(post.groupBy("vec_id").count().where(col("count") > 1).count() === 0L)
    // clustering contract: each list's postings land in one file (the
    // build repartitions by list_id), so a probed list reads few files
    val spread = post.select(col("list_id"),
        input_file_name().as("f"))
      .groupBy("list_id").agg(countDistinct("f").as("nf"))
      .agg(max("nf")).collect().head.getLong(0)
    assert(spread === 1L)
  }

  test("append(A, B) serves exactly like build(A∪B) with the SAME quantizer " +
    "(fit on A), and re-append is rejected") {
    val dir = ixDir + "_append"
    val total = emb.count()
    val cut = total / 2
    val a = emb.where(col("vec_id") < cut)
    val b = emb.where(col("vec_id") >= cut)
    Similarity.buildIvfIndex(a, dir) // quantizer fit on A only
    // the plain subdir reads below need the dir listing == the live
    // snapshot (staged rebuilds keep prior runs' generations around)
    graft.io.Manifest.vacuum(spark, dir)
    val appended = Similarity.appendToIvfIndex(b, dir)
    assert(appended === total - cut)
    // postings after append == assignment of the FULL corpus with the
    // saved (A-fit) quantizer: same (vec_id, list_id) set
    val post = spark.read.parquet(s"$dir/postings")
    assert(post.count() === total)
    val cents = spark.read.parquet(s"$dir/centroids")
      .select("list_id", "cvec", "cc").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1).toSeq
    val ndot = graft.plans.DotProduct.dotCol(spark, _: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column)
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val expected = Similarity.assignLists(v, cents, 2)
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = post.select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === expected)
    // serve sanity over the merged index
    val served = Similarity.ivfTopKFromIndex(spark, dir, 5, 5)
    assert(served.count() > 0L)
    // idempotency: a redelivered batch fails fast, postings unchanged
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(b, dir)
    }
    assert(e.getMessage.contains("already indexed"))
    assert(spark.read.parquet(s"$dir/postings").count() === total)
  }

  test("int8 index: generous rerank is bit-identical to the full-precision " +
    "index; practical rerank holds recall") {
    val dir = ixDir + "_int8"
    Similarity.buildIvfIndex(emb, ixDir)
    graft.io.Manifest.vacuum(spark, ixDir) // dirBytes below needs live-only
    Similarity.buildIvfIndex(emb, dir, int8 = true)
    graft.io.Manifest.vacuum(spark, dir)
    val full = Similarity.ivfTopKFromIndex(spark, ixDir, 5, 5)
      .orderBy("query_id", "rank").collect().toSeq
    // rerankK ≥ any per-query candidate count → every candidate is
    // exactly re-scored → identical answer (int8 only gates entry)
    val generous = Similarity
      .ivfTopKFromIndexInt8(spark, dir, emb, 5, 5, rerankK = emb.count().toInt)
      .orderBy("query_id", "rank").collect().toSeq
    assert(generous === full)
    // practical rerank: int8 ordering decides who reaches the exact
    // stage; recall@5 vs the full-precision index answer stays high
    val practical = Similarity
      .ivfTopKFromIndexInt8(spark, dir, emb, 5, 5, rerankK = 32)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullSet = full.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = practical.intersect(fullSet).size.toDouble / fullSet.size
    assert(recall >= 0.9, s"int8+rerank recall@5 = $recall")
    // storage contract: quantized postings are materially smaller than
    // the float64 postings of the same corpus
    def dirBytes(p: String): Long = {
      val d = new java.io.File(new java.net.URI(p).getPath)
      Option(d.listFiles()).getOrElse(Array.empty).map(_.length()).sum
    }
    val fp = dirBytes(s"$ixDir/postings")
    val qp = dirBytes(s"$dir/postings_q")
    assert(qp.toDouble / fp < 0.5, s"int8 postings $qp vs float $fp bytes")
  }

  test("three-tier funnel: generous coarse is bit-identical to the int8 " +
    "serve; generous everywhere equals the full-precision index; " +
    "practical tiers hold recall") {
    val dir = ixDir + "_funnel"
    Similarity.buildIvfIndex(emb, dir, int8 = true)
    val n = emb.count().toInt
    // tier parity rung 1: coarseK >= any per-query candidate count ⇒
    // the 1-bit tier passes everything through ⇒ identical to the int8
    // index serve at the same rerankK (ADC + exact tail unchanged)
    val int8 = Similarity
      .ivfTopKFromIndexInt8(spark, dir, emb, 5, 5, rerankK = 32)
      .orderBy("query_id", "rank").collect().toSeq
    val genCoarse = Similarity
      .ivfTopKFromIndexInt8(spark, dir, emb, 5, 5, rerankK = 32, coarseK = n)
      .orderBy("query_id", "rank").collect().toSeq
    assert(genCoarse === int8)
    // rung 2: both caps generous ⇒ every candidate exactly re-scored ⇒
    // identical to the full-precision index answer
    Similarity.buildIvfIndex(emb, ixDir)
    val full = Similarity.ivfTopKFromIndex(spark, ixDir, 5, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val genAll = Similarity
      .ivfTopKFromIndexInt8(spark, dir, emb, 5, 5, rerankK = n, coarseK = n)
      .orderBy("query_id", "rank").collect().toSeq
    assert(genAll === full)
    // practical caps: every tier's ordering is decisive, recall@5 vs
    // the full-precision index answer stays high
    val practical = Similarity
      .ivfTopKFromIndexInt8(spark, dir, emb, 5, 5, rerankK = 32, coarseK = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullSet = full.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = practical.intersect(fullSet).size.toDouble / fullSet.size
    assert(recall >= 0.6, s"funnel recall@5 = $recall")
  }

  test("a REBUILD swaps centroids + postings in ONE root commit: a serve " +
    "resolved before it answers from the whole old generation, a fresh " +
    "serve from the whole new one — never a mix (r16 verdict #3)") {
    val dir = ixDir + "_rebuild"
    val total = emb.count()
    Similarity.buildIvfIndex(emb.where(col("vec_id") < total / 2), dir)
    val v1 = graft.io.Manifest.latest(spark, dir).get._1
    // the serve path's own read: ONE snapshot resolution for both
    // families (this is what a serve concurrent with the rebuild holds)
    val Seq(c1, p1) = graft.io.Manifest
      .readUnder(spark, dir, Seq("centroids", "postings"))
    val oldCents = c1.select("list_id", "cvec").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
    val oldPost = p1.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(oldPost.size.toLong === total / 2)
    // REBUILD over the live index: different corpus -> different
    // quantizer AND different postings
    Similarity.buildIvfIndex(emb, dir)
    // exactly ONE version advanced — there is no intermediate commit
    // where one family is new and the other old
    assert(graft.io.Manifest.latest(spark, dir).get._1 === v1 + 1)
    // the pre-rebuild reader still answers from the whole OLD
    // generation, both families (superseded files linger until vacuum)
    assert(p1.select("vec_id").collect().map(_.getLong(0)).toSet === oldPost)
    assert(c1.select("list_id", "cvec").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSet === oldCents)
    // a fresh resolution is the whole NEW generation, and it serves
    // bit-identically to the fused operator on the new corpus
    val Seq(_, p2) = graft.io.Manifest
      .readUnder(spark, dir, Seq("centroids", "postings"))
    assert(p2.count() === total)
    val served = Similarity.ivfTopKFromIndex(spark, dir, 5, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val fused = Similarity.ivfTopK(emb, 5, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(served === fused)
  }
}
