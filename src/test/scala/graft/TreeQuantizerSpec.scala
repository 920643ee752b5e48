package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Pins the three-level (tree) quantizer — distributed super fit +
  * grouped per-super child Lloyd + table-routed corpus assignment
  * (Similarity.treeFit / treeAssign / ivfTopK with `tree`) — against an
  * independent brute-force reference, plus the contracts that make it
  * the beyond-16M-vectors path: flat-id injectivity, route determinism,
  * the null-vv drop rule, and recall against exact top-k. The sf0.01
  * DuckDB oracle (q_embed_ann_ivf_tree) replays the same arithmetic
  * end-to-end; this spec exercises the pieces in isolation.
  */
class TreeQuantizerSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val dim = 8

  /** Clustered corpus: 8 well-separated blobs, so the tree has real
    * structure to find (multiple populated supers, multiple children
    * per super). */
  private def corpus(n: Int): Seq[(Long, Seq[Double])] =
    (0 until n).map { i =>
      val blob = i % 8
      (i.toLong, Array.tabulate(dim)(d =>
        (if (d == blob) 5.0 else 0.0) + rnd.nextDouble() * 1.5).toSeq)
    }

  private def withVv(df: DataFrame): DataFrame =
    df.withColumn("vv",
      graft.plans.DotProduct.dotCol(spark, col("vec"), col("vec")))

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  test("treeFit: flat ids injective and branch-recoverable, returned supers all populated") {
    val v = withVv(corpus(600).toDF("vec_id", "vec"))
    val Similarity.TreeQuantizer(supers, kids, _) =
      Similarity.treeFit(v, nLists = 12, iters = 2, maxFitRows = 4096L)
    val ns = Similarity.superCount(12)
    val cq = (12 + ns - 1) / ns
    val rows = kids.select("super_id", "list_id")
      .as[(Int, Int)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.map(_._2).distinct.size == rows.size, "list_id must be injective")
    rows.foreach { case (sid, lid) =>
      assert(lid / cq == sid && lid % cq < cq,
        s"flat id $lid not recoverable to super $sid at cq=$cq")
    }
    val kidSupers = rows.map(_._1).toSet
    assert(supers.map(_._1).toSet == kidSupers,
      "returned supers must be exactly the populated ones")
    assert(supers.map(_._1) == supers.map(_._1).sorted, "supers id-ordered")
    assert(kidSupers.size > 1, s"degenerate tree: $kidSupers")
  }

  test("treeAssign == brute-force reference (nearest populated super, then nearest child of that branch)") {
    val vecs = corpus(500)
    val v = withVv(vecs.toDF("vec_id", "vec"))
    val Similarity.TreeQuantizer(supers, kids, _) =
      Similarity.treeFit(v, nLists = 12, iters = 2, maxFitRows = 4096L)
    val kidRows = kids.collect().map(r => (r.getInt(0), r.getInt(1),
      r.getSeq[Double](2).toArray, r.getDouble(3))).toSeq
    val got = Similarity.treeAssign(v, supers, kids, nLists = 12)
      .select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    assert(got.size == 500)
    vecs.foreach { case (id, vecSeq) =>
      val vec = vecSeq.toArray
      val vv = dot(vec, vec)
      val bestSuper = supers.minBy { case (sid, sv, sc) =>
        ((vv + sc) - 2.0 * dot(vec, sv), sid) }._1
      val exp = kidRows.filter(_._1 == bestSuper)
        .minBy { case (_, lid, cv, cc) =>
          ((vv + cc) - 2.0 * dot(vec, cv), lid) }._2
      assert(got(id) == exp, s"vec $id: got ${got(id)}, expected $exp")
    }
  }

  test("null-element vector is excluded from the child fit and drops from treeAssign") {
    val clean = corpus(300).map { case (id, v) =>
      (id, v.map(java.lang.Double.valueOf))
    }
    val dirty = clean :+ ((300L,
      (java.lang.Double.valueOf(1.0) +: Array.fill(dim - 1)(
        null.asInstanceOf[java.lang.Double])).toSeq))
    val v = withVv(dirty.toDF("vec_id", "vec"))
    val Similarity.TreeQuantizer(supers, kids, _) =
      Similarity.treeFit(v, nLists = 12, iters = 2, maxFitRows = 4096L)
    // no child centroid may carry a null component (the dirty row must
    // not have seeded or shifted any child)
    val badCents = kids.where(exists(col("cvec"), x => x.isNull)).count()
    assert(badCents == 0, "null leaked into a child centroid")
    val got = Similarity.treeAssign(v, supers, kids, nLists = 12)
      .select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    assert(got.size == 300 && !got.contains(300L),
      "null-vv row must drop from assignment")
  }

  test("treeFit's lazy child checkpoint is fully materialized by the build's own actions") {
    // r18: the build's checkpoints are LAZY (each materialized by its
    // next consumer's job — no standalone eager-checkpoint action).
    // Safety contract: by the time treeFit returns, the populated-supers
    // collect must have materialized every partition of the kids
    // checkpoint, so downstream consumers (treeAssign's broadcast, the
    // probe cross-join) read blocks instead of re-running the Lloyd fit.
    val v = withVv(corpus(400).toDF("vec_id", "vec"))
    val kids = Similarity.treeFit(v, nLists = 12, iters = 2,
      maxFitRows = 4096L).kids
    val rdd = kids.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      case other => fail(s"kids is not checkpoint-backed: $other")
    }
    assert(rdd.getStorageLevel !=
      org.apache.spark.storage.StorageLevel.NONE, "kids not checkpointed")
    val info = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
    assert(info.exists(i => i.numCachedPartitions == i.numPartitions),
      s"kids checkpoint not fully materialized: $info")
  }

  test("treeFit is deterministic across runs") {
    val v = withVv(corpus(400).toDF("vec_id", "vec"))
    def run(): (Seq[Int], Set[(Int, Int, Seq[Double], Long)]) = {
      val Similarity.TreeQuantizer(s, k, _) = Similarity.treeFit(v,
        nLists = 12, iters = 2, maxFitRows = 4096L)
      (s.map(_._1), k.collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Double](2), java.lang.Double.doubleToLongBits(
          r.getDouble(3)))).toSet)
    }
    val (s1, k1) = run()
    val (s2, k2) = run()
    assert(s1 == s2 && k1 == k2)
  }

  test("tree ivfTopK recall vs exact top-k on the clustered corpus") {
    val emb = corpus(500).toDF("vec_id", "embedding")
    val nq = 10
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.exactTopK(emb, nq, 5))
    val tree = pairs(Similarity.ivfTopK(emb, nq, 5, nLists = 12, tree = true))
    assert(exact.size == nq * 5 && tree.size == nq * 5)
    val recall = (exact & tree).size.toDouble / exact.size
    assert(recall >= 0.8, s"tree IVF recall $recall < 0.8")
  }

  test("corpus assignment carries no k-sized literal: children arrive via a broadcast join") {
    val v = withVv(corpus(300).toDF("vec_id", "vec"))
    val Similarity.TreeQuantizer(supers, kids, _) =
      Similarity.treeFit(v, nLists = 12, iters = 2, maxFitRows = 4096L)
    val plan = Similarity.treeAssign(v, supers, kids, nLists = 12)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the child table on a broadcast join, got:\n$plan")
  }
}
