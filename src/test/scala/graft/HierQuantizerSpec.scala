package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Pins the two-level (hierarchical) corpus assignment — superQuantizer +
  * graft_hier_argmin — against an independent brute-force reference, at a
  * k large enough that the hierarchy is genuinely engaged (multiple
  * populated branches), which the sf0.01 oracle (k=16, ns=4) also does
  * but at a smaller scale.
  */
class HierQuantizerSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private val dim = 8

  // 60 child "centroids" in 6 well-separated blobs, non-contiguous ids
  private val cents: Seq[(Int, Array[Double], Double)] =
    (0 until 60).map { i =>
      val blob = i % 6
      val c = Array.tabulate(dim)(d =>
        (if (d == blob) 5.0 else 0.0) + rnd.nextDouble() * 0.3)
      (i * 3 + 1, c, { var s = 0.0; c.foreach(x => s += x * x); s })
    }

  test("superCount: smallest s with s*s >= k") {
    assert(Similarity.superCount(1) == 1)
    assert(Similarity.superCount(2) == 2)
    assert(Similarity.superCount(4) == 2)
    assert(Similarity.superCount(5) == 3)
    assert(Similarity.superCount(16) == 4)
    assert(Similarity.superCount(17) == 5)
    assert(Similarity.superCount(1024) == 32)
    assert(Similarity.superCount(1025) == 33)
  }

  /** Brute-force reference: nearest FINAL super (ties → smaller super
    * id, childless supers excluded), then nearest child of that branch
    * (ties → smaller child id). Uses only superQuantizer's OUTPUT, so
    * the expression and the driver fit are exercised independently. */
  private def reference(vec: Array[Double],
      sup: Seq[(Int, Array[Double], Double)],
      branchOf: Map[Int, Int]): Option[Int] = {
    var vv = 0.0; vec.foreach(x => vv += x * x)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val populated = branchOf.values.toSet
    val supOk = sup.filter(s => populated.contains(s._1))
    if (supOk.isEmpty) return None
    val bestSuper = supOk.minBy { case (sid, sv, sc) =>
      ((vv + sc) - 2.0 * dot(vec, sv), sid) }._1
    val kids = cents.filter(c => branchOf(c._1) == bestSuper)
    Some(kids.minBy { case (cid, cv, cc) =>
      ((vv + cc) - 2.0 * dot(vec, cv), cid) }._1)
  }

  test("hierArgmin == brute-force two-level reference on 500 vectors") {
    val (sup, branchOf) = Similarity.superQuantizer(cents, iters = 2)
    // sanity: the blobs force a real hierarchy — >1 populated branch
    assert(branchOf.values.toSet.size > 1,
      s"degenerate hierarchy: ${branchOf.values.toSet}")
    assert(sup.map(_._1) == sup.map(_._1).sorted, "supers must be id-ordered")
    // every child maps to an existing super
    val supIds = sup.map(_._1).toSet
    assert(branchOf.values.forall(supIds.contains))

    val vecs = (0 until 500).map { i =>
      val blob = i % 6
      (i.toLong, Array.tabulate(dim)(d =>
        (if (d == blob) 5.0 else 0.0) + rnd.nextDouble() * 2.0).toSeq)
    }
    val df = vecs.toDF("vec_id", "vec")
    val assigned = df.withColumn("list_id",
        Similarity.hierArgminCol(df, cents, 2))
      .select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    vecs.foreach { case (id, v) =>
      val exp = reference(v.toArray, sup, branchOf)
      assert(assigned.get(id) == exp,
        s"vec $id: got ${assigned.get(id)}, expected $exp")
    }
  }

  test("assignment is total: every vector lands in a populated branch") {
    val (_, branchOf) = Similarity.superQuantizer(cents, iters = 2)
    val df = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() * 10 - 5).toSeq)
    }.toDF("vec_id", "vec")
    val out = df.withColumn("list_id",
        Similarity.hierArgminCol(df, cents, 2))
      .select("list_id").as[Int].collect()
    assert(out.length == 200) // no dropped rows
    val valid = cents.map(_._1).toSet
    assert(out.forall(valid.contains))
    assert(branchOf.keySet == cents.map(_._1).toSet)
  }

  test("null vector element yields null list_id (row drops at a join)") {
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (2L, Seq[java.lang.Double](1.0, null, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0))
    ).toDF("vec_id", "vec")
    val out = df.withColumn("list_id",
        Similarity.hierArgminCol(df, cents, 2))
      .select("vec_id", "list_id")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    assert(out(1L).isDefined)
    assert(out(2L).isEmpty)
    // the corpus assignment keeps v's columns plus list_id and drops
    // the null-element row (its vv is null)
    val asg = Similarity.assignLists(df.withColumn("vv",
        graft.plans.DotProduct.dotCol(col("vec"), col("vec"))), cents, 2)
    assert(asg.columns.toSeq === Seq("vec_id", "vec", "vv", "list_id"))
    assert(asg.select("vec_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("superQuantizer is deterministic and empty supers drop") {
    val (s1, b1) = Similarity.superQuantizer(cents, iters = 2)
    val (s2, b2) = Similarity.superQuantizer(cents, iters = 2)
    assert(b1 == b2)
    assert(s1.map(_._1) == s2.map(_._1))
    s1.zip(s2).foreach { case ((_, v1, n1), (_, v2, n2)) =>
      assert(v1.sameElements(v2) && n1 == n2)
    }
    // single child: degenerate one-super hierarchy, assignment total
    val one = cents.take(1)
    val (sup1, bo1) = Similarity.superQuantizer(one, iters = 2)
    assert(sup1.size == 1 && bo1 == Map(one.head._1 -> 0))
  }
}
