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
  }

  test("broadcast-table child level == fused literal path (the nLists>1024 shape)") {
    val df = (0 until 400).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() * 10 - 5).toSeq)
    }.toDF("vec_id", "vec")
    val lit = df.withColumn("list_id", Similarity.hierArgminCol(df, cents, 2))
      .select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    // literalCap = 0 forces the child-table route (the tree assignment
    // over the flat children)
    val tab = Similarity.assignLists(df.withColumn("vv",
        graft.plans.DotProduct.dotCol(col("vec"), col("vec"))),
        cents, 2, literalCap = 0)
      .select("vec_id", "list_id")
      .as[(Long, Int)].collect().toMap
    assert(tab.size == 400)
    assert(tab == lit)
  }

  test("assignLists routes >1024 children through the attach join, output == literal") {
    // 1100 synthetic children with literalCap=1024 force the table branch (broadcast-table
    // assignment + the n-sized attach join) — the sf100 semdedup path —
    // and must match the fused literal assignment row-for-row,
    // INCLUDING the re-attached vec/vv columns.
    val bigCents: Seq[(Int, Array[Double], Double)] = (0 until 1100).map { i =>
      val c = Array.tabulate(dim)(d =>
        (if (d == i % dim) 4.0 else 0.0) + ((i * 31 + d * 7) % 97) / 97.0)
      (i, c, { var s = 0.0; c.foreach(x => s += x * x); s })
    }
    // one null-element vector: the null contract must be ROUTE-
    // independent (r12 — previously the literal path kept a null
    // list_id row where the table path's inner join dropped it, so
    // output diverged by corpus size for the same data)
    val clean = (0 until 300).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() * 8 - 4)
        .map(java.lang.Double.valueOf).toSeq)
    }
    val dirty = clean :+ ((300L,
      (java.lang.Double.valueOf(1.0) +: Array.fill(dim - 1)(
        null.asInstanceOf[java.lang.Double])).toSeq))
    val df = dirty.toDF("vec_id", "vec")
      .withColumn("vv", graft.plans.DotProduct.dotCol(col("vec"), col("vec")))
    val routed = Similarity.assignLists(df, bigCents, 2, literalCap = 1024)
    assert(routed.columns.toSeq === Seq("vec_id", "vec", "vv", "list_id"))
    val got = routed.select("vec_id", "list_id")
      .as[(Long, Int)].collect().toMap
    val viaLiteral = Similarity.assignLists(df, bigCents, 2,
        literalCap = Int.MaxValue).select("vec_id", "list_id")
      .as[(Long, Int)].collect().toMap
    assert(got.size == 300 && viaLiteral.size == 300) // null vector dropped on BOTH routes
    assert(!got.contains(300L) && !viaLiteral.contains(300L))
    assert(got == viaLiteral)
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
