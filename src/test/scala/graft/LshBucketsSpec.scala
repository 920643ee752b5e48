package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.LshBuckets

/** Parity and edge specs for the fused graft_lsh_buckets expression vs
  * the composable when(graft_dot(plane, vec) > 0) formulation it
  * replaced. */
class LshBucketsSpec extends SparkSpec {
  import spark.implicits._

  private val planes = Similarity.hyperplanes(4, 6, 8)
  private val planesLit = typedLit(planes.map(_.map(_.toSeq).toSeq).toSeq)

  private def oldForm(vec: org.apache.spark.sql.Column) = {
    val ndot = graft.plans.DotProduct.dotCol(_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column)
    array((0 until 4).map { t =>
      (0 until 6).map { b =>
        when(ndot(typedLit(planes(t)(b).toSeq), vec) > 0.0, 1L << b)
          .otherwise(0L)
      }.reduce(_ + _) + lit(t.toLong << 32)
    }: _*)
  }

  test("fused buckets == composable when/dot chain on random vectors") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(200)(Seq.fill(8)(rnd.nextDouble() - 0.5))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "vec")
    val both = vecs
      .withColumn("old", oldForm(col("vec")))
      .withColumn("neu", LshBuckets.bucketsCol(planesLit, col("vec")))
    assert(both.where(col("old") =!= col("neu")).count() == 0)
    // buckets carry the table tag in the high word
    val tags = both.select(explode(col("neu")).as("b"))
      .select((col("b") / lit(1L << 32)).cast("long")).distinct()
      .as[Long].collect().sorted
    assert(tags.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("null vector, null element, and length mismatch match the old semantics") {
    val vecs = Seq(
      (1L, Seq[java.lang.Double](0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)),
      (2L, Seq[java.lang.Double](0.1, null, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)),
      (3L, Seq[java.lang.Double](0.1, 0.2)), // wrong dim
      (4L, null)
    ).toDF("vec_id", "vec")
    val both = vecs
      .withColumn("old", oldForm(col("vec")))
      .withColumn("neu", LshBuckets.bucketsCol(planesLit, col("vec")))
      .orderBy("vec_id")
      .select("vec_id", "old", "neu")
      .as[(Long, Seq[Long], Seq[Long])].collect()
    both.take(3).foreach { case (id, old, neu) => assert(old == neu, s"vec $id") }
    // a null element / mismatched dim sets NO bits — tags only
    assert(both(1)._3 == Seq(0L << 32, 1L << 32, 2L << 32, 3L << 32))
    assert(both(2)._3 == Seq(0L << 32, 1L << 32, 2L << 32, 3L << 32))
    // whole-vector null: the DELIBERATE divergence — the old chain put
    // every null vector into the same tag-only buckets (colliding them
    // all as candidates); the fused form yields NULL, so explode() drops
    // the vector from LSH entirely
    assert(both(3)._2 == Seq(0L << 32, 1L << 32, 2L << 32, 3L << 32))
    assert(both(3)._3 == null)
  }
}
