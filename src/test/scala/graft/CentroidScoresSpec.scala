package graft

import org.apache.spark.sql.functions._
import graft.plans.CentroidScores

/** Parity specs for the fused graft_centroid_scores expression vs the
  * composable array-of-broadcast-literal-structs form it replaced. */
class CentroidScoresSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private val cents: Seq[(Int, Array[Double], Double)] =
    Seq(0, 2, 5).map { id => // deliberately non-contiguous ids
      val c = Array.fill(6)(rnd.nextDouble() - 0.5)
      (id, c, c.map(x => x * x).sum)
    }

  private def oldForm(v: org.apache.spark.sql.DataFrame) = {
    val ndot = graft.plans.DotProduct.dotCol(_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column)
    array(cents.map { case (id, cv, _) =>
      // cc via the same sequential fold the fused form uses
      var cc = 0.0; cv.foreach(x => cc += x * x)
      struct((col("vv") + lit(cc) - lit(2.0) *
        ndot(col("vec"), typedLit(cv.toSeq))).as("d2"), lit(id).as("id"))
    }: _*)
  }

  private def fused(v: org.apache.spark.sql.DataFrame) =
    CentroidScores.scoresCol(
      typedLit(cents.map(_._2.toSeq)), typedLit(cents.map(_._1)), col("vec"))

  test("fused scores == composable struct array, argmin and sort included") {
    val ndot = graft.plans.DotProduct.dotCol(_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column)
    val vecs = Seq.fill(300)(Seq.fill(6)(rnd.nextDouble() - 0.5))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "vec")
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val both = vecs
      .withColumn("old", oldForm(vecs))
      .withColumn("neu", fused(vecs))
    assert(both.where(col("old") =!= col("neu")).count() == 0)
    // downstream consumers agree: assignment argmin and probe sort
    val downstream = both
      .withColumn("a_old", array_min(col("old")).getField("id"))
      .withColumn("a_neu", array_min(col("neu")).getField("id"))
      .withColumn("s_old", slice(array_sort(col("old")), 1, 2).getField("id"))
      .withColumn("s_neu", slice(array_sort(col("neu")), 1, 2).getField("id"))
    assert(downstream.where(col("a_old") =!= col("a_neu")).count() == 0)
    assert(downstream.where(col("s_old") =!= col("s_neu")).count() == 0)
    // all three non-contiguous ids appear as argmin winners
    assert(downstream.select("a_neu").distinct().as[Int].collect().sorted
      .sameElements(Array(0, 2, 5)))
  }

  test("null element and dim mismatch null every d2; ids survive") {
    val ndot = graft.plans.DotProduct.dotCol(_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column)
    val vecs = Seq(
      (1L, Seq[java.lang.Double](0.1, null, 0.3, 0.4, 0.5, 0.6)),
      (2L, Seq[java.lang.Double](0.1, 0.2))
    ).toDF("vec_id", "vec")
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val out = vecs.withColumn("neu", fused(vecs))
      .withColumn("old", oldForm(vecs))
    assert(out.where(col("old") =!= col("neu")).count() == 0)
    val rows = out.select(col("neu.d2"), col("neu.id"))
      .as[(Seq[Option[Double]], Seq[Int])].collect()
    rows.foreach { case (d2s, idSeq) =>
      assert(d2s.forall(_.isEmpty) && idSeq == Seq(0, 2, 5))
    }
  }
}
