package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.DotProduct

/** Native codegen'd graft_dot: SQL resolution + bit-equality with the
  * composable higher-order-function formulation. */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
    (2L, Array(0.1, -0.2, 0.3), Array(0.7, 0.11, -0.13)),
    (3L, Array.empty[Double], Array.empty[Double]))
    .toDF("id", "a", "b")

  test("graft_dot resolves and computes") {
    val out = df.selectExpr("id", "graft_dot(a, b) AS d")
      .as[(Long, Double)].collect().toMap
    assert(out(1L) === 32.0)
    assert(out(3L) === 0.0)
  }

  test("bit-equal to the aggregate/zip_with composition") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = emb.select(
        DotProduct.dotCol(col("v"), col("v")).as("native"),
        Similarity.dot(col("v"), col("v")).as("hof"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ===
        java.lang.Double.doubleToLongBits(h))
    }
  }

  test("null inputs yield null") {
    val r = spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))")
      .collect().head
    assert(r.isNullAt(0))
  }

  test("ragged arrays and null elements yield null — parity with HOF form") {
    val rows = spark.sql(
      """SELECT graft_dot(array(1.0d), array(1.0d, 2.0d)) AS ragged,
        |  graft_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS withnull
        |""".stripMargin).collect().head
    assert(rows.isNullAt(0))
    assert(rows.isNullAt(1))
    // the composable formulation agrees
    val hof = spark.range(1)
      .select(Similarity.dot(array(lit(1.0)), array(lit(1.0), lit(2.0))).as("d"))
      .collect().head
    assert(hof.isNullAt(0))
  }
}
