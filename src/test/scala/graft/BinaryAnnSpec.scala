package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.plans.{Hamming, SignPack}

/** 1-bit quantization + Hamming ANN: hand-computed packings (word
  * boundaries, ties at zero, null elements), hamming distances (and
  * the loud length-mismatch contract), and the coarse→re-rank path's
  * recall against the exact baseline on real embeddings. */
class BinaryAnnSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("sign pack: hand-computed words, zero ties, word boundary, nulls") {
    val got = Seq(
      Seq(0.5, -1.0, 2.0),                       // bits 0,2 -> 5
      Seq(0.0, -0.0, 1e-300),                    // ties at zero are 0 -> bit 2
      Seq.fill(64)(1.0),                         // all 64 bits -> -1L
      Seq.fill(64)(0.0) ++ Seq(3.0),             // 65 elems -> [0, 1]
      Seq.fill(63)(0.0) ++ Seq(1.0)              // bit 63 -> Long.MinValue
    ).toDF("vec")
      .select(SignPack.packCol(col("vec")).as("sig"))
      .as[Seq[Long]].collect().toSeq
    assert(got(0) == Seq(5L))
    assert(got(1) == Seq(4L))
    assert(got(2) == Seq(-1L))
    assert(got(3) == Seq(0L, 1L))
    assert(got(4) == Seq(Long.MinValue))
    // a null ELEMENT violates the contract -> null signature
    val nullElem = Seq((1L, Seq[java.lang.Double](1.0, null, 2.0)))
      .toDF("id", "vec")
      .select(SignPack.packCol(col("vec").cast("array<double>")).as("sig"))
      .collect().head.isNullAt(0)
    assert(nullElem)
  }

  test("sign pack null element propagates through WHOLE-STAGE CODEGEN (not just the folded path)") {
    // the literal-input case above constant-folds to the interpreted
    // eval; a non-foldable input drives doGenCode, which must set
    // isNull instead of handing UnsafeRow writers a null ArrayData
    val got = spark.range(3).select(col("id"),
        SignPack.packCol(array(col("id").cast("double"),
          when(col("id") === 1, lit(null)).otherwise(col("id"))
            .cast("double"))).as("sig"))
      .orderBy("id").collect()
    assert(!got(0).isNullAt(1) && got(2).getSeq[Long](1) == Seq(3L))
    assert(got(1).isNullAt(1), "codegen path must null out, not NPE")
  }

  test("hamming: hand-computed, zero distance, length mismatch is loud") {
    val got = Seq(
      (Seq(5L), Seq(5L)),                        // 0
      (Seq(0L), Seq(-1L)),                       // 64
      (Seq(3L, 8L), Seq(1L, 8L)),                // 1
      (Seq(Long.MinValue, 0L), Seq(0L, 7L))      // 1 + 3
    ).toDF("a", "b")
      .select(Hamming.distCol(col("a"), col("b")).as("h"))
      .as[Int].collect().toSeq
    assert(got == Seq(0, 64, 1, 4))
    // thrown at driver (ConvertToLocalRelation folds the literal input)
    // or wrapped from an executor depending on the plan — accept both
    val e = intercept[Exception] {
      Seq((Seq(1L), Seq(1L, 2L))).toDF("a", "b")
        .select(Hamming.distCol(col("a"), col("b"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("lengths differ")), e.toString)
  }

  test("hamming == popcount(xor(pack)) == sign-disagreement count (the oracle identity)") {
    val rng = new scala.util.Random(13L)
    (0 until 50).foreach { _ =>
      val d = 1 + rng.nextInt(130)
      val a = Array.fill(d)(rng.nextGaussian())
      val b = Array.fill(d)(rng.nextGaussian())
      val expected = (0 until d).count(i => (a(i) > 0) != (b(i) > 0))
      val got = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
        .select(Hamming.distCol(SignPack.packCol(col("a")),
          SignPack.packCol(col("b"))).as("h"))
        .as[Int].collect().head
      assert(got == expected, s"d=$d")
    }
  }

  test("hammingTopK recall vs exactTopK on real embeddings; generous rerank recovers the exact answer") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Similarity.exactTopK(emb, 5, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val coarse = Similarity.hammingTopK(emb, 5, 5, rerankK = 48).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect coarse).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall below floor")
    // rerankK >= corpus: every candidate re-ranked exactly -> == exact
    val full = Similarity.hammingTopK(emb, 5, 5,
      rerankK = emb.count().toInt).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full == exact)
  }
}
