package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Pins the crossing-edge convergence probe of
  * [[Dedup.duplicateClusters]]: the loop stops in the LAST CHANGING
  * round (no edge still crosses ⟹ the next round is provably the
  * identity), one full round earlier than a label-sum fixpoint would.
  * Each test pins the expected labels and the saved round (via
  * maxRounds tightness — one more round fails the require). */
class CCConvergenceSpec extends SparkSpec {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)], docs: Seq[Long],
                 maxRounds: Int = 50): Seq[(Long, Long)] =
    Dedup.duplicateClusters(pairs.toDF("doc_a", "doc_b"),
        docs.toDF("doc_id"), maxRounds = maxRounds)
      .as[(Long, Long)].collect().sorted.toSeq

  test("crossing probe stops in the last changing round: 8-node path needs 3") {
    // 0-1-2-...-7: propagation+jump resolves every label to 0 in round 3
    // (worked per-round in the operator comment history); the crossing
    // probe sees zero crossing edges in that same round. The old label-
    // sum probe needed a 4th (pure detection) round, so maxRounds = 3
    // here is the pin: reverting the probe trips the require().
    val pairs = (0L until 7L).map(i => (i, i + 1))
    val docs = (0L to 7L)
    assert(cc(pairs, docs, maxRounds = 3) === docs.map(d => (d, 0L)))
  }

  test("crossing probe: a clique converges in ONE round") {
    // clique: round-1 propagation already gives every node the min and
    // no edge crosses — converged without a second (detection) round
    val ids = Seq(10L, 11L, 12L, 13L)
    val pairs = for (a <- ids; b <- ids if a < b) yield (a, b)
    assert(cc(pairs, ids, maxRounds = 1) === ids.map(d => (d, 10L)))
  }

  test("crossing probe labels a star, a bridge and isolated docs") {
    // star centered on a NON-min node + a bridge into a clique + two
    // isolated docs: one component labeled 2, the isolated docs their own
    val star = Seq(2L, 3L, 4L, 6L, 7L).map(i => (5L, i))
    val clique = Seq((20L, 21L), (20L, 22L), (21L, 22L))
    val bridge = Seq((7L, 20L))
    val pairs = star ++ clique ++ bridge
    val docs = (pairs.flatMap(p => Seq(p._1, p._2)).distinct ++
      Seq(90L, 91L)).sorted
    val expected = docs.map { d =>
      (d, if (d == 90L || d == 91L) d else 2L)
    }
    assert(cc(pairs, docs) === expected)
  }

  test("crossing probe: two bridged 40-cliques converge in 2 rounds") {
    // the near-dup family shape: two 40-doc cliques bridged by
    // (1039, 2000), plus singletons. Round 1 labels clique A 1000,
    // doc 2000 1000 (via the bridge and the jump) and the rest of
    // clique B 1039; round 2 pulls clique B to 1000 through doc 2000,
    // and no edge crosses.
    val fam = (for {
      base <- Seq(1000L, 2000L); i <- 0 until 40; j <- (i + 1) until 40
    } yield (base + i, base + j)) :+ ((1039L, 2000L))
    val docs = (fam.flatMap(p => Seq(p._1, p._2)).distinct ++
      Seq(9001L, 9002L)).sorted
    val expected = docs.map(d => (d, if (d > 9000L) d else 1000L))
    assert(cc(fam, docs, maxRounds = 2) === expected)
  }

  test("probe parity: empty pair graph converges immediately") {
    // zero edges → zero crossing edges after round 1's identity jump:
    // every doc stays its own cluster and the loop stops at round 1
    val docs = Seq(1L, 5L, 9L)
    assert(cc(Nil, docs, maxRounds = 1) === docs.map(d => (d, d)))
  }
}
