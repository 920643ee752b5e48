package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.operators.Dedup

/** Sharded pair-answer delivery (Tables.writeShardedPairs): the
  * non-oracle delivery path for pair-scale answers. The contract to
  * pin is equivalence — concatenating the shard directories in
  * ascending shard order must reproduce the global (doc_a, doc_b)
  * order bit-for-bit — plus the physical properties that make the
  * shape scale: one internally-sorted file per shard dir and
  * arithmetic range-disjoint boundaries. */
class ShardedPairsSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def shardDirs(path: String): Seq[(Long, File)] =
    new File(path).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("pair_shard="))
      .map(f => f.getName.stripPrefix("pair_shard=").toLong -> f)
      .sortBy(_._1)

  private def pinShape(pairs: org.apache.spark.sql.DataFrame,
                       width: Long): Unit = {
    val path = Files.createTempDirectory("graft-sharded-pairs").toString
    Tables.writeShardedPairs(pairs, path, width)
    val dirs = shardDirs(path)
    assert(dirs.size > 1, "need multiple shards for the test to bite")
    val concat = dirs.flatMap { case (s, d) =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      // one task owns a shard's whole hash bucket -> exactly one file
      assert(parts.length === 1, s"shard $s has ${parts.length} files")
      val rows = spark.read.parquet(parts.head.getPath)
        .select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // in-file order IS (doc_a, doc_b) order — no consumer-side sort
      assert(rows.sameElements(rows.sortBy(t => (t._1, t._2))),
        s"shard $s not internally sorted")
      // arithmetic boundaries: every doc_a in [s*w, (s+1)*w)
      assert(rows.forall(t => t._1 >= s * width && t._1 < (s + 1) * width),
        s"shard $s holds out-of-range doc_a")
      rows
    }
    val global = pairs.orderBy("doc_a", "doc_b")
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(concat.length === global.length)
    assert(concat.sameElements(global),
      "concat-in-boundary-order must equal the global sort")
  }

  test("minhash pairs: concat of shards in boundary order == the " +
    "registry query's global orderBy") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minhashLshPairs(docs, 0.9, bands = 8, rows = 8)
    val nDocs = docs.count()
    pinShape(pairs, math.max(1L, nDocs / 7))
  }

  test("synthetic pairs incl. an empty shard window and a boundary id") {
    // ids straddle shard boundaries (width 10): id 10 on a boundary,
    // window [20,30) empty — empty windows produce NO dir (absence,
    // not an empty file), and concat order is still global order
    val pairs = Seq(
      (0L, 5L, 1.0), (9L, 11L, 0.95), (10L, 2L, 0.9),
      (35L, 1L, 0.92), (35L, 0L, 0.91), (19L, 40L, 0.9))
      .toDF("doc_a", "doc_b", "jaccard")
    val path = Files.createTempDirectory("graft-sharded-synth").toString
    Tables.writeShardedPairs(pairs, path, 10L)
    val dirs = shardDirs(path)
    assert(dirs.map(_._1) === Seq(0L, 1L, 3L)) // [20,30) absent
    val concat = dirs.flatMap { case (_, d) =>
      spark.read.parquet(
        d.listFiles().filter(_.getName.endsWith(".parquet")).head.getPath)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(concat === Seq((0L, 5L), (9L, 11L), (10L, 2L), (19L, 40L),
      (35L, 0L), (35L, 1L)))
  }

  test("re-delivery is manifest-gated: a reader mid-overwrite resolves " +
    "the whole OLD delivery; the commit flips it whole; vacuum restores " +
    "the raw one-file-per-shard layout") {
    val v1 = Seq((0L, 1L, 1.0), (11L, 3L, 0.9))
      .toDF("doc_a", "doc_b", "jaccard")
    val v2 = Seq((5L, 6L, 0.8), (25L, 7L, 0.7))
      .toDF("doc_a", "doc_b", "jaccard")
    val path = Files.createTempDirectory("graft-sharded-redeliver").toString
    Tables.writeShardedPairs(v1, path, 10L)
    def snap(): Set[(Long, Long)] =
      graft.io.Manifest.read(spark, path).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snap() === Set((0L, 1L), (11L, 3L)))
    // mid-overwrite window: the re-delivery's shard files are ON DISK
    // next to the old ones but its manifest rename has not happened —
    // exactly what the directory holds between moveVisible and commit
    v2.withColumn("pair_shard", expr("doc_a div 10"))
      .write.mode("append").partitionBy("pair_shard").parquet(path)
    assert(snap() === Set((0L, 1L), (11L, 3L)),
      "uncommitted re-delivery files leaked into a manifest read")
    // the real re-delivery: one commit flips the whole shard set
    Tables.writeShardedPairs(v2, path, 10L)
    assert(snap() === Set((5L, 6L), (25L, 7L)))
    // BETWEEN the re-delivery and vacuum the raw directory holds both
    // generations — the manifest-resolving consumer (ADVICE r16) is
    // what makes the concat contract hold across that window: exactly
    // one file per live shard, ascending shard order, new generation
    val files = Tables.shardedPairFiles(spark, path)
    assert(files.size === 2, s"expected 2 live shard files: $files")
    assert(files.map(f => "pair_shard=(-?\\d+)".r.findFirstMatchIn(f)
      .get.group(1).toLong) === Seq(0L, 2L), files)
    val viaHelper = files.flatMap(f => spark.read.parquet(f)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    assert(viaHelper === Seq((5L, 6L), (25L, 7L)))
    assert(snap() === Set((5L, 6L), (25L, 7L)))
    // superseded + orphaned files stay until vacuum; after it the RAW
    // directory contract (one sorted file per shard dir) holds again
    graft.io.Manifest.vacuum(spark, path)
    val live = shardDirs(path)
      .map { case (s, d) =>
        s -> d.listFiles().count(_.getName.endsWith(".parquet")) }
      .filter(_._2 > 0)
    assert(live === Seq(0L -> 1, 2L -> 1))
  }
}
