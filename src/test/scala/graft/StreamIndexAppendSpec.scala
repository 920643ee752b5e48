package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Similarity
import graft.streaming.StreamIndexAppend

/** Streaming IVF index append (the StreamQualityGate → index tail of
  * the ingest chain): vectors arriving in arbitrary micro-batch chops
  * must land the index in exactly the state the batch append produces
  * — every posting assigned by the SAVED (fit-on-A) quantizer, no
  * refit — and the replay semantics must converge (clean replay
  * no-op) while partial overlap stays loud. */
class StreamIndexAppendSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private def dir = spark.conf.get("spark.sql.warehouse.dir")
    .stripSuffix("/") + "/graft_ivf_stream_append"

  test("chopped stream == saved-quantizer assignment of the full corpus; " +
    "clean replay no-op; partial overlap loud") {
    val total = emb.count()
    val cut = total / 2
    val a = emb.where(col("vec_id") < cut)
    val b = emb.where(col("vec_id") >= cut)
    Similarity.buildIvfIndex(a, dir) // quantizer fit on A only
    // plain subdir reads below need dir listing == live snapshot
    // (staged rebuilds keep prior runs' generations until vacuum)
    graft.io.Manifest.vacuum(spark, dir)

    // B arrives as three files → three micro-batches (maxFilesPerTrigger=1);
    // parquet stream source so the float payload is byte-identical to
    // what the batch path reads (JSON would re-parse floats as doubles)
    val base = Files.createTempDirectory("graft-ivf-stream").toString
    val inDir = s"$base/in"
    val third = (total - cut) / 3
    Seq(
      b.where(col("vec_id") < cut + third),
      b.where(col("vec_id") >= cut + third && col("vec_id") < cut + 2 * third),
      b.where(col("vec_id") >= cut + 2 * third)
    ).foreach(_.coalesce(1).write.mode("append").parquet(inDir))

    val stream = spark.readStream.schema(b.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    StreamIndexAppend.writer(stream, dir)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .start().awaitTermination()

    // final postings == assignment of the FULL corpus by the A-fit
    // quantizer (same witness as the batch append case in IndexedIvfSpec)
    val post = spark.read.parquet(s"$dir/postings")
    assert(post.count() === total)
    val cents = spark.read.parquet(s"$dir/centroids")
      .select("list_id", "cvec", "cc").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1).toSeq
    val ndot = graft.plans.DotProduct.dotCol(_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column)
    val v = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
      .withColumn("vv", ndot(col("vec"), col("vec")))
    val expected = Similarity.assignLists(v, cents, 2)
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = post.select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === expected)

    // the grown index serves
    assert(Similarity.ivfTopKFromIndex(spark, dir, 5, 5).count() > 0L)

    // clean replay (a whole already-processed batch redelivered) is a
    // no-op, not a crash — the stream converges
    val replayed = b.where(col("vec_id") < cut + third)
    assert(StreamIndexAppend.appendBatch(replayed, dir) === 0L)
    assert(spark.read.parquet(s"$dir/postings").count() === total)

    // partial overlap (some ids committed, some new) fails loudly
    val fresh = replayed.withColumn("vec_id", col("vec_id") + total * 10)
    val mixed = replayed.limit(2).union(fresh.limit(2))
    val e = intercept[IllegalArgumentException] {
      StreamIndexAppend.appendBatch(mixed, dir)
    }
    assert(e.getMessage.contains("partial overlap"))
    assert(spark.read.parquet(s"$dir/postings").count() === total)

    // the many-batch stream accumulated one+ posting file per batch;
    // compaction bounds the file count in ONE committed swap and the
    // index answers (postings and served top-k) are identical through
    // it and the vacuum after it (r15 verdict #7). r17:
    // appends commit at the index ROOT (one manifest governs both
    // families), so compaction runs there — per-parent-dir grouping
    // keeps postings coalescing with postings only
    def postingsFiles: Int = graft.io.Manifest.latest(spark, dir).get
      ._2.count(_.startsWith("postings/"))
    def served = Similarity.ivfTopKFromIndex(spark, dir, 5, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val preFiles = postingsFiles
    assert(preFiles >= 3, s"stream should have accumulated files: $preFiles")
    val preServed = served
    assert(preServed.nonEmpty)
    graft.io.Manifest.compact(spark, dir, 64L << 20)
    assert(postingsFiles === 1, s"compaction left $postingsFiles files")
    val gotC = graft.io.Manifest.readUnder(spark, dir, Seq("postings")).head
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(gotC === expected, "compaction changed the postings answer")
    // vacuum (exercised in anger: reclaims every superseded batch file)
    val reclaimed = graft.io.Manifest.vacuum(spark, dir)
    assert(reclaimed.size >= preFiles - 1, s"vacuum reclaimed $reclaimed")
    assert(served === preServed, "compaction changed the served answer")
  }

  test("replay rail is multiplicity-proof: postings duplicated by a crashed " +
    "append cannot disguise a partial overlap as a clean replay") {
    val d = dir + "_dup"
    val total = emb.count()
    Similarity.buildIvfIndex(emb.where(col("vec_id") < total / 2), d)
    // simulate a crashed append that double-inserted one vec_id: with
    // join-row counting, a batch of {dup_id, fresh_id} would count 2
    // matches == 2 batch rows and silently drop fresh_id; the distinct
    // rail must classify it as a partial overlap instead
    val dupRow = spark.read.parquet(s"$d/postings")
      .where(col("vec_id") === 0).localCheckpoint() // materialize pre-write
    dupRow.write.mode("append").parquet(s"$d/postings")
    val batch = emb.where(col("vec_id") === 0)
      .union(emb.where(col("vec_id") === total / 2))
    val e = intercept[IllegalArgumentException] {
      StreamIndexAppend.appendBatch(batch, d)
    }
    assert(e.getMessage.contains("partial overlap"), e.getMessage)
    // and a batch that is ONLY the duplicated id is still a clean replay
    assert(StreamIndexAppend.appendBatch(
      emb.where(col("vec_id") === 0), d) === 0L)
  }

  test("append contract: existing posting files are immutable (new data " +
    "arrives only as new files) and a reader seeing a file-prefix of an " +
    "append still serves") {
    val d = dir + "_contract"
    val total = emb.count()
    val cut = total / 2
    Similarity.buildIvfIndex(emb.where(col("vec_id") < cut), d)
    graft.io.Manifest.vacuum(spark, d) // listings below = live snapshot
    val vBuild = graft.io.Manifest.latest(spark, d).get._1
    def listing(p: String): Map[String, Long] = {
      val f = new java.io.File(new java.net.URI(p).getPath)
      f.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(x => x.getName -> x.length()).toMap
    }
    val before = listing(s"$d/postings")
    Similarity.appendToIvfIndex(emb.where(col("vec_id") >= cut), d)
    val after = listing(s"$d/postings")
    // file-level immutability: every pre-append file survives the
    // append byte-for-byte in place; growth is strictly new files —
    // so a concurrent reader can never observe a partially-OVERWRITTEN
    // file, only an older (or file-prefix) snapshot of the directory
    assert(before.forall { case (n, len) => after.get(n).contains(len) },
      "append modified a pre-existing posting file")
    assert(after.size > before.size)
    // torn-listing reader: an index dir holding the old files plus ONE
    // of the appended files (what a reader that listed mid-append sees,
    // since each task file lands by atomic rename) serves a complete,
    // crash-free answer over the vectors it can see
    val torn = java.nio.file.Files.createTempDirectory("graft-ivf-torn")
    val tornDir = torn.toString
    def cp(fromDir: String, names: Iterable[String], to: String): Unit = {
      val src = new java.io.File(new java.net.URI(fromDir).getPath)
      val dst = new java.io.File(to); dst.mkdirs()
      names.foreach { n =>
        java.nio.file.Files.copy(src.toPath.resolve(n),
          dst.toPath.resolve(n))
      }
    }
    cp(s"$d/centroids", listing(s"$d/centroids").keys, s"$tornDir/centroids")
    val oneNew = (after.keySet -- before.keySet).head
    cp(s"$d/postings", before.keys ++ Seq(oneNew), s"$tornDir/postings")
    val served = Similarity.ivfTopKFromIndex(spark, "file:" + tornDir, 5, 5)
      .collect()
    assert(served.nonEmpty && served.length <= 25,
      s"torn-listing serve returned ${served.length}")
    // r15 (re-rooted r17): with the manifest honored, the torn state is
    // INVISIBLE — the BUILD's root commit (manifest-1, which the append
    // supersedes only when ITS commit renames in) names exactly the
    // pre-append files of both families, so a reader mid-append
    // resolves the old snapshot even though oneNew is already on disk.
    // This is the batch-level atomicity the r14 contract note said
    // needed a manifest/Delta log.
    val msrc = new java.io.File(new java.net.URI(d).getPath, "_manifests")
    assert(msrc.isDirectory, "build did not write a root manifest")
    val mdst = new java.io.File(s"$tornDir/_manifests")
    mdst.mkdirs()
    val mname = f"manifest-$vBuild%09d" // the BUILD's commit, pre-append
    java.nio.file.Files.copy(
      msrc.toPath.resolve(mname), mdst.toPath.resolve(mname))
    val snap = graft.io.Manifest
      .readUnder(spark, s"file:$tornDir", Seq("postings")).head
    assert(snap.count() === cut,
      "manifested mid-append reader must see exactly the pre-append rows")
  }
}
