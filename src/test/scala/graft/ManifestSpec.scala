package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode

import graft.io.Manifest

/** Manifest-gated atomic publish (graft.io.Manifest) — the
  * harness-local analogue of Delta's commit protocol. Pins the four
  * contract points: snapshot reads resolve the last COMMIT (files on
  * disk but uncommitted are invisible — the torn-read closure),
  * overwrite flips snapshots atomically while superseded files remain
  * until vacuum, a pre-manifest table is adopted before its first
  * append lands, and an accidental second writer fails loudly on the
  * version CAS. Every publish entry point runs one core, so the
  * failed-write and missing-directory cases are pinned for each. */
class ManifestSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-manifest-$tag").toString + "/t"

  private def rows(dir: String): Set[Long] =
    Manifest.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet

  private def df(ids: Range) = ids.map(_.toLong).toDF("id")

  test("append publishes atomically: a reader mid-append (files moved " +
    "in, commit not yet renamed) sees exactly the previous snapshot") {
    val dir = freshDir("midappend")
    Manifest.publishOverwrite(df(0 until 10), dir)
    Manifest.publishAppend(df(10 until 20), dir)
    assert(rows(dir) === (0L until 20L).toSet)
    // simulate the mid-append window of a THIRD append: data files
    // present top-level but no commit naming them — exactly what the
    // directory holds between stageIn's moves and the commit rename
    df(20 until 30).write.mode(SaveMode.Append).parquet(dir)
    assert(rows(dir) === (0L until 20L).toSet,
      "uncommitted files leaked into a manifest-resolved read")
    // a plain directory read (the pre-manifest contract) DOES see the
    // torn state — the delta this module exists to close
    assert(spark.read.parquet(dir).count() === 30L)
    // vacuum reclaims the orphans of the simulated crashed append
    val deleted = Manifest.vacuum(spark, dir)
    assert(deleted.nonEmpty)
    assert(rows(dir) === (0L until 20L).toSet)
    assert(spark.read.parquet(dir).count() === 20L)
  }

  test("overwrite flips the snapshot atomically; superseded files stay " +
    "readable-by-old-manifest until vacuum") {
    val dir = freshDir("overwrite")
    val v1 = Manifest.publishOverwrite(df(0 until 5), dir)
    val v2 = Manifest.publishOverwrite(df(100 until 103), dir)
    assert(v2 === v1 + 1)
    assert(rows(dir) === Set(100L, 101L, 102L))
    // both generations' files coexist on disk (no delete inside a
    // publish — readers of the superseded snapshot are not broken)
    assert(spark.read.parquet(dir).count() === 8L)
    Manifest.vacuum(spark, dir)
    assert(spark.read.parquet(dir).count() === 3L)
    assert(rows(dir) === Set(100L, 101L, 102L))
  }

  test("pre-manifest table is adopted BEFORE its first append moves " +
    "files in (the first append is already torn-proof)") {
    val dir = freshDir("adopt")
    df(0 until 7).write.parquet(dir) // plain, no manifest
    assert(rows(dir) === (0L until 7L).toSet) // fallback read
    val v = Manifest.publishAppend(df(7 until 9), dir)
    // version 1 = the adopted base alone, version 2 = base + append:
    // a reader that resolved between the two commits saw exactly the
    // pre-append table
    assert(v === 2L)
    assert(rows(dir) === (0L until 9L).toSet)
    val mdir = Paths.get(dir, "_manifests")
    assert(Files.exists(mdir.resolve("manifest-000000001")))
    assert(Files.exists(mdir.resolve("manifest-000000002")))
  }

  test("a writer that lost the version race fails loudly on the CAS; " +
    "the winner's commit is not corrupted") {
    val dir = freshDir("cas")
    Manifest.publishOverwrite(df(0 until 4), dir)
    // the RACING writer commits version 2 first...
    val winner = Manifest.publishAppend(df(4 until 6), dir)
    assert(winner === 2L)
    // ...and the loser, whose `latest` read predates that rename,
    // targets the same version
    val e = intercept[IllegalStateException] {
      Manifest.commitAt(spark, dir, 2L, Seq("phantom.parquet"))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the winner's snapshot resolves untouched
    assert(Manifest.latest(spark, dir).get._1 === 2L)
    assert(rows(dir) === (0L until 6L).toSet)
  }

  test("partition upsert replaces exactly the incoming partitions in one " +
    "commit; a mid-upsert reader sees the whole old table") {
    val dir = freshDir("upsert")
    val t0 = Seq((1L, "p1"), (2L, "p1"), (3L, "p2"), (4L, "p2"))
      .toDF("id", "part")
    // adopt a PLAIN partitioned table (pre-manifest) on first upsert
    t0.write.partitionBy("part").parquet(dir)
    val v = Manifest.publishPartitionUpsert(
      Seq((30L, "p2"), (50L, "p3")).toDF("id", "part"), dir, Seq("part"))
    assert(v === 2L) // v1 = adoption, v2 = the upsert
    def snap(): Map[String, Set[Long]] =
      Manifest.read(spark, dir).collect()
        .groupBy(_.getString(1)).view
        .mapValues(_.map(_.getLong(0)).toSet).toMap
    // p1 untouched, p2 replaced (3,4 -> 30), p3 new
    assert(snap() === Map("p1" -> Set(1L, 2L), "p2" -> Set(30L),
      "p3" -> Set(50L)))
    // mid-upsert simulation: files of a THIRD upsert land on disk
    // (plain append into the partition dir) with no commit — the
    // manifested reader still sees the committed snapshot
    Seq((99L, "p1")).toDF("id", "part")
      .write.mode(SaveMode.Append).partitionBy("part").parquet(dir)
    assert(snap() === Map("p1" -> Set(1L, 2L), "p2" -> Set(30L),
      "p3" -> Set(50L)))
    // vacuum reclaims both the replaced p2 files and the orphan
    Manifest.vacuum(spark, dir)
    assert(spark.read.parquet(dir).count() === 4L)
    assert(snap() === Map("p1" -> Set(1L, 2L), "p2" -> Set(30L),
      "p3" -> Set(50L)))
  }

  test("a committed-EMPTY snapshot keeps the table's schema: overwrite-" +
    "to-empty then readTable then select succeeds with 0 rows") {
    val dir = freshDir("empty")
    Manifest.publishOverwrite(df(0 until 5), dir)
    Manifest.publishOverwrite(df(0 until 5).where("id < 0"), dir)
    val emptied = graft.io.Tables.readTable(spark, dir)
    // the r15 hole: this select failed analysis on the zero-column
    // emptyDataFrame fallback
    assert(emptied.select("id").count() === 0L)
    assert(emptied.schema.fieldNames.toSeq === Seq("id"))
    // and a later overwrite revives the table normally
    Manifest.publishOverwrite(df(7 until 9), dir)
    assert(rows(dir) === Set(7L, 8L))
  }

  test("commit is a TRUE create-exclusive CAS: a held lock (writer " +
    "crashed or racing between lock and rename) always throws; vacuum " +
    "clears it and the retry succeeds") {
    val dir = freshDir("lock")
    Manifest.publishOverwrite(df(0 until 3), dir)
    // simulate a writer that took lock-2 but never renamed its
    // manifest: the next commit at v=2 must fail on the LOCK (the
    // rename target does not exist, so the exists() probe alone —
    // the pre-r16 best-effort detector — would have let it through)
    val lock = Paths.get(dir, "_manifests", "lock-000000002")
    Files.createFile(lock)
    val e = intercept[IllegalStateException] {
      Manifest.commitAt(spark, dir, 2L, Seq.empty)
    }
    assert(e.getMessage.contains("lock held"))
    // the documented recovery: vacuum clears spent + dangling locks...
    val deleted = Manifest.vacuum(spark, dir)
    assert(deleted.exists(_.startsWith("lock-")))
    assert(!Files.exists(lock))
    // ...and the retry at the same version commits
    val v = Manifest.publishAppend(df(3 until 5), dir)
    assert(v === 2L)
    assert(rows(dir) === (0L until 5L).toSet)
  }

  test("multi-family commits: readUnder resolves every family from ONE " +
    "snapshot; a rebuild mid-flight can never mix families") {
    val dir = freshDir("families")
    // v1: both families written into one staged overwrite — the index
    // build shape (centroids + postings swap together or not at all)
    Manifest.publishOverwriteStaged(spark, dir) { stage =>
      df(0 until 3).write.parquet(s"$stage/meta")
      df(10 until 15).write.parquet(s"$stage/data")
    }
    def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.select("id").collect().map(_.getLong(0)).toSet
    val Seq(meta1, data1) = Manifest.readUnder(spark, dir, Seq("meta", "data"))
    assert(ids(meta1) === Set(0L, 1L, 2L))
    assert(ids(data1) === (10L until 15L).toSet)
    // REBUILD publishes generation 2 of BOTH families in one commit
    Manifest.publishOverwriteStaged(spark, dir) { stage =>
      df(100 until 102).write.parquet(s"$stage/meta")
      df(200 until 204).write.parquet(s"$stage/data")
    }
    // the reader that resolved BEFORE the rebuild holds the whole old
    // generation — both families, no mixing (superseded files linger
    // until vacuum, so its handles stay readable)
    assert(ids(meta1) === Set(0L, 1L, 2L))
    assert(ids(data1) === (10L until 15L).toSet)
    // a fresh resolution is the whole new generation
    val Seq(meta2, data2) = Manifest.readUnder(spark, dir, Seq("meta", "data"))
    assert(ids(meta2) === Set(100L, 101L))
    assert(ids(data2) === (200L until 204L).toSet)
    // a family absent from the snapshot fails loudly, not empty-silently
    val e = intercept[IllegalArgumentException] {
      Manifest.readUnder(spark, dir, Seq("nosuch"))
    }
    assert(e.getMessage.contains("nosuch"))
  }

  test("vacuum lock grace: an AHEAD lock younger than the grace is kept " +
    "(it may be a live writer's); spent locks always delete") {
    val dir = freshDir("lockgrace")
    Manifest.publishOverwrite(df(0 until 3), dir) // v1 (+ its spent lock)
    val ahead = Paths.get(dir, "_manifests", "lock-000000002")
    Files.createFile(ahead) // a writer mid-commit at v2
    val kept = Manifest.vacuum(spark, dir, danglingLockGraceMs = 60000L)
    assert(!kept.contains("lock-000000002") && Files.exists(ahead),
      "vacuum deleted a within-grace ahead lock (live-writer window)")
    assert(kept.contains("lock-000000001"), "spent lock should delete")
    // default grace 0 = the immediate crashed-writer recovery tool
    val cleared = Manifest.vacuum(spark, dir)
    assert(cleared.contains("lock-000000002") && !Files.exists(ahead))
  }

  test("readTable resolves manifests; publishOverwrite publishes through " +
    "one") {
    val dir = freshDir("gold")
    Manifest.publishOverwrite(df(0 until 6), dir)
    assert(graft.io.Tables.readTable(spark, dir)
      .count() === 6L)
    // an uncommitted straggler file is invisible through readTable
    df(6 until 9).write.mode(SaveMode.Append).parquet(dir)
    assert(graft.io.Tables.readTable(spark, dir).count() === 6L)
  }

  test("a partitioned snapshot reads back with its committed schema: " +
    "string partition values are not re-inferred as numbers") {
    val dir = freshDir("schema")
    Manifest.publishPartitionUpsert(
      Seq((1L, "01"), (2L, "1"), (3L, "2")).toDF("id", "match"), dir,
      Seq("match"))
    val got = Manifest.read(spark, dir)
    assert(got.schema("match").dataType === org.apache.spark.sql.types.StringType)
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "01"), (2L, "1"), (3L, "2")))
  }

  /** Every publish entry point, driven with a write that fails or
    * succeeds: (name, publish of `ok` or of a failing write into `dir`,
    * the snapshot's ids). */
  private val modes: Seq[(String, (String, Boolean) => Long, String => Set[Long])] = {
    val boom = org.apache.spark.sql.functions.udf { (x: Long) =>
      if (x == 22L) throw new IllegalStateException("boom") else x }
    def input(ok: Boolean) = {
      val d = df(20 until 24)
      if (ok) d else d.select(boom($"id").as("id"))
    }
    Seq(
      ("append", (dir, ok) => Manifest.publishAppend(input(ok), dir), rows),
      ("partition upsert", (dir, ok) => Manifest.publishPartitionUpsert(
        input(ok).withColumn("part", $"id" % 2), dir, Seq("part")), rows),
      ("publishOverwriteStaged", (dir, ok) =>
        Manifest.publishOverwriteStaged(spark, dir) { stage =>
          df(20 until 24).write.parquet(stage)
          if (!ok) throw new IllegalStateException("boom")
        }, rows))
  }

  modes.foreach { case (name, publish, _) =>
    test(s"$name: a publish whose write fails commits nothing; vacuum " +
      "removes its stage") {
      val dir = freshDir("failed")
      Manifest.publishOverwrite(df(0 until 5), dir)
      intercept[Exception](publish(dir, false))
      assert(Manifest.latest(spark, dir).get._1 === 1L)
      assert(rows(dir) === (0L until 5L).toSet)
      def stages = new java.io.File(dir).list().filter(_.startsWith(".stage-"))
      // a failed Spark job deletes its own output dir; a write that
      // fails after its Spark job (the staged overwrite's) leaves it
      if (name == "publishOverwriteStaged")
        assert(stages.nonEmpty, "the failed write should leave its stage")
      Manifest.vacuum(spark, dir)
      assert(stages.isEmpty)
      assert(rows(dir) === (0L until 5L).toSet)
      assert(spark.read.parquet(dir).count() === 5L)
    }
  }

  modes.foreach { case (name, publish, ids) =>
    test(s"$name: publishing into a missing directory commits version 1") {
      val dir = freshDir("missing")
      assert(!Files.exists(Paths.get(dir)))
      assert(publish(dir, true) === 1L)
      assert(Manifest.latest(spark, dir).get._1 === 1L)
      assert(ids(dir) === (20L until 24L).toSet)
    }
  }
}
