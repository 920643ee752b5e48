package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.operators.Layout
import graft.plans.BucketSearch

/** Pins the Z-order layout operator: the bit interleave and bucket
  * search against hand-computed values, exact multiset round-trip
  * (a layout rewrite must never drop/invent/alter rows), and the
  * operator's whole point — a box predicate on the SECOND layout
  * column touches few files under Z-order but every file under a
  * single-column sort, and the parquet stats pruning that locality
  * enables shows up in the scan's own numOutputRows. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** How many distinct files hold rows matching `pred` — the locality
    * witness (with one row group per file, files-holding-matches is
    * exactly the lower bound of row groups a stats-pruning reader must
    * visit). */
  private def filesTouched(table: DataFrame, pred: Column): Long =
    table.where(pred).select(input_file_name()).distinct().count()

  test("bucket search: upper-bound semantics, edges, nulls") {
    val b = Seq(1.0, 2.0, 2.0, 5.0)
    val got = Seq(0.5, 1.0, 1.5, 2.0, 3.0, 5.0, 9.9, Double.NaN)
      .toDF("v")
      .select(BucketSearch.bucketCol(typedlit(b), col("v")).as("k"))
      .as[Int].collect().toSeq
    // v=1.0 and 2.0 land in the HIGHER bucket (count of boundaries <= v);
    // NaN sorts above everything (java compare), bucket n
    assert(got == Seq(0, 1, 1, 3, 3, 4, 4, 4))
    val nullGot = Seq[Option[Double]](None).toDF("v")
      .select(BucketSearch.bucketCol(typedlit(b), col("v")).as("k"))
      .collect().head.isNullAt(0)
    assert(nullGot)
  }

  test("bit interleave matches hand-computed z-values") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (7L, 7L))
      .toDF("x", "y")
    val got = df.select(
      Layout.interleaveBits(Seq(col("x"), col("y")), 3).as("z"))
      .as[Long].collect().toSeq
    // bit b of col j -> position b*2 + j:
    // (1,0) -> 1; (0,1) -> 2; (3,5)=(011,101) -> x bits at 0,2; y bits at
    // 1,5 -> 1 + 4 + 2 + 32 = 39; (7,7) -> 0b111111 = 63
    assert(got == Seq(0L, 1L, 2L, 39L, 63L))
  }

  test("zorder write preserves the exact row multiset (nulls included)") {
    val dir = Files.createTempDirectory("graft-zorder-rt").toString
    val src = Seq((1L, 10L, "a"), (2L, 20L, "b"), (2L, 20L, "b"),
      (3L, 5L, null.asInstanceOf[String])).toDF("x", "y", "s")
      .union(Seq((null.asInstanceOf[java.lang.Long], 1L, "n"))
        .toDF("x", "y", "s").select(col("x").cast("long"), col("y"), col("s")))
    Layout.zorderWrite(src, Seq("x", "y"), dir, nFiles = 2, bits = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  // uniform 64x64 grid, 16 files: under Z-order a y-only box predicate
  // (x unconstrained) lives in ~1/8 of the curve; under an x-sorted
  // layout every file spans all y values and ALL files hold matches
  test("y-box query: z-order touches few files, x-sort touches all") {
    val zDir = Files.createTempDirectory("graft-zorder-loc").toString
    val xDir = Files.createTempDirectory("graft-xsort-loc").toString
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"), (col("id") / 64).as("y"),
        col("id").as("payload"))
    Layout.zorderWrite(grid, Seq("x", "y"), zDir, nFiles = 16, bits = 6)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)
    val pred = col("y") >= 8 && col("y") <= 15
    val zTouched = filesTouched(spark.read.parquet(zDir), pred)
    val xTouched = filesTouched(spark.read.parquet(xDir), pred)
    assert(zTouched <= 4, s"z-order touched $zTouched of 16 files")
    assert(xTouched == 16, s"x-sort touched $xTouched of 16 files")

    // and the locality is REALIZED by parquet stats pruning: the scan
    // under the pushed y-filter emits only the surviving row groups'
    // rows (one row group per small file), a fraction of the corpus
    def scanRows(dir: String): Long = {
      val df = spark.read.parquet(dir).where(pred)
      df.collect()
      val scan = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s }.head
      scan.metrics("numOutputRows").value
    }
    val zScan = scanRows(zDir)
    val xScan = scanRows(xDir)
    // 512 matching rows; surviving row groups emit whole — range
    // partitioning's sampled boundaries make file sizes uneven, so
    // allow ~6 of 16 files' worth vs the full 4096 un-pruned
    assert(zScan <= 1536, s"z-order scan emitted $zScan rows (pruning dead?)")
    assert(xScan == 4096, s"x-sort scan emitted $xScan rows, expected all")
  }

  // second-granularity time key: TimestampNTZ row-group stats are dead
  // reader-side (the r13 finding; the DATE workaround loses sub-day
  // resolution), so the epoch-long embedding is the layout dimension
  // AND the predicate column — INT64 stats prune files and row groups
  test("epoch-long timestamp dimension: sub-day time-box prunes files and row groups") {
    val dir = Files.createTempDirectory("graft-zorder-ts").toString
    // 64 hours of data x 64 x-values: hour granularity is sub-day, so
    // a DATE downcast could not express the 8-hour box below
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"),
        floor(col("id") / 64).cast("long").as("hour"), col("id").as("payload"))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("hour") * 3600)
        .cast("timestamp_ntz"))
      .withColumn("ts_s", Layout.epochLong(col("ts")))
    Layout.zorderWrite(grid, Seq("x", "ts_s"), dir, nFiles = 16, bits = 6)
    val lo = 1700000000L + 8 * 3600
    val hi = 1700000000L + 15 * 3600
    val pred = col("ts_s") >= lo && col("ts_s") <= hi
    val touched = filesTouched(spark.read.parquet(dir), pred)
    assert(touched <= 4, s"time-box touched $touched of 16 files")
    val df = spark.read.parquet(dir).where(pred)
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }.head
    val rows = scan.metrics("numOutputRows").value
    assert(rows <= 1536, s"INT64 stats scan emitted $rows rows (pruning dead?)")
    // round-trip: the written table still carries the full-resolution
    // NTZ column alongside the prunable key
    assert(spark.read.parquet(dir).select("ts").distinct().count() == 64)
  }

  test("zorderWrite refuses an input that already has a __zval column") {
    val dir = Files.createTempDirectory("graft-zorder-guard").toString
    val df = spark.range(4).select(col("id").as("x"), col("id").as("__zval"))
    val e = intercept[IllegalArgumentException] {
      Layout.zorderWrite(df, Seq("x"), dir, nFiles = 1, bits = 4)
    }
    assert(e.getMessage.contains("__zval"))
  }

  test("re-zorder is manifest-gated (r16 verdict #2): a reader resolved " +
    "before the rewrite reads the whole OLD layout; the new one flips in " +
    "as ONE commit; vacuum reclaims the superseded files") {
    val dir = Files.createTempDirectory("graft-zorder-gate").toString
    def grid(off: Long) = spark.range(256)
      .select((col("id") % 16 + off).as("x"),
        (col("id") / 16).cast("long").as("y"))
    def ids(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.select("x", "y").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Layout.zorderWrite(grid(0), Seq("x", "y"), dir, nFiles = 4, bits = 4)
    // a reader that resolved the pre-rewrite snapshot (what any serve
    // concurrent with a re-zorder holds)
    val old = graft.io.Manifest.read(spark, dir)
    assert(ids(old) === ids(grid(0)))
    // OPTIMIZE-style rewrite over the live table, different contents —
    // pre-gate, mode("overwrite") DELETED the old files first, so this
    // window could lose the only clustered copy on a crash
    Layout.zorderWrite(grid(1000), Seq("x", "y"), dir, nFiles = 4, bits = 4)
    assert(ids(old) === ids(grid(0)),
      "pre-rewrite reader lost (part of) the old layout")
    assert(ids(graft.io.Manifest.read(spark, dir)) === ids(grid(1000)))
    // both generations on disk until vacuum; after it the plain dir is
    // exactly the new layout
    assert(spark.read.parquet(dir).count() === 512L)
    graft.io.Manifest.vacuum(spark, dir)
    assert(ids(spark.read.parquet(dir)) === ids(grid(1000)))
  }
}
