package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.BucketSearch

/** Multi-dimensional data layout (Z-order clustering) for written
  * tables — the scan-pruning lever at 100 TB: a table queried by
  * range predicates on MORE THAN ONE column cannot be sorted to serve
  * both, but interleaving the dimensions' quantile-bucket bits onto a
  * space-filling curve gives every file/row-group a tight min/max
  * envelope on EVERY layout column at once, so parquet stats prune a
  * k-dimensional box query to the few files whose cell intersects the
  * box (the Delta/Iceberg OPTIMIZE ZORDER shape, rebuilt Spark-first).
  *
  * Scale anatomy — nothing here grows with the corpus except the one
  * repartition a layout rewrite IS:
  *  - per-column quantile boundaries come from ONE approxQuantile pass
  *    (Greenwald–Khanna sketch, driver gets 2^bits−1 doubles per
  *    column — metadata scale, like the IVF centroid fits);
  *  - each row maps through [[graft.plans.BucketSearch]] — an
  *    allocation-free O(log 2^bits) literal-array binary search inside
  *    whole-stage codegen (a boundary JOIN would shuffle the corpus;
  *    an `aggregate` HOF scan would be interpreted and O(2^bits));
  *  - bit interleave is pure long arithmetic column ops;
  *  - the single shuffle is `repartitionByRange(zval)` — the rewrite's
  *    unavoidable data movement — plus an intra-partition sort so
  *    row-group stats inside each file are as tight as the file's.
  *
  * Quantile (not linear min/max) bucketing makes the curve
  * skew-robust: each bucket holds ~1/2^bits of the DATA, not of the
  * value range, so a hot key range cannot collapse the curve into few
  * occupied cells. Nulls bucket to 0 (nulls-first, like range
  * partitioning) — a layout operator must never drop or invent rows,
  * which LayoutSpec pins (exact multiset round-trip).
  *
  * Column domains: numeric, boolean, date, timestamp (mapped to their
  * double order-embedding; integral keys stay exact below 2^53 —
  * beyond that quantile-bucket resolution degrades gracefully, order
  * is still preserved). Strings would need an order-embedding prefix
  * (e.g. first-8-bytes big-endian) — out of scope, documented.
  */
object Layout {

  /** Double order-embedding of a layout column, or a loud failure. */
  private def numericDomain(c: Column, dt: DataType): Column = dt match {
    case _: NumericType | BooleanType => c.cast("double")
    // NTZ→LTZ uses the session zone (UTC in every entry point) —
    // order-preserving, which is all a bucket embedding needs; LTZ
    // casts to epoch-seconds double directly (NTZ does not)
    case DateType | TimestampType | TimestampNTZType =>
      c.cast("timestamp").cast("double")
    case t => throw new IllegalArgumentException(
      s"zorder column has unsupported type $t (numeric/boolean/date/timestamp)")
  }

  /** Per-column ascending quantile boundaries (2^bits − 1 each) from
    * one sketch pass over the order-embedded columns. */
  def fitBoundaries(df: DataFrame, cols: Seq[String], bits: Int,
                    relErr: Double): Seq[Array[Double]] = {
    val dts = df.schema
    val keyed = df.select(cols.zipWithIndex.map { case (c, i) =>
      numericDomain(col(c), dts(c).dataType).as(s"__zk$i")
    }: _*)
    val nB = 1 << bits
    val probs = (1 until nB).map(_.toDouble / nB).toArray
    // approxQuantile ignores nulls; an all-null column yields no
    // boundaries → every row buckets to 0, still a valid layout. The
    // multi-column overload fits every sketch in ONE corpus scan.
    keyed.stat
      .approxQuantile(cols.indices.map(i => s"__zk$i").toArray, probs, relErr)
      .toSeq
  }

  /** Interleave `bits` low bits of each bucket id onto the Z-curve:
    * bit `b` of column `j` lands at position `b·k + j`. Pure long
    * column arithmetic — codegen'd, allocation-free. */
  def interleaveBits(ids: Seq[Column], bits: Int): Column = {
    val k = ids.size
    val terms = for (b <- 0 until bits; j <- 0 until k)
      yield shiftleft(shiftrightunsigned(ids(j), b).bitwiseAND(lit(1L)),
        b * k + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** The Z-value column for `cols` given fitted boundaries. */
  def zValue(df: DataFrame, cols: Seq[String],
             boundaries: Seq[Array[Double]], bits: Int): Column = {
    val dts = df.schema
    val ids = cols.zipWithIndex.map { case (c, i) =>
      coalesce(
        BucketSearch.bucketCol(typedlit(boundaries(i).toSeq),
          numericDomain(col(c), dts(c).dataType)),
        lit(0)).cast("long")
    }
    interleaveBits(ids, bits)
  }

  /** Rewrite `df` to `dir` as parquet clustered on the Z-curve of
    * `cols`: `nFiles` range slices of the curve, rows sorted by zval
    * within each. Row multiset is exactly preserved.
    *
    * Manifest-gated (r16 verdict #2): the rewrite is the OPTIMIZE-style
    * operation that replaces a whole table in place, so it stages under
    * `.stage-*` and publishes through ONE
    * [[graft.io.Manifest.publishOverwriteStaged]] commit — a reader
    * resolving through [[graft.io.Manifest.read]] concurrent with a
    * re-zorder sees the whole old layout or the whole new one, and a
    * crash mid-rewrite can no longer lose the only clustered copy
    * (`mode("overwrite")` deleted the target before writing).
    * Superseded files remain until [[graft.io.Manifest.vacuum]]; plain
    * directory readers of a RE-zordered table must vacuum first. */
  def zorderWrite(df: DataFrame, cols: Seq[String], dir: String,
                  nFiles: Int, bits: Int = 10,
                  relErr: Double = 1e-3): Unit = {
    require(cols.nonEmpty, "zorder needs at least one column")
    require(cols.size * bits <= 62,
      s"${cols.size} cols x $bits bits exceeds the 62-bit z-value")
    require(nFiles >= 1, "nFiles must be >= 1")
    require(!df.columns.contains("__zval"),
      "zorderWrite: input already has a __zval column — withColumn would " +
        "silently overwrite it and write the curve value out as user data")
    val bnds = fitBoundaries(df, cols, bits, relErr)
    val out = df.columns.toIndexedSeq.map(col)
    graft.io.Manifest.publishOverwriteStaged(df.sparkSession, dir,
      Some(df.schema)) { stage =>
      df.withColumn("__zval", zValue(df, cols, bnds, bits))
        .repartitionByRange(nFiles, col("__zval"))
        .sortWithinPartitions("__zval")
        .select(out: _*)
        .write.parquet(stage)
    }
    ()
  }

  /** Epoch-long order-embedding for a TIMESTAMP key that must also be
    * the written table's PRUNABLE predicate column. TimestampNTZ
    * row-group min/max skipping is dead reader-side in this Spark
    * (BASELINE.md r13 — the layout clusters perfectly but the scan
    * reads every row group anyway), and the DATE downcast workaround
    * loses sub-day resolution. INT64 stats DO prune, so a
    * second-granularity time key is materialized as this column before
    * [[zorderWrite]] and range-queried THROUGH it:
    *
    * {{{
    * val t = df.withColumn("ts_s", Layout.epochLong(col("ts")))
    * Layout.zorderWrite(t, Seq("x", "ts_s"), dir, nFiles)
    * spark.read.parquet(dir).where(col("ts_s").between(lo, hi))
    * }}}
    *
    * Seconds granularity (the long cast truncates toward negative
    * infinity for pre-epoch values exactly like unix_timestamp); for
    * sub-second keys use `unix_micros(col)` upstream — any monotone
    * integer embedding works as a layout dimension. */
  def epochLong(c: Column): Column = c.cast("timestamp").cast("long")

  /** Diagnostic: how many distinct files hold rows matching `pred` —
    * the locality witness the LayoutSpec/probe assertions use (with
    * one row group per file, files-holding-matches is exactly the
    * lower bound of row groups a stats-pruning reader must visit). */
  def filesTouched(table: DataFrame, pred: Column): Long =
    table.where(pred).select(input_file_name()).distinct().count()
}
