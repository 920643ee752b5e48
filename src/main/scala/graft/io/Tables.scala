package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.model.Schemas

/** Source / sink layer (SURVEY §2.1, S1–S11). No writer here branches on
  * whether a table exists, so S12's existence probe has no counterpart.
  *
  * The reference stores silver/gold as Delta Lake with partition-predicate
  * overwrite for idempotent re-runs (reference: pipeline_2026/
  * ex_match_bs.py:461-482, ex_match_sg.py:299-315). Delta isn't on this
  * harness's classpath, so the same semantics are provided over Parquet:
  * `partitionBy(...)` for layout + partition pruning, and Spark's dynamic
  * partition-overwrite mode as the `replaceWhere` analogue — only the
  * partitions present in the incoming frame are replaced, the rest of the
  * table is untouched (same idempotence contract, S8).
  */
object Tables {

  /** S1 — raw ball CSV scan with the pinned 11-string schema
    * (ex_match_rb.py:173-175). */
  def readRawBallCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.rawBall).csv(path)

  /** S2 — bronze NDJSON scan; Spark's JSON source is line-delimited by
    * default, matching the reference's `lines=True` read
    * (ex_match_bs.py:420-427). The array-JSON fallback (:135-137) is
    * chosen by sniffing the first non-whitespace byte driver-side (O(1),
    * no Spark job — the previous `isEmpty` probe launched a job per
    * file, a per-read planning tax that compounds over thousands of
    * inputs). */
  def readBronzeNdjson(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Accept a plain file, a flat directory, or a glob pattern (nested
    // directories inside a matched directory are not descended — same
    // contract as the reference's single-prefix key listing).
    val statuses =
      if (fs.exists(p)) Array(fs.getFileStatus(p))
      else Option(fs.globStatus(p)).getOrElse(Array.empty)
    require(statuses.nonEmpty, s"readBronzeNdjson: no input matches $path")
    val files = statuses.toSeq.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath).filter(_.isFile).map(_.getPath).toSeq
      else Seq(s.getPath)
    }
    // Per-FILE format decision (a directory may mix both, as the
    // reference's :135-137 coercion produced): array-JSON iff the first
    // non-whitespace byte after an optional UTF-8 BOM is '['.
    def isArray(f: Path): Boolean = {
      val in = fs.open(f)
      try {
        val head = Iterator.continually(in.read())
          .take(4096).takeWhile(_ != -1).toArray
        val body =
          if (head.length >= 3 && head(0) == 0xEF && head(1) == 0xBB &&
            head(2) == 0xBF) head.drop(3)
          else head
        body.find(b => !Character.isWhitespace(b)).contains('['.toInt)
      } finally in.close()
    }
    val (arrayFiles, lineFiles) = files.partition(isArray)
    val reader = spark.read.schema(Schemas.bronzeDelivery)
    val parts = Seq(
      if (lineFiles.nonEmpty) Some(reader.json(lineFiles.map(_.toString): _*)) else None,
      if (arrayFiles.nonEmpty)
        Some(spark.read.schema(Schemas.bronzeDelivery)
          .option("multiLine", "true").json(arrayFiles.map(_.toString): _*))
      else None).flatten
    parts.reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.bronzeDelivery))
  }

  /** S5/P6 — suffix-scoped directory scan: only files matching `glob`
    * under `dir` participate (the reference filters `*_brnz.json` /
    * `.csv` keys, ex_match_bs.py:409-410, ex_match_rb.py:165-167).
    * Pushed to the file index — pruned files are never opened. */
  def readRawBallCsvGlob(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read.option("header", "true").option("pathGlobFilter", glob)
      .schema(Schemas.rawBall).csv(dir)

  /** S3 — single JSON object scan ({match}_meta.json, ex_match_bs.py:131-143). */
  def readMetaJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").schema(Schemas.matchMeta).json(path)

  /** S4 — players catalog NDJSON (ex_match_bs.py:159-196). Bad lines are
    * skipped (PERMISSIVE + required Name), mirroring the per-line
    * try/except. */
  def readPlayers(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.player).json(path)
      .where(org.apache.spark.sql.functions.col("Name").isNotNull)

  /** S6 — silver/gold table scan. Manifest-resolving ([[Manifest.read]]):
    * a table published through [[Manifest]] is read
    * at its last committed snapshot; any other directory reads plain. */
  def readTable(spark: SparkSession, path: String): DataFrame =
    Manifest.read(spark, path)

  /** True iff `path` holds at least one DATA file (ignoring `_`/`.`
    * markers like _temporary or _SUCCESS) — a crashed write must not
    * shadow a valid later tier (the reference probes _delta_log, i.e.
    * validity, not bare existence). */
  private def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    Manifest.visibleFiles(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).hasNext
  }

  /** Tiered silver read (pipeline_local/to_gold/gld_match.py:78-106):
    * the reference's local gold job probes local Delta → S3 Delta →
    * loose CSV files. Spark analogue: first existing parquet location
    * wins (local or remote — one code path, the FS scheme decides),
    * else a recursive CSV directory scan; schema pinned throughout so
    * every tier yields identical types. */
  def readSilverTiered(spark: SparkSession, parquetPaths: Seq[String],
                       csvDir: Option[String],
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    parquetPaths.find(hasDataFiles(spark, _)) match {
      case Some(p) => spark.read.schema(schema).parquet(p)
      case None => csvDir.filter(hasDataFiles(spark, _)) match {
        case Some(d) => spark.read.option("header", "true")
          .option("recursiveFileLookup", "true").schema(schema).csv(d)
        case None => throw new IllegalArgumentException(
          s"no silver data at ${parquetPaths.mkString(", ")} or $csvDir")
      }
    }

  /** The silver layout: partitioned by (match, innings), per
    * ex_match_bs.py:467. */
  private val silverPartitionCols = Seq("match", "innings")

  /** S7 — partitioned silver sink (ex_match_bs.py:464-482). */
  def writeSilver(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(silverPartitionCols: _*).parquet(path)

  /** S8 — partition upsert: replace exactly the (match, innings)
    * partitions present in `df`, keep all others — the Parquet analogue
    * of Delta `replaceWhere "match = X"` (ex_match_bs.py:461-472). */
  def upsertSilverPartitions(df: DataFrame, path: String): Unit =
    upsertPartitions(df, path, silverPartitionCols)

  /** Generic dynamic partition upsert: replace exactly the `cols`
    * partitions present in `df`, keep all others. Idempotent for a
    * deterministic `df`: re-running overwrites the same partitions with
    * identical rows, which is what makes it the exactly-once write shape
    * for `foreachBatch` sinks keyed by `batch_id`
    * ([[graft.streaming.Incremental]]). */
  def upsertPartitions(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(path)

  /** Bucketed catalog table: pre-shuffles once at write time so every
    * subsequent equi-join/aggregation on the bucket key is co-located —
    * zero exchanges at read time. The 100 TB shape for fact-to-fact
    * joins that recur on the same key (a broadcast can't cover two big
    * sides); asserted shuffle-free in BucketedJoinSpec. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int = 32): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      // resolve the MANAGED location the way the catalog will: the
      // (qualified or current) database's location + table name — a
      // warehouse-root guess breaks for `db.tbl` or a non-default
      // current database and the orphan would survive to fail the write
      val (db, tbl) = table.split('.') match {
        case Array(t) => (spark.catalog.currentDatabase, t)
        case Array(d, t) => (d, t)
        case _ => throw new IllegalArgumentException(
          s"writeBucketed: unsupported table identifier '$table'")
      }
      if (spark.catalog.databaseExists(db))
        clearOrphanTableLocation(spark,
          new Path(new Path(spark.catalog.getDatabase(db).locationUri),
            tbl.toLowerCase))
    }
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)
  }

  /** `saveAsTable(Overwrite)` refuses to reuse a managed location left
    * behind by a table dropped from a previous session's in-memory
    * catalog. Callers invoke this when the target table is ABSENT from
    * the catalog: an existing directory at its managed location is then
    * an orphan and is removed — but ONLY if it is recognizably a Spark
    * table artifact (a `_SUCCESS` marker or `part-*` files at its top
    * level or one level down, or an empty dir from a crashed write).
    * Anything else merely sharing the table's name is user data, and
    * this fails loudly instead of deleting it. */
  private[graft] def clearOrphanTableLocation(spark: SparkSession,
                                              loc: Path): Unit = {
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) {
      require(isSparkTableArtifact(fs, loc),
        s"$loc exists but is not a Spark table artifact — refusing to" +
          " delete; move it aside or drop it manually")
      fs.delete(loc, true)
    }
  }

  private def isSparkTableArtifact(fs: org.apache.hadoop.fs.FileSystem,
                                   loc: Path): Boolean = {
    val top = fs.listStatus(loc)
    if (top.isEmpty) return true
    def marker(n: String) = n == "_SUCCESS" || n.startsWith("part-")
    top.exists(s => marker(s.getPath.getName)) ||
      top.forall(s => s.getPath.getName.startsWith("_") || (s.isDirectory &&
        fs.listStatus(s.getPath).forall(c => marker(c.getPath.getName) ||
          c.getPath.getName.startsWith("_"))))
  }

  /** S9 — gold full-overwrite sink (ex_match_sg.py:299-315). Plain
    * parquet overwrite: readers concurrent with the write can see a
    * torn state (the pre-manifest contract). When readers may overlap
    * writers, publish through [[Manifest.publishOverwrite]] instead. */
  def writeGold(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S10 — CSV convenience sink (pipeline_local/to_gold/gld_match.py:317-319). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
}
