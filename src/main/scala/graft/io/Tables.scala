package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.model.Schemas

/** Source / sink layer (SURVEY §2.1, S1–S12).
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
    * a table published through [[writeGoldAtomic]]/[[Manifest]] is read
    * at its last committed snapshot; any other directory reads plain. */
  def readTable(spark: SparkSession, path: String): DataFrame =
    Manifest.read(spark, path)

  /** Tiered silver read (pipeline_local/to_gold/gld_match.py:78-106):
    * the reference's local gold job probes local Delta → S3 Delta →
    * loose CSV files. Spark analogue: first existing parquet location
    * wins (local or remote — one code path, the FS scheme decides),
    * else a recursive CSV directory scan; schema pinned throughout so
    * every tier yields identical types. */
  /** True iff `path` holds at least one DATA file (ignoring `_`/`.`
    * markers like _temporary or _SUCCESS) — a crashed write must not
    * shadow a valid later tier (the reference probes _delta_log, i.e.
    * validity, not bare existence). */
  private def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    if (fs.getFileStatus(p).isFile) return true
    // EVERY path component below the root must be visible: a part-file
    // nested under _temporary/ (crashed write) is hidden to spark.read's
    // path filter, so counting it as data would pick a tier that then
    // reads as empty.
    val root = fs.makeQualified(p).toUri.getPath.stripSuffix("/")
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val rel = it.next().getPath.toUri.getPath
        .stripPrefix(root).stripPrefix("/")
      if (rel.split("/").forall(c =>
        !c.startsWith("_") && !c.startsWith("."))) return true
    }
    false
  }

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
    * ([[graft.streaming.StreamNearDedup]], [[graft.streaming.Incremental]]). */
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
    * torn state (the pre-manifest contract). Use [[writeGoldAtomic]]
    * when readers may overlap writers. */
  def writeGold(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S9, atomic — gold overwrite published through a [[Manifest]]
    * commit: a concurrent [[readTable]] reader sees the previous
    * snapshot until the one-file commit rename, the new one after,
    * never a mix — the harness-local analogue of the reference's
    * Delta overwrite atomicity (ex_match_sg.py:299-315). Superseded
    * files remain until [[Manifest.vacuum]]. */
  def writeGoldAtomic(df: DataFrame, path: String): Unit = {
    Manifest.publishOverwrite(df, path)
    ()
  }

  /** S10 — CSV convenience sink (pipeline_local/to_gold/gld_match.py:317-319). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Training-shard export — the terminal step of a curation pipeline:
    * materialize the kept corpus as bounded, globally-ordered parquet
    * shards a training loader can stream (shard N's keys all precede
    * shard N+1's; no shard exceeds `recordsPerShard` rows).
    *
    * `orderBy` gives the range exchange (a sampled range partitioner —
    * the scalable global sort); `maxRecordsPerFile` caps each emitted
    * file without another shuffle. At 100 TB the shard count is
    * data/recordsPerShard regardless of executor count, and the sort is
    * the only data-sized movement. */
  def writeTrainingShards(df: DataFrame, path: String, orderCol: String,
                          recordsPerShard: Int): Unit = {
    require(recordsPerShard >= 1, s"recordsPerShard must be >= 1")
    // manifest-gated (r15 verdict #3): the shards stage under
    // `.stage-*` and publish as ONE commit — a reader concurrent with
    // a re-delivery resolves whole-old or whole-new, never a torn
    // shard set. Superseded shard files remain until Manifest.vacuum;
    // a consumer listing the directory RAW after a re-delivery must
    // vacuum first (manifest-resolving readers need not).
    Manifest.publishOverwriteStaged(df.sparkSession, path,
      Some(df.schema)) { stage =>
      df.orderBy(orderCol)
        .write.option("maxRecordsPerFile", recordsPerShard.toLong)
        .parquet(stage)
    }
    ()
  }

  /** Sharded delivery for PAIR-SCALE answers (near-duplicate pairs:
    * [[graft.operators.Dedup.minhashLshPairs]] /
    * [[graft.operators.Dedup.jaccardPairs]]) — the shape the
    * q_dedup_minhash_lsh contract note calls for. At sf100 the
    * registry query's trailing global `orderBy(doc_a, doc_b)` is
    * ~154 s spent canonically ordering a 959.9M-row ANSWER; at 100×
    * that, the total-order CONTRACT is the scale-killer, not the
    * operator. This sink delivers the same information as
    * range-disjoint sorted shards:
    *
    *  - shard key `s = keyA div shardWidth` — ARITHMETIC boundaries on
    *    the bounded id domain, so (unlike `orderBy`/`repartitionByRange`,
    *    whose RangePartitioner runs a SAMPLING JOB that re-executes the
    *    whole pair pipeline's reduce side a second time) the only
    *    data-sized movement is ONE hash exchange on `s`;
    *  - `sortWithinPartitions(s, keyA, keyB)` + `partitionBy(s)`: the
    *    writer's required clustering is already satisfied, so no
    *    second sort — each shard directory gets exactly one file
    *    (a shard's hash bucket lives in one task), internally sorted
    *    by (keyA, keyB);
    *  - shard s holds exactly the pairs with keyA ∈
    *    [s·width, (s+1)·width): boundaries are range-disjoint BY
    *    CONSTRUCTION, so concatenating shard dirs in ascending `s`
    *    reproduces the global (keyA, keyB) order bit-for-bit
    *    (ShardedPairsSpec pins it against `orderBy`).
    *
    * At 100 TB: shard count = id-domain/width regardless of executor
    * count; per-task sorts are spillable; a consumer needing global
    * order streams dirs in shard order, one needing a slice opens only
    * its shards. Pick width so the SHARD COUNT IS SEVERAL TIMES the
    * shuffle parallelism: shards land on tasks by hash, and k shards
    * into k partitions leaves ~1/e of the tasks empty while others
    * sort two or three shards (balls-in-bins) — at ≥8× partitions the
    * law of large numbers balances the exchange like a range
    * partitioner would, without its sampling job. Skew: a hot keyA
    * window inflates its shard — width is the same knob (ids here are
    * dense and uniform). Contract: keyA must be a non-negative
    * integral id (`div` truncates toward zero, which is floor only
    * for non-negatives). */
  def writeShardedPairs(pairs: DataFrame, path: String, shardWidth: Long,
                        keyA: String = "doc_a", keyB: String = "doc_b"): Unit = {
    require(shardWidth >= 1, s"shardWidth must be >= 1, got $shardWidth")
    import org.apache.spark.sql.functions.{col, expr}
    // manifest-gated (r15 verdict #3): shard files stage under
    // `.stage-*` (relative `pair_shard=N/part-*` paths preserved by the
    // move) and publish as ONE commit — a reader concurrent with a
    // re-delivery resolves whole-old or whole-new, never a torn shard
    // set, and the commit adds no data movement. After a RE-delivery
    // the one-file-per-shard-dir property holds for the manifest's
    // listing, not the raw directory, until Manifest.vacuum reclaims
    // the superseded files.
    // the shard column/dir is `pair_shard=N`, NOT underscore-prefixed:
    // `_`-prefixed names are HIDDEN to Spark's path listing (the same
    // filter that hides `_manifests`), so the pre-r16 `__shard=N`
    // layout was invisible to any plain directory read — and to the
    // staged move. Caught by ShardedPairsSpec's manifest-gating case.
    require(!pairs.columns.contains("pair_shard"),
      "writeShardedPairs: input already has a pair_shard column")
    Manifest.publishOverwriteStaged(pairs.sparkSession, path,
      Some(pairs.schema)) { stage =>
      pairs
        .withColumn("pair_shard", expr(s"$keyA div $shardWidth"))
        .repartition(col("pair_shard"))
        .sortWithinPartitions("pair_shard", keyA, keyB)
        .write.partitionBy("pair_shard").parquet(stage)
    }
    ()
  }

  /** The manifest-resolving CONSUMER of [[writeShardedPairs]] (ADVICE
    * r16): the delivery's data files in ascending shard order — the
    * exact concat-in-this-order file list that reproduces the global
    * (keyA, keyB) sort. Resolving through the manifest (not a raw
    * directory listing) makes the one-sorted-file-per-shard contract
    * hold ACROSS re-deliveries: between a re-delivery's commit and a
    * `Manifest.vacuum`, the raw directory holds both generations'
    * shard files, but the committed snapshot names exactly the new
    * ones. Returns absolute paths. */
  def shardedPairFiles(spark: SparkSession, path: String): Seq[String] = {
    val files = Manifest.latest(spark, path) match {
      case Some((_, fs)) => fs
      case None => throw new IllegalStateException(
        s"shardedPairFiles: no manifest at $path — was the delivery " +
          "written by writeShardedPairs?")
    }
    val Shard = "pair_shard=(-?\\d+)".r
    files.map { f =>
      f.split("/").collectFirst { case Shard(n) => n.toLong } match {
        case Some(n) => (n, s"$path/$f")
        case None => throw new IllegalStateException(
          s"shardedPairFiles: non-shard file '$f' in the delivery snapshot")
      }
    }.sortBy(_._1).map(_._2)
  }

  /** The sharded delivery as ONE DataFrame in shard-resolved form:
    * reads [[shardedPairFiles]]'s snapshot (partition-value column
    * `pair_shard` included via basePath). Row order within a Spark
    * read is not a contract — consumers needing the global order
    * stream [[shardedPairFiles]] in sequence. */
  def readShardedPairs(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path)
      .parquet(shardedPairFiles(spark, path): _*)

  /** S12 — table existence probe (ex_match_bs.py:452-457; the local
    * `_delta_log` check in to_silver/slvr_match.py:242 becomes an
    * HDFS-API path probe). */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
