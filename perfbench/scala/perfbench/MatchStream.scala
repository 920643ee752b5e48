package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.Pipeline
import graft.io.Tables
import graft.streaming.Incremental
import PerfBench._

/** match_stream: the Lambda event path, through to the consumer query.
  *
  * Set-up starts a session (three times; the median counts) and
  * pre-loads a fresh store (bronze + silver) with one Incremental.run
  * over a few generated matches. Then one cycle, a fixed amount of work
  * that takes longer than a run's seconds on a 4-core box: the
  * cumulative snapshots of one more match land one at a time in the
  * generator's order (a partial scrape, the final one, then a late
  * re-scrape of the partial one), each drained by Incremental.run
  * (AvailableNow) in a closed loop with one client; then the gold
  * tables are refreshed from the stored silver and registered
  * (Medallion.refreshGold), and one client runs the consumer queries for
  * [[Rounds]] rounds.
  *
  * End-to-end, at reference box speed (PerfBench.Speed): pass_s = the
  * cycle's ingest + refresh seconds; op_ms = per-snapshot ingest
  * latency, from the file landing (an atomic rename into the watched
  * directory) to the query's termination, per landing kind; query_ms =
  * consumer query latency, per query (PerfBench.perKindMs).
  *
  * Correctness, every run: each consumer result against the generator's
  * ground truth (standings, Orange Cap, boundary leaders' runs), and the
  * silver of every stored match against the batch pipeline's silver over
  * the same landed files (all columns but the ingest ordinal `seq`). The
  * traced run also checks the whole refreshed gold and the silver row
  * count and names (Medallion.checkGold).
  */
object MatchStream {

  /** Consumer-query rounds after each refresh. */
  val Rounds = 4

  final case class Landing(file: String, matchId: String, newRows: Long)

  final class Store(ctx: Ctx) {
    val root = s"${ctx.work}/stream"
    val raw = s"$root/raw"
    val bronze = s"$root/bronze"
    val silver = s"$root/silver"
    val gold = s"$root/gold"
    val checkpoint = s"$root/checkpoint"
    private val staging = s"$root/staging"
    private var landed = 0

    def reset(): Unit = {
      deleteRecursively(new File(root))
      Seq(raw, staging).foreach(new File(_).mkdirs())
      landed = 0
    }

    /** Atomically moves a copy of `src` into the watched directory under
      * a fresh name; returns the nanoTime just before the rename. */
    def land(src: File): Long = {
      landed += 1
      val tmp = new File(staging, src.getName).toPath
      Files.copy(src.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
      val t0 = System.nanoTime()
      Files.move(tmp, new File(raw, f"$landed%05d_${src.getName}").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      t0
    }
  }

  def run(ctx: Ctx): Result = {
    val in = new Medallion.Inputs(ctx.data)
    val store = new Store(ctx)
    val landings = json(s"${ctx.data}/stream.json").elements.asScala.map { n =>
      Landing(n.get("file").asText, n.get("match").asText, n.get("new_rows").asLong)
    }.toIndexedSeq
    Speed.warm(ctx.cpus)
    val (spark, setupS) = setUp(session(ctx, library = false)) { s =>
      store.reset()
      new File(s"${ctx.data}/stream/preload").listFiles.sortBy(_.getName)
        .foreach(store.land)
      drain(s, ctx, store)
    }
    if (ctx.trace) traced(ctx, spark, in, store, landings)
    else timed(ctx, spark, in, store, landings, setupS)
  }

  /** One Incremental.run over everything not yet processed. */
  private def drain(spark: SparkSession, ctx: Ctx, store: Store): Unit = {
    val q = Incremental.run(spark, store.raw,
      Tables.readMetaJson(spark, s"${ctx.data}/meta.json"),
      store.bronze, store.silver, store.checkpoint,
      Some(Tables.readPlayers(spark, s"${ctx.data}/players.ndjson")))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** Lands `l` and drains it, in a span named `span`: latency in ms. */
  private def ingest(spark: SparkSession, ctx: Ctx, store: Store, l: Landing,
                     t: Tracer, span: String = "Incremental.run"): Double = {
    val t0 = store.land(new File(s"${ctx.data}/stream/snap/${l.file}"))
    t.span("stream", span)(drain(spark, ctx, store))
    (System.nanoTime() - t0) / 1e6
  }

  private def timed(ctx: Ctx, spark: SparkSession, in: Medallion.Inputs, store: Store,
                    landings: Seq[Landing], setupS: Double): Result = {
    val ingests = landings.map { l =>
      Speed.sample(ctx.cpus)
      ingest(spark, ctx, store, l, ctx.tracer)
    }
    Speed.sample(ctx.cpus)
    val refresh = seconds(Medallion.refreshGold(spark,
      spark.read.parquet(store.silver), store.gold, ctx.tracer))._2
    Heap.sample(spark)
    val served = (1 to Rounds).flatMap { _ =>
      Speed.sample(ctx.cpus)
      Medallion.serve(spark, in.truth, ctx.tracer)
    }
    Heap.sample(spark)
    val wrong = mismatchedMatches(spark, ctx, store)
    val stored = new File(store.silver).list().count(_.startsWith("match="))
    val failed = served.count(!_.ok) + wrong.size
    val passS = ingests.sum / 1e3 + refresh
    val opMs = perKindMs(ingests.zipWithIndex.map { case (ms, i) => s"landing$i" -> ms })
    val queryMs = perKindMs(served.map(q => q.name -> q.ms))
    val k = Speed.scale
    log(f"measured: setup $setupS%.3f s, ingest ms ${ingests.map(_.round).mkString(" ")}, " +
      f"refresh $refresh%.3f s, pass $passS%.3f s, op $opMs%.1f ms, query $queryMs%.1f ms; probe ${Speed.probeMs}%.1f ms, scale $k%.3f")
    Result(landings.size + served.size + stored, failed, failed == 0, Map(
      "setup_s" -> setupS * k,
      "pass_s" -> passS * k,
      "op_ms" -> opMs * k,
      "query_ms" -> queryMs * k,
      "heap_peak_mb" -> Heap.peakMb))
  }

  /** Stored matches whose silver differs from the batch pipeline's
    * silver over every file landed so far (pre-load included). */
  def mismatchedMatches(spark: SparkSession, ctx: Ctx, store: Store): Set[String] = {
    val batch = Pipeline.toSilver(spark,
      Pipeline.toBronze(Tables.readRawBallCsv(spark, store.raw)),
      Tables.readMetaJson(spark, s"${ctx.data}/meta.json"),
      Some(Tables.readPlayers(spark, s"${ctx.data}/players.ndjson")))
    val cols = batch.columns.filter(_ != "seq").toSeq.map(col)
    val b = batch.select(cols: _*)
    val s = spark.read.schema(batch.schema).parquet(store.silver).select(cols: _*)
    val wrong = b.exceptAll(s).union(s.exceptAll(b))
      .select("match").distinct().collect().map(_.getString(0)).toSet
    if (wrong.nonEmpty) log(s"stream silver differs from batch for ${wrong.take(5)}")
    wrong
  }

  /** The traced run, the same cycle: its landings and the gold refresh
    * traced (with the files and rows each landing rewrites), the consumer
    * queries, untraced and traced in turn, three more landings of the
    * late re-scrape, untraced, traced, untraced (per-landing tracing
    * overhead), the no-new-file
    * trigger, then the batch silver path layer by layer over the landed
    * files and the squad-scoping experiment (README:64). */
  private def traced(ctx: Ctx, spark: SparkSession, in: Medallion.Inputs, store: Store,
                     ls: Seq[Landing]): Result = {
    val t = ctx.tracer
    val untraced = new Tracer(false)
    val storedBefore = new File(store.bronze).list().count(_.startsWith("match="))
    val gc0 = gcSeconds
    var written = 0L
    var rewritten = 0L
    val tracedMs = ls.map { l =>
      Speed.sample(ctx.cpus)
      val before = System.currentTimeMillis()
      val ms = ingest(spark, ctx, store, l, t)
      written += (dataFiles(store.bronze) ++ dataFiles(store.silver))
        .count(_.lastModified >= before - 1000)
      rewritten += Seq(store.bronze, store.silver).map(p =>
        spark.read.parquet(p).where(col("match") === l.matchId).count()).sum
      ms
    }
    Medallion.refreshGold(spark, spark.read.parquet(store.silver), store.gold, t)
    val gc = gcSeconds - gc0
    // a first round (its queries are the first to read the new gold),
    // then untraced and traced rounds in turn
    val firstServe = Medallion.serve(spark, in.truth, untraced)
    val rounds = (1 to 2).map(_ => (Medallion.serve(spark, in.truth, untraced),
      Medallion.serve(spark, in.truth, t)))
    val plainServe = rounds.flatMap(_._1)
    val served = rounds.flatMap(_._2)
    val goldOk = Medallion.checkGold(spark, spark.read.parquet(store.silver),
      store.gold, in, in.truth)

    val late = ls.last
    // the late re-scrape lands three more times, untraced, traced,
    // untraced: each is a pure duplicate of stored rows, so each does the
    // same work, and the untraced pair brackets the traced one (later
    // landings of a run ran faster)
    val latePlain1 = ingest(spark, ctx, store, late, untraced)
    val lateTraced = ingest(spark, ctx, store, late, t, "Incremental.run(re-landing)")
    val latePlain2 = ingest(spark, ctx, store, late, untraced)
    log(f"re-landings: untraced $latePlain1%.0f ms, traced $lateTraced%.0f ms, untraced $latePlain2%.0f ms")
    val trigger = median((1 to 2).map(_ =>
      seconds(t.span("stream", "Incremental.run(empty)")(drain(spark, ctx, store)))._2 * 1e3))

    val layered = s"${store.root}/layered"
    val facts = Medallion.layeredSilver(spark, in, store.raw, layered, t)
    val (scoped, unscoped) = Medallion.fuzzyScope(spark, facts.enriched, in)
    log(f"README:64 squad-scoped normalize $scoped%.3f s vs full catalog $unscoped%.3f s")
    val wrong = mismatchedMatches(spark, ctx, store)

    val nTraced = tracedMs.size.toDouble
    val serveSpans = t.spans.filter(s => s.layer == "serve" && s.name != "SqlViews.registerGold")
    def serveMs(names: String*) =
      median(serveSpans.filter(s => names.contains(s.name)).map(_.seconds * 1e3))
    val layers = Seq("io", "bronze", "silver", "gold", "serve", "stream").map(t.layerCounts(_))
    val failed = (firstServe ++ plainServe ++ served).count(!_.ok) +
      (if (goldOk) 0 else 1) + wrong.size
    val stored = new File(store.silver).list().count(_.startsWith("match="))
    log(s"store: $storedBefore matches before the traced landings")
    Result(tracedMs.size + 3 + firstServe.size + plainServe.size + served.size + 1 + stored,
      failed, failed == 0, Map(
      "bronze.decode_s" -> t.layerSeconds("bronze", "EventDecode.decode"),
      "bronze.dedup_s" -> t.layerSeconds("bronze", "Pipeline.dedupDecoded"),
      "bronze.innings_s" -> t.layerSeconds("bronze", "Innings.addInnings"),
      "bronze.dup_drop_ratio" -> facts.dupDropRatio,
      "bronze.shuffle_mb" -> t.layerCounts("bronze").shuffleWrite / 1048576.0,
      "silver.enrich_s" -> t.layerSeconds("silver", "Enrich.withTeamsAndMeta"),
      "silver.fuzzy_s" -> t.layerSeconds("silver", "FuzzyNames.normalize"),
      "silver.dedup_s" -> t.layerSeconds("silver", "Enrich.dedup"),
      "silver.fuzzy_pairs" -> facts.fuzzyPairs,
      "silver.fuzzy_changed_ratio" -> facts.fuzzyChanged,
      "silver.fuzzy_scope_speedup" -> unscoped / scoped,
      "silver.jobs" -> t.layerCounts("silver").jobs.toDouble,
      "io.silver_write_s" -> t.layerSeconds("io", "Tables.writeSilver"),
      "io.silver_files" -> dataFiles(s"$layered/silver").size.toDouble,
      "io.silver_mb" -> bytes(s"$layered/silver") / 1048576.0,
      "io.gold_write_s" -> t.layerSeconds("io", "Tables.writeGold"),
      "io.stored_bytes_per_raw_byte" ->
        (bytes(store.bronze) + bytes(store.silver)).toDouble / bytes(store.raw),
      "gold.batsman_s" -> t.layerSeconds("gold", "gold_batsman_stats"),
      "gold.bowler_s" -> t.layerSeconds("gold", "gold_bowler_stats"),
      "gold.team_s" -> t.layerSeconds("gold", "gold_team_stats"),
      "gold.standings_s" -> t.layerSeconds("gold", "gold_tournament_standings"),
      "gold.shuffle_mb" -> t.layerCounts("gold").shuffleWrite / 1048576.0,
      "serve.register_s" -> t.layerSeconds("serve", "SqlViews.registerGold"),
      "serve.points_table_ms" -> serveMs("pointsTableSql"),
      "serve.orange_cap_ms" -> serveMs("orangeCapSql"),
      "serve.consumer_ms" -> serveMs("orangeCap", "purpleCap", "pointsTable",
        "powerplayLeaders", "boundaryLeaders"),
      "serve.ms_p95" -> percentile(served.map(_.ms), 95),
      "serve.jobs_per_query" -> t.layerCounts("serve").jobs.toDouble / serveSpans.size,
      "stream.trigger_ms" -> trigger,
      "stream.jobs_per_snapshot" -> t.layerCounts("stream", "Incremental.run").jobs / nTraced,
      "stream.files_written_per_snapshot" -> written / nTraced,
      "stream.rows_rewritten_per_new_row" -> rewritten.toDouble / ls.map(_.newRows).sum,
      "spark.gc_s" -> gc,
      "spark.spill_mb" -> layers.map(_.spill).sum / 1048576.0,
      "trace.overhead_ms" -> (lateTraced - (latePlain1 + latePlain2) / 2),
      "trace.serve_overhead_ms" ->
        (perKindMs(served.map(q => q.name -> q.ms)) -
          perKindMs(plainServe.map(q => q.name -> q.ms))),
      "box.probe_ms" -> Speed.probeMs))
  }
}
