package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry
import PerfBench._

/** operator_library: queries of the operator library registry
  * (SparkEntry) over the committed sf0.01 tables. It bypasses every
  * medallion module: the no-change control for pipeline changes.
  *
  * A pass runs [[Subset]], one registry query per operator group, in a
  * seed-permuted order, each collected to the driver (the whole
  * 118-query registry takes minutes per pass on 4 cores, far longer
  * than a timed run). Passes run until the run's seconds are spent.
  * End-to-end, at reference box speed (PerfBench.Speed): pass_s = median
  * pass seconds; op_ms = query_ms = query latency, per query
  * (PerfBench.perKindMs). Correctness: every collected result's row
  * count and order-insensitive row hash must equal data/expected.json,
  * recorded from the oracle-green state (every oracle query matching
  * DuckDB).
  */
object OperatorLibrary {

  /** One registry query per operator group: (query, group). */
  val Subset: Seq[(String, String)] = Seq(
    "q_a3_count_by_key" -> "relational", "q_sql_view_topk" -> "sql",
    "q_embed_knn_exact" -> "similarity", "q_text_exact_dedup" -> "dedup",
    "q_text_token_stats" -> "text", "q_quality_classifier" -> "curation")

  /** The sf0.01 tables [[Subset]] reads: the ones data/sf0.01 holds. */
  val Tables: Seq[String] = Seq("events", "orders", "embeddings", "documents")

  private def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  /** (row count, order-insensitive hash): the sum of each row's MD5
    * prefix, so duplicate rows count. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("MD5")
    val h = rows.iterator.map { r =>
      val d = md.digest(render(r).getBytes("UTF-8"))
      d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xff))
    }.sum
    (rows.length.toLong, f"$h%016x")
  }

  final class Inputs(data: String) {
    val tables = s"$data/sf0.01"
    private val exp = json(s"$data/expected.json")
    def expected(name: String): Option[(Long, String)] = Option(exp.get(name))
      .map(n => (n.get("rows").asLong, n.get("hash").asText))
  }

  def run(ctx: Ctx): Result = {
    val in = new Inputs(ctx.data)
    val subset = new scala.util.Random(ctx.seed).shuffle(Subset)
    Speed.warm(ctx.cpus)
    // set-up: session start with a first read of each table, then one
    // warm-up pass, so the timed passes measure the operators, not JIT
    // compilation
    val (spark, setupS) = setUp {
      val s = session(ctx, library = true)
      Tables.foreach(t => s.read.parquet(s"${in.tables}/$t.parquet").count())
      s
    }(pass(_, in, subset, new Tracer(false)))
    if (ctx.trace) traced(ctx, spark, in, subset)
    else timed(ctx, spark, in, subset, setupS)
  }

  /** One pass: (query, seconds, result matches expected.json) per query.
    * The fingerprint is taken after the timed collect. */
  private def pass(spark: SparkSession, in: Inputs, subset: Seq[(String, String)],
                   t: Tracer): Seq[(String, Double, Boolean)] = subset.map { case (n, group) =>
    val (rows, s) = seconds(t.span(s"lib.$group", n)(
      SparkEntry.queries(n)(spark, in.tables).collect()))
    val fp = fingerprint(rows)
    val ok = in.expected(n).contains(fp)
    if (!ok) log(s"$n: got $fp, expected ${in.expected(n)}")
    (n, s, ok)
  }

  private def timed(ctx: Ctx, spark: SparkSession, in: Inputs, subset: Seq[(String, String)],
                    setupS: Double): Result = {
    val start = System.nanoTime()
    val passes = Seq.newBuilder[Seq[(String, Double, Boolean)]]
    do {
      Speed.sample(ctx.cpus)
      passes += pass(spark, in, subset, ctx.tracer)
    } while ((System.nanoTime() - start) / 1e9 < ctx.seconds)
    Heap.sample(spark)
    val ps = passes.result()
    val qs = ps.flatten
    val failed = qs.count(!_._3)
    val passS = median(ps.map(_.map(_._2).sum))
    val opMs = perKindMs(qs.map(q => q._1 -> q._2 * 1e3))
    val k = Speed.scale
    log(f"measured: setup $setupS%.3f s, ${ps.size} passes, pass $passS%.3f s, " +
      f"query $opMs%.1f ms; probe ${Speed.probeMs}%.1f ms, scale $k%.3f")
    Result(qs.size, failed, failed == 0, Map(
      "setup_s" -> setupS * k,
      "pass_s" -> passS * k,
      "op_ms" -> opMs * k,
      "query_ms" -> opMs * k,
      "heap_peak_mb" -> Heap.peakMb))
  }

  /** The traced run: an untraced pass, then a traced pass with each query
    * in a span of its operator group. */
  private def traced(ctx: Ctx, spark: SparkSession, in: Inputs,
                     subset: Seq[(String, String)]): Result = {
    val t = ctx.tracer
    Speed.sample(ctx.cpus)
    val plain = pass(spark, in, subset, new Tracer(false))
    Speed.sample(ctx.cpus)
    val gc0 = gcSeconds
    val traced = pass(spark, in, subset, t)
    val gc = gcSeconds - gc0
    val groups = Subset.map(_._2)
    val counts = groups.map(g => t.layerCounts(s"lib.$g"))
    val all = plain ++ traced
    val failed = all.count(!_._3)
    Result(all.size, failed, failed == 0,
      groups.map(g => s"lib.${g}_s" -> t.layerSeconds(s"lib.$g")).toMap ++ Map(
        "lib.queries" -> traced.size.toDouble,
        "lib.jobs" -> counts.map(_.jobs).sum.toDouble,
        "lib.shuffle_mb" -> counts.map(_.shuffleWrite).sum / 1048576.0,
        "spark.gc_s" -> gc,
        "spark.spill_mb" -> counts.map(_.spill).sum / 1048576.0,
        "trace.overhead_ms" ->
          (traced.map(_._2).sum - plain.map(_._2).sum) * 1e3 / traced.size,
        "box.probe_ms" -> Speed.probeMs))
  }

  /** Writes data/expected.json's content for [[Subset]]. */
  def record(ctx: Ctx, file: String): Unit = {
    val spark = session(ctx, library = true)
    val tables = s"${ctx.data}/sf0.01"
    val lines = Subset.map(_._1).sorted.map { n =>
      val (rows, hash) = fingerprint(SparkEntry.queries(n)(spark, tables).collect())
      s"""  "$n": {"rows": $rows, "hash": "$hash"}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
      lines.mkString("{\n", ",\n", "\n}\n"))
  }
}
