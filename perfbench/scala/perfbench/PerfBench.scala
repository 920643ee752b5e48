package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py, which builds the
  * classes and generates the inputs):
  *
  *   PerfBench --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --spans FILE [--cpus N]
  *             [--record FILE]
  *
  * With --record, it writes the expected results of the operator_library
  * queries (data/expected.json) instead of running a workload.
  *
  * Prints `PERFBENCH_RESULT {json}` as its last stdout line: correct,
  * attempted, failed and a flat name -> value metric map. run.py adds
  * the units from BENCHMARK.json.
  */
object PerfBench {

  final case class Ctx(workload: String, seed: Long, seconds: Double,
                       trace: Boolean, data: String, work: String,
                       spans: String, cpus: Int) {
    val tracer = new Tracer(trace)
  }

  /** What one run reports. `metrics` holds the end-to-end metrics in a
    * timed run and the per-layer metrics in a traced run. */
  final case class Result(attempted: Long, failed: Long, correct: Boolean,
                          metrics: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("spans"),
      kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    if (kv.contains("record")) {
      OperatorLibrary.record(ctx, kv("record"))
      SparkSession.getActiveSession.foreach(_.stop())
      return
    }
    val r = ctx.workload match {
      case "match_stream" => MatchStream.run(ctx)
      case "operator_library" => OperatorLibrary.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    ctx.tracer.write(ctx.spans)
    val ms = r.metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      "\"" + k + "\":" + java.math.BigDecimal.valueOf(v).toPlainString
    }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":$ms}""")
  }

  /** A new session (stopping any active one) with the config of the entry
    * point the workload stands for: RunPipeline's for the medallion
    * workloads, Bench's for the operator library. Local cores and
    * shuffle partitions are both `cpus` (the SPARK_GRAFT_CPUS
    * convention). */
  def session(ctx: Ctx, library: Boolean): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    var b = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
    if (library) b = b
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.attach(spark.sparkContext)
    spark
  }

  /** Set-up: `start` (a session start) three times, each replacing the
    * last session, then `load` (pre-load and warm-up) once on the last
    * session. Returns that session and the median start seconds plus the
    * load seconds: the first, cold start does not set the figure alone,
    * and work moved into the load shows in full. */
  def setUp(start: => SparkSession)(load: SparkSession => Unit): (SparkSession, Double) = {
    val starts = (1 to 3).map { i =>
      val r = seconds(start)
      log(f"session start $i: ${r._2}%.3f s")
      r
    }
    val spark = starts.last._1
    val loadS = seconds(load(spark))._2
    log(f"load: $loadS%.3f s")
    (spark, median(starts.map(_._2)) + loadS)
  }

  /** Progress on stderr (stdout carries only the result line). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${java.time.LocalTime.now}] $msg")

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Latency over a mix of operation kinds that cost different amounts:
    * the geometric mean over kinds of each kind's median. Unlike the
    * median of the pooled samples, it does not jump from one kind to
    * another when a few samples shift, and every kind weighs the same
    * however many samples it has. */
  def perKindMs(samples: Seq[(String, Double)]): Double = {
    val meds = samples.groupBy(_._1).values.map(g => median(g.map(_._2))).toSeq
    math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = r.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** Heap in use after full collections, highest seen so far (MB).
    * Sampled between operations, outside every timed interval, once the
    * listener bus has delivered every event posted so far (on a slow box
    * its queue lags). Spark's ContextCleaner frees checkpointed and
    * shuffle blocks only after a collection has cleared their driver
    * references, on its own thread, so collections repeat until the
    * heap stops shrinking. */
  object Heap {
    private var peak = 0.0
    private def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    def sample(spark: SparkSession): Unit = {
      org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)
      var last = Double.MaxValue
      var now = used
      var i = 0
      while (i < 8 && now < last - 0.5) {
        System.gc()
        Thread.sleep(250)
        last = now
        now = used
        i += 1
      }
      peak = math.max(peak, now)
    }
    def peakMb: Double = peak
  }

  /** Box speed, for reporting times at a reference speed.
    *
    * The benchmark runs on a shared VM whose host takes CPU time from it
    * (steal) in phases that last minutes: 0-5% in a quiet phase, 10-35%
    * in a busy one, and Spark's multi-threaded stages then take up to
    * twice as long, because each waits for its slowest task. Phases
    * outlast a run, so more samples per run do not average them out.
    *
    * The probe is a fixed piece of pure-JVM work (fill 4 MB of longs from
    * an LCG, sort them, count them into a boxed hash map) on one thread
    * per core, waiting for the last, as a stage waits for its tasks. It
    * calls nothing of the program. A run takes [[sample]]s between its
    * operations, never during one; [[scale]] = [[RefMs]] / the median
    * probe, and the end-to-end times are reported multiplied by it:
    * what they would read on the box in a quiet phase, where the probe
    * takes about [[RefMs]]. */
  object Speed {
    val RefMs = 80.0
    private val N = 1 << 19
    private val samples = ArrayBuffer.empty[Double]
    @volatile private var sink = 0L

    private def work(seed: Long): Long = {
      val a = new Array[Long](N)
      var x = seed
      var i = 0
      while (i < N) {
        x = x * 6364136223846793005L + 1442695040888963407L
        a(i) = x >>> 20
        i += 1
      }
      java.util.Arrays.sort(a)
      val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      i = 0
      while (i < N / 8) {
        m.merge(a(i * 8) & 0xffff, 1L, (p: java.lang.Long, q: java.lang.Long) => p + q)
        i += 1
      }
      m.size + a(N / 2)
    }

    /** One probe on `threads` threads: wall ms. */
    def probe(threads: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map(k => new Thread(() => sink += work(k)))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }

    /** Probes before the first sample, so that it runs compiled. */
    def warm(threads: Int): Unit = (1 to 6).foreach(_ => probe(threads))

    /** Three probes, kept for [[probeMs]]. */
    def sample(threads: Int): Unit = samples ++= (1 to 3).map(_ => probe(threads))

    def probeMs: Double = median(samples.toSeq)
    def scale: Double = RefMs / probeMs
  }

  /** JVM-wide garbage-collection seconds so far. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Files (not dirs, not hidden or `_` markers) and bytes under `dir`. */
  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten
        .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
        .flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
  }

  def bytes(dir: String): Long = dataFiles(dir).map(_.length).sum

  /** Parsed JSON file (jackson ships with Spark). */
  def json(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
}
