package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft entry point (Bench, BenchOne, Verify, Smoke,
  * RunPipeline, GenScale) starts its Spark session, so their config
  * cannot drift apart.
  *
  * Two deployment settings come from the environment:
  *  - `SPARK_GRAFT_CPUS`: local cores AND shuffle partitions (default:
  *    every core this JVM sees);
  *  - `SPARK_MASTER`: overrides the `local[cpus]` master for cluster
  *    submission.
  */
object Session {
  def apply(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // events.parquet's `ts` has shipped as nanosecond int64
      // (graft.queries.Tables.events normalizes both physical forms)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bounded-id fetches (ANN rerank: vec_id isin over ~nQ·rerankK
      // scattered ids) must push the real In SET to parquet: above this
      // threshold Spark degrades In to a [min,max] range, which prunes
      // no row group over scattered ids — measured at 20M vectors as a
      // full-corpus cold read per serve (6.7 GiB -> 2.4 GiB with the
      // set pushed; BASELINE.md r16)
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      // ContextCleaner's own periodic GC (default 30 min): on a
      // >1 h at-scale bench the explicit every-8-queries System.gc()
      // still left enough un-reclaimed shuffle scratch on disk to
      // ENOSPC a 49 GB-headroom box mid-run (r14 sf100). 2 min keeps
      // reclamation ahead of accumulation regardless of query cadence.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
