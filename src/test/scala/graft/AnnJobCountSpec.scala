package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftprobe.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Driver actions per ANN registry query: each query (its index build,
  * where it has one, plus the collect of its answer) runs at most the
  * pinned number of Spark jobs on the sf0.001 fixture. A refactor that
  * adds an eager checkpoint, a count or a collect to a build or serve
  * path fails here, before any timing shows it. */
class AnnJobCountSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val maxJobs = Seq(
    "q_embed_knn_exact" -> 6,
    "q_embed_ann_hamming" -> 12,
    "q_embed_ann_lsh" -> 10,
    "q_embed_ann_ivf" -> 14,
    "q_embed_ann_ivf_indexed" -> 22,
    "q_embed_ann_ivf_int8" -> 28,
    "q_embed_ann_funnel" -> 33,
    "q_embed_ann_ivf_tree" -> 36,
    "q_embed_semdedup" -> 17)

  private def jobsOf(name: String): Int = {
    val q = SparkEntry.registry.find(_.name == name).get
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(q.fn(spark, sf).collect().nonEmpty, s"$name: no rows")
      ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  maxJobs.foreach { case (name, bound) =>
    test(s"$name runs at most $bound Spark jobs") {
      val jobs = jobsOf(name)
      info(s"$jobs jobs")
      assert(jobs <= bound, s"$name ran $jobs jobs")
    }
  }
}
