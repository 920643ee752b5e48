package graft

import org.apache.spark.sql.SparkSession

/** Flagship smoke (verify-skill step 4): run [[SparkEntry.entry]] — the
  * full medallion pipeline on the deterministic synthetic season — and
  * require rows > 0, mirroring the driver's smoke check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] flagship rows = $n")
    df.show(5, truncate = false)
    require(n > 0, "flagship returned no rows")
    spark.stop()
  }
}
