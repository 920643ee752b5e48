package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for BENCH runs above the driver-provided scale
  * factors: replicates every table of a source SF dir `factor`× with
  * consistent key remapping, so plan-shape claims can be MEASURED at
  * 10× instead of only argued.
  *
  * Remapping contract (mirrors how TPC-H scales):
  *  - region/nation stay fixed (dimension tables are SF-independent);
  *  - every other table's primary key shifts by `rep · (max+1)`, and
  *    foreign keys shift by the SAME stride as their target table, so
  *    join fan-outs per key are preserved exactly;
  *  - document TEXT is re-tokened per replica (every token gets a
  *    replica suffix): within a replica the dup/near-dup structure is
  *    identical to the source, across replicas nothing collides — pair
  *    counts scale LINEARLY with the corpus the way a real crawl's do,
  *    instead of quadratically as verbatim copies would;
  *  - embeddings get a small deterministic per-replica direction
  *    perturbation (cosine clusters stay within-replica, same reason);
  *  - n_chars is recomputed from the rewritten text.
  *
  * Bench-only data: correctness stays pinned to the driver's read-only
  * SF dirs and the DuckDB oracle.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "testdata-sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    // token-suffix tag: MUST differ between stacked invocations (sf0.1
    // -> sf1 with "r", sf1 -> sf10 with "s", ...) — otherwise
    // "data"+r3 at level 2 collides with level-1 "datar3", recreating
    // verbatim cross-replica duplicates and inflating dedup answers
    val tag = if (args.length > 3) args(3) else "r"
    val spark = graft.Session("graft-genscale")
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")

    // key strides, from the source data itself
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custS = stride(read("customer"), "c_custkey")
    val suppS = stride(read("supplier"), "s_suppkey")
    val partS = stride(read("part"), "p_partkey")
    val ordS = stride(read("orders"), "o_orderkey")
    val evS = stride(read("events"), "event_id")
    val userS = stride(read("events"), "user_id")
    val docS = stride(read("documents"), "doc_id")
    val vecS = stride(read("embeddings"), "vec_id")

    /** factor× replication with per-replica column rewrites. */
    def reps(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => shift(df, r)).reduce(_ unionByName _)

    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)
    // names re-derive from the SHIFTED key (same "Entity#%09d" shape as
    // the source): verbatim name copies across replicas would multiply
    // every fuzzy/edit-distance answer ~quadratically, the same trap the
    // document-text rewrite below avoids for dedup
    write(reps(read("customer")) { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * custS))
        .withColumn("c_name",
          concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0")))
    }, "customer", 4)
    write(reps(read("supplier")) { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * suppS))
        .withColumn("s_name",
          concat(lit("Supplier#"), lpad(col("s_suppkey").cast("string"), 9, "0")))
    }, "supplier", 1)
    write(reps(read("part")) { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * partS))
    }, "part", 4)
    write(reps(read("orders")) { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * ordS))
        .withColumn("o_custkey", col("o_custkey") + lit(r * custS))
    }, "orders", 8)
    write(reps(read("lineitem")) { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * ordS))
        .withColumn("l_partkey", col("l_partkey") + lit(r * partS))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * suppS))
    }, "lineitem", 16)
    write(reps(read("events")) { (d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * evS))
        .withColumn("user_id", col("user_id") + lit(r * userS))
    }, "events", 8)
    write(reps(read("documents")) { (d, r) =>
      val text =
        if (r == 0) col("text")
        else concat_ws(" ",
          transform(split(trim(col("text")), "\\s+"),
            t => concat(t, lit(s"$tag$r"))))
      d.withColumn("doc_id", col("doc_id") + lit(r * docS))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents", 8)
    write(reps(read("embeddings")) { (d, r) =>
      val emb =
        if (r == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          (x + lit(0.05) * sin(col("vec_id") * (i + lit(1)) + lit(r)))
            .cast("float"))
      d.withColumn("vec_id", col("vec_id") + lit(r * vecS))
        .withColumn("embedding", emb)
    }, "embeddings", 4)

    println(s"scaled $src x$factor -> $out")
    spark.stop()
  }
}
