package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over a hand-built logical plan: `Dataset.ofRows` is
  * `private[sql]`. Its one caller is [[graft.operators.Ckpt.local]]. */
object DatasetOf {
  def apply(spark: classic.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark, plan)
}
