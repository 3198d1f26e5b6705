package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorways graft needs. Its custom logical operators
  * turn a hand-built [[LogicalPlan]] into a user-facing [[DataFrame]].
  *
  * Spark has no public constructor for "DataFrame over my own plan node" —
  * every third-party plan-level extension (Delta, Iceberg, the spark
  * connectors) ships exactly this one-liner in an `org.apache.spark.sql.*`
  * package to reach `classic.Dataset.ofRows`. Everything else in
  * graft.plans uses public APIs (SparkStrategy, SparkPlan,
  * experimental.extraStrategies).
  *
  * `Session.install` sets its filesystem keys on the shared state's Hadoop
  * conf, the one every `newHadoopConf()` copy starts from.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def sharedHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.hadoopConf
}
