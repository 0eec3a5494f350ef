package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Sql-side twin of SparkCoreBridge: `Dataset.ofRows` is
  * `private[sql]`, and the native-operator API (Joins.asofJoinNative)
  * needs it to wrap a custom LogicalPlan node back into a public
  * DataFrame. One line, no behavior — just visibility.
  */
object SparkSqlBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}
