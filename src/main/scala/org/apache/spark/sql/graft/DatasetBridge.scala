package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into the `private[sql]` DataFrame factory: mounts an
  * `RDD[InternalRow]` as a DataFrame whose scan REPORTS its physical
  * partitioning and ordering to the planner, so a downstream sort or
  * exchange the rows already satisfy is planned away. */
object DatasetBridge {
  def ofRows(
      spark: SparkSession,
      output: Seq[Attribute],
      rows: RDD[InternalRow],
      partitioning: Partitioning,
      ordering: Seq[SortOrder]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, LogicalRDD(output, rows, partitioning, ordering)(session))
  }
}
