package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Bridge for the two DataFrame constructors Spark keeps `private[sql]`:
  * a frame over a custom logical node (`Dataset.ofRows`, how Spark's own
  * operators wrap their plans) and a frame over an RDD of internal rows
  * (no per-row conversion to external `Row`s). Used by
  * `graft.operators.ConnectedComponents`. */
object GraftDatasets {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  def ofInternalRows(s: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    s.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Whether `s`'s planner consults `strategy` (installed through
    * `SparkSessionExtensions.injectPlannerStrategy`). */
  def plansWith(s: SparkSession, strategy: execution.SparkStrategy): Boolean =
    s.asInstanceOf[classic.SparkSession].sessionState.planner.strategies.contains(strategy)
}
