package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` plan → DataFrame constructors,
  * compile-checked (the [[GraftColumnBridge]] pattern): a Spark upgrade
  * that moves one fails the build, not a query at run time.
  */
object GraftPlanBridge {
  /** A DataFrame over an already-resolved logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over `rel` whose relation node carries `table`'s stats. */
  def ofRelation(spark: SparkSession, rel: BaseRelation, table: CatalogTable): DataFrame =
    ofRows(spark, LogicalRelation(rel, table))

  /** A DataFrame over physical rows, flagged streaming (what a v1
    * streaming `Source` must return) or batch.
    */
  def fromRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema, isStreaming)
}
