package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge for `private[sql]` Column <-> Expression conversion —
  * the standard pattern for libraries that ship custom Catalyst
  * expressions without forking Spark. Kept to the two conversions;
  * everything else in this repo uses public APIs. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Interpreted ordering for a DataType (StructType.interpretedOrdering
    * is private[sql]) — used by graft.plans.TopKAgg's bounded heap. */
  def orderingFor(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
      .asInstanceOf[Ordering[Any]]

  /** Whether the session's CacheManager holds any cached-plan entries
    * (sharedState is private[sql]). Used by CacheHygieneSpec to prove
    * query builders release their scratch persist()s — a CacheManager
    * entry, unlike a checkpoint block, is never reclaimed by GC. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** DataFrame over an RDD[InternalRow] without a Row (de)serialization
    * round-trip (`internalCreateDataFrame` is private[sql]). Used by
    * graft.operators.GlobalIndex to stamp ordinals onto UnsafeRows
    * directly — `spark.createDataFrame(RDD[Row], schema)` would copy
    * every field of every row out of and back into Tungsten. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** DataFrame over a constructed LogicalPlan (`Dataset.ofRows` is
    * private[sql]) — used by graft.plans.AsofJoin to hand its custom
    * logical node to the planner. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
