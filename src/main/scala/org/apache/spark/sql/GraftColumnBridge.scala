package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Package-private-API bridge: Spark 4 made `Column` opaque
  * (ColumnNode-backed) and gated Expression↔Column conversion behind
  * `private[sql] classic.ExpressionUtils`. Custom Catalyst expressions
  * (graft.functions.DotProductF) need exactly this pair of conversions —
  * the same hook third-party Spark extensions use. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `RDD[InternalRow]` → DataFrame without a catalyst↔external row trip
    * (`private[sql] SparkSession.internalCreateDataFrame` — the hook every
    * DSv2 source uses internally). For per-partition imperative operators
    * (graft.state.ChirpFoldInternal) whose input/output stay in the
    * Tungsten format. */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** The analyzed-plan output rows of `df` as `RDD[InternalRow]` (the
    * classic `queryExecution.toRdd`). */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Execute `df`'s OWN physical plan to completion and return its row
    * count — the honest forcing action for measurement tools.
    * `df.count()` wraps the plan in a new count aggregate and lets the
    * optimizer prune everything the count doesn't need: terminal
    * projections (a map-only query collapses to a parquet row count),
    * output sorts, and — the r12 finding — a whole terminal LEFT JOIN
    * whose right side is an aggregate on the join key (provably unique,
    * no columns referenced → join eliminated): q76's count() executed 4
    * stages / 0.4 MB of shuffle at synthetic sf10 where the query's own
    * plan moves gigabytes. Rows are materialized inside tasks and only
    * per-partition counts reach the driver. */
  def forceOwnPlan(df: DataFrame): Long = toInternalRdd(df).count()

  /** Analyzed logical plan of a DataFrame (for building custom logical
    * operators over already-resolved child outputs). */
  def analyzedPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** LogicalPlan → DataFrame (`private[sql] Dataset.ofRows` — the hook
    * every custom-operator API needs to hand its plan back to the user). */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every queued listener-bus event has been delivered
    * (the `private[spark]` `waitUntilEmpty` test hook). Listener
    * callbacks run on an async bus thread; a tool that reads its
    * listener buffers right after an action returns would otherwise
    * race late deliveries (graft.QueryProfile). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Idempotently register an extra planner strategy on the session
    * (the `experimental.extraStrategies` hook, for sessions not built
    * through GraftExtensions). */
  def addStrategy(spark: SparkSession,
                  s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) {
      exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  /** Idempotently register an extra optimizer rule
    * (`experimental.extraOptimizations`). */
  def addOptimization(
      spark: SparkSession,
      r: catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(r)) {
      exp.extraOptimizations = exp.extraOptimizations :+ r
    }
  }
}
