package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `sql`-private Column↔Expression converters so graft's
  * native Catalyst expressions (graft.functions) can be used from the
  * public DataFrame API without requiring a session configured with
  * SparkSessionExtensions. The standard technique for Spark-native
  * libraries; uses only stable classic-mode converters.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's DIVIDE_BY_ZERO error, as ANSI-mode division raises it —
    * `QueryExecutionErrors` is `sql`-private. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** DataFrame from a hand-built LogicalPlan (e.g. a LogicalRelation over
    * a custom FileIndex) — `Dataset.ofRows` is `private[sql]`. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Free the storage behind a `localCheckpoint(eager = true)`'d frame.
    * `Dataset.unpersist` only talks to the CacheManager, which knows
    * nothing about checkpoint RDDs; the blocks live on the RDD inside
    * the checkpoint's `LogicalRDD` leaf. Iterative algorithms that
    * checkpoint per round (e.g. label propagation) need this to release
    * round N-1 once round N is materialized, instead of waiting for the
    * driver GC + ContextCleaner to notice.
    *
    * Deliberately matches ONLY the plan ROOT: the frame must BE a local
    * checkpoint (what `.localCheckpoint(true)` returns), not merely
    * embed one. Traversing the whole tree would free `LogicalRDD`
    * leaves possibly still shared by other live frames — blocks that,
    * with truncated lineage, can never be recomputed. No-op (returns
    * false) on any other frame. */
  def releaseLocalCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); true
      case _ => false
    }
}
