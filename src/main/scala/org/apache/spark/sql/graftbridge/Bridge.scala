package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal visibility bridge: `ExpressionUtils.column/expression` are
  * `private[sql]` in Spark 4, and wrapping a custom Catalyst Expression
  * into a public `Column` (and back) is the one thing an external engine
  * library cannot do from its own package. Standard extension-library
  * pattern; no Spark internals are re-implemented here.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan into a public DataFrame —
    * `Dataset.ofRows` is `private[sql]`, and building a frame over a
    * library-defined Catalyst node (graft.plans.AsofMergeJoin) is the
    * other thing an extension library cannot do from its own package.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Release the storage blocks of a `localCheckpoint()`ed DataFrame.
    *
    * `Dataset.unpersist` only clears CacheManager entries, and a local
    * checkpoint is NOT one — it persists the underlying RDD directly,
    * so plain `df.unpersist()` on a checkpointed frame silently frees
    * nothing and iterative loops leak one materialized frame per round.
    * The persisted RDD is the checkpoint's `LogicalRDD` ROOT;
    * unpersisting that is the release. Deliberately matches only the
    * plan ROOT: a frame merely DERIVED from checkpoints (round-1 state
    * built on a checkpointed base) must not release its still-live
    * inputs — walking all leaves did exactly that and later rounds
    * died with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. No-op on frames that
    * were never checkpointed.
    */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `df.localCheckpoint()` that keeps the partitioning its rows were
    * produced under. Spark records the executed plan's
    * `outputPartitioning` on a checkpoint, but under AQE the plan root
    * (`AdaptiveSparkPlanExec`) reports `UnknownPartitioning`, so a join
    * or aggregate over a checkpointed frame re-shuffles rows that are
    * already placed. Once the eager checkpoint has run, the adaptive plan
    * is final, and its final physical plan's partitioning is the layout
    * of the checkpointed partitions; that is what the returned frame's
    * scan reports (the first leaf of a `PartitioningCollection`, as
    * Spark's own checkpoint does). Released like any local checkpoint.
    */
  def localCheckpointPartitioned(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning,
      PartitioningCollection}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    @annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case PartitioningCollection(ps) => firstLeaf(ps.head)
      case other => other
    }
    val pinned = df.localCheckpoint()
    (pinned.queryExecution.analyzed, df.queryExecution.executedPlan) match {
      case (lr: LogicalRDD, aqe: AdaptiveSparkPlanExec) if aqe.isFinalPlan =>
        ofRows(df.sparkSession, lr.makeCopy(Array(lr.output, lr.rdd,
          firstLeaf(aqe.executedPlan.outputPartitioning), lr.outputOrdering,
          Boolean.box(lr.isStreaming), lr.stream)))
      case _ => pinned
    }
  }

  /** Block until the listener bus has delivered every queued event.
    *
    * Listener delivery is asynchronous; a timing harness that reads a
    * listener-accumulated counter right after an action returns races
    * the bus and under-counts the last job. `LiveListenerBus
    * .waitUntilEmpty` is the precise fence but `private[spark]` —
    * this is the one-line visibility shim (no internals
    * re-implemented).
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
