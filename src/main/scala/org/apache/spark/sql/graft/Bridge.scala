package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one FILE where this library touches `private[sql]` Spark APIs:
  * constructing a DataFrame from a custom [[LogicalPlan]] node requires
  * `Dataset.ofRows`, and constructing a Column from a raw Expression
  * requires `ExpressionUtils.column` — both scoped by Spark to its own
  * package, reached via the standard extension-library bridge (a
  * sub-package of `org.apache.spark.sql` is within the access scope).
  * Everything else this library does goes through public
  * `SparkSessionExtensions` injection points. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column over a raw catalyst [[Expression]] — needed for expressions
    * whose constructor takes non-Expression state (a `Broadcast`
    * handle, e.g. [[graft.expressions.RankCentersExpr]]) and so
    * cannot be built through the `injectFunction` children-only
    * factory. Same access rationale as [[ofRows]]. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Eager partitioning-PRESERVING checkpoint.
    *
    * `Dataset.(local)Checkpoint` under AQE rebuilds the frame as a
    * [[org.apache.spark.sql.execution.LogicalRDD]] with
    * `UnknownPartitioning` (measured: a checkpointed
    * `repartition(n, key)` frame re-exchanges at its next keyed join),
    * which silently re-inserts the very exchange the caller pinned the
    * frame to avoid. This helper checkpoints `df` eagerly (reliable
    * when a checkpoint dir is configured, local otherwise — the
    * [[graft.text.Components]] convention) and then re-declares on the
    * LogicalRDD what the EXECUTED plan says is physically true of the
    * checkpointed blocks: its final output partitioning. Nothing is
    * asserted that was not measured from the finished run — if the
    * final partitioning is not a hash partitioning expressible over
    * the checkpoint's own output attributes (e.g. AQE coalesced it),
    * the plain pinned frame returns unchanged. */
  def pinPartitioned(df: DataFrame,
      storageLevel: org.apache.spark.storage.StorageLevel): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val pinned =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true, storageLevel)
    // The checkpoint action above finalized the (adaptive) physical
    // plan, so its outputPartitioning is now the materialized one.
    // AdaptiveSparkPlanExec itself always REPORTS UnknownPartitioning
    // (its shape can change mid-flight); the finalized inner plan
    // carries the real one.
    val part = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.outputPartitioning
      case p => p.outputPartitioning
    }
    val lrOpt = pinned.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l
    }
    (part, lrOpt) match {
      // Plain and AQE-coalesced hash partitionings both declare a
      // row-placement invariant downstream joins/aggregates can use.
      case (h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioningLike,
          Some(lr)) if h.references.subsetOf(lr.outputSet) =>
        val session =
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        ofRows(df.sparkSession,
          lr.copy(outputPartitioning = h)(session, None, None))
      case _ => pinned
    }
  }
}
