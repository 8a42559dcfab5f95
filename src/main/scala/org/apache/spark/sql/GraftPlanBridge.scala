package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint ↔ plan-statistics bridge.
  *
  * A checkpointed Dataset is a `LogicalRDD` that carries the size
  * estimate of the plan it materialized. Without CBO a join's estimate
  * is the product of its children's, so an iterate-to-fixpoint loop that
  * joins each round's checkpoint with itself squares the estimate every
  * round: at about 20 rounds the planner spends minutes multiplying
  * million-digit BigInts. The loop knows the true row count (an
  * `observe()` metric of the checkpoint job), and `withRowCount` puts it
  * back. Building a Dataset from a `LogicalRDD` needs the `private[sql]`
  * `Dataset.ofRows`, hence this one-hop bridge.
  */
object GraftPlanBridge {
  /** `df`, a checkpoint, re-planned with `rows` rows of its schema's
    * estimated width as its size; any other plan comes back unchanged. */
  def withRowCount(df: DataFrame, rows: Long): DataFrame =
    df.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        val stats = Statistics(
          sizeInBytes = EstimationUtils.getSizePerRow(r.output) * rows,
          rowCount = Some(rows))
        classic.Dataset.ofRows(session, LogicalRDD(r.output, r.rdd,
          r.outputPartitioning, r.outputOrdering, r.isStreaming)(
          session, Some(stats)))
      case _ => df
    }
}
