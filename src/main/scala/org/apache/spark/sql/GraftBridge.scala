package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into the `private[sql]` surface the engine needs:
  * turning a custom [[LogicalPlan]] node (graft.plans.AsOfJoinPlan)
  * into a DataFrame so the planner can reach the custom strategy, and
  * finding the local checkpoints a caller created. Lives in
  * `org.apache.spark.sql` for access scope only — the standard pattern
  * for open-source Spark extension libraries.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (custom-node children). */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The persisted local-checkpoint RDDs whose creation call site
    * (set with `SparkContext.setCallSite`) satisfies `createdAt`. A
    * local checkpoint is never in the cache manager, so
    * `Dataset.unpersist` cannot free it, and an eager one whose job
    * failed was never returned to its caller. */
  def locallyCheckpointed(sc: SparkContext,
      createdAt: String => Boolean): Iterable[RDD[_]] =
    sc.getPersistentRDDs.values.filter(r =>
      r.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]) &&
        createdAt(r.getCreationSite))

  /** Ids of the RDDs a frame's plan reads as leaves — for a checkpoint,
    * the persisted RDD itself. */
  def rddsRead(df: Dataset[_]): Set[Int] =
    analyzed(df).collectWithSubqueries { case r: LogicalRDD => r.rdd.id }.toSet
}
