package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into the `private[sql]` surface the engine needs:
  * turning a custom [[LogicalPlan]] node (graft.plans.AsOfJoinPlan)
  * into a DataFrame so the planner can reach the custom strategy, and
  * finding and freeing the local checkpoints a caller created, and
  * draining the listener bus before reading a listener. Lives in
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
      isLocalCheckpoint(r) && createdAt(r.getCreationSite))

  /** Free a persisted RDD's blocks, blocking until they are gone. A
    * local checkpoint goes through `SparkContext.unpersistRDD`:
    * `RDD.unpersist` would first log a WARN that its lineage cannot be
    * recomputed, and the callers free only what nothing reads again.
    * Any other RDD goes through `RDD.unpersist`, which also clears its
    * storage level. */
  def unpersist(rdd: RDD[_]): Unit =
    if (isLocalCheckpoint(rdd)) rdd.context.unpersistRDD(rdd.id, blocking = true)
    else rdd.unpersist(blocking = true): Unit

  /** Block until the listener bus has delivered every event posted so
    * far (`LiveListenerBus.waitUntilEmpty` is package-private): a
    * listener's counters read after this include every job that ran
    * before the call. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private def isLocalCheckpoint(r: RDD[_]): Boolean =
    r.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])

  /** Ids of the RDDs a frame's plan reads as leaves — for a checkpoint,
    * the persisted RDD itself. */
  def rddsRead(df: Dataset[_]): Set[Int] =
    analyzed(df).collectWithSubqueries { case r: LogicalRDD => r.rdd.id }.toSet
}
