package graft.store

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.plans.OnePartition

/** The one way the library materializes a frame that several later
  * steps read — the reference's compute-once, fan-out-many shape
  * (`Access.pm:259-351`); Catalyst has no common-subexpression
  * materialization, so otherwise each consumer re-runs the pipeline.
  *
  *  - [[Checkpoint]] (default): an eager local checkpoint, serialized
  *    with disk spill (deserialized rows are 5-10x larger). Not
  *    `persist`: AQE may coalesce a CACHED plan's output partitions
  *    only when `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
  *    is true, and the sessions leave it false, so every stage over a
  *    persisted shuffle runs `initialPartitionNum` (8 x cores) tasks. A
  *    checkpoint is taken from the finished AQE plan and keeps the
  *    coalesced count. Not replayable: a lost executor loses its blocks.
  *    A frame whose plan is one partition ([[graft.plans.OnePartition]])
  *    reads back as one partition: the checkpoint of an AQE plan
  *    reports an unknown partitioning, so the scope restates it with a
  *    narrow `coalesce(1)`, and an aggregate over it plans no exchange.
  *  - [[Files]]: parquet under a unique `<path>/<phase>-<seq>`, read
  *    back with the frame's own schema — replayable like any scan, the
  *    production setting. A later call never clobbers files a lazy frame
  *    of an earlier one reads; the caller sweeps the root.
  *
  * Ownership: a [[scope]] frees, on every exit path, each checkpoint
  * made inside it — also one whose eager job failed (Spark persists
  * the RDD before the job and never hands it back, so each checkpoint
  * gets its own call site to be found by). A checkpoint the returned
  * frame reads ESCAPES to the caller: to the caller's own scope if one
  * is open on the thread, else the caller unpersists it from
  * `SparkContext.getPersistentRDDs` once done.
  */
object Materialize {

  sealed trait Mode
  case object Checkpoint extends Mode
  final case class Files(path: String) extends Mode

  private val seq = new AtomicLong()
  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  final class Scope private[Materialize] (spark: SparkSession, label: String) {
    private val sites = mutable.Set.empty[String]
    private val adopted = mutable.Set.empty[Int]

    /** Materialize `df` (built before the call site is set, so a
      * checkpoint made while building it keeps its own) in `mode`. */
    def apply(phase: String, mode: Mode = Checkpoint)(df: => DataFrame): DataFrame = {
      val frame = df
      val n = seq.incrementAndGet()
      mode match {
        case Checkpoint =>
          val sc = spark.sparkContext
          val site = s"$label #$n $phase"
          val prev = Seq("callSite.short", "callSite.long").map(k => k -> sc.getLocalProperty(k))
          synchronized(sites += site)
          sc.setCallSite(site)
          val ckpt =
            try frame.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
            finally prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          // a checkpoint carries the partitioning of the plan it ran,
          // and AQE's wrapper reports none: restate a one-partition
          // frame's, or every aggregate over it shuffles again (the
          // checkpoint ran the frame's own query execution, so its
          // plan is already there to read: nothing is planned twice)
          if (OnePartition.reported(frame)) ckpt.coalesce(1) else ckpt
        case Files(path) =>
          val p = s"$path/$phase-$n"
          frame.write.mode("overwrite").parquet(p)
          frame.sparkSession.read.schema(frame.schema).parquet(p)
      }
    }

    /** Free now the checkpoints of this scope that `df` reads. */
    def release(df: Dataset[_]): Unit = free(GraftBridge.rddsRead(df))

    private[Materialize] def free(ids: Int => Boolean): Unit =
      owned.filter(r => ids(r.id)).foreach(GraftBridge.unpersist)

    private[Materialize] def owned: Seq[RDD[_]] = synchronized {
      val sc = spark.sparkContext
      GraftBridge.locallyCheckpointed(sc, sites).toSeq ++
        adopted.toSeq.flatMap(sc.getPersistentRDDs.get)
    }

    private[Materialize] def adopt(ids: Set[Int]): Unit = synchronized(adopted ++= ids)
  }

  /** Run `body` with a [[Scope]]; on return or throw, free what it
    * materialized, except the checkpoints a returned frame reads. */
  def scope[T](spark: SparkSession, label: String)(body: Scope => T): T = {
    val s = new Scope(spark, label)
    val outer = open.get
    open.set(s :: outer)
    var reads = Set.empty[Int]
    try {
      val out = body(s)
      reads = out match { case d: Dataset[_] => GraftBridge.rddsRead(d); case _ => reads }
      out
    } finally {
      open.set(outer)
      val escaped = s.owned.map(_.id).filter(reads).toSet
      s.free(id => !escaped(id))
      outer.headOption.foreach(_.adopt(escaped))
    }
  }
}
