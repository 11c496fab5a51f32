package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** When a small input runs as one partition, and how an operator tells
  * that its input already does.
  *
  * The size rule: input of at most `spark.sql.files.openCostInBytes`
  * bytes (4 MiB by default) is read as one partition. Spark prices
  * opening one more file at that many bytes of scan, so a second task
  * cannot pay for itself. Above it every plan stays parallel. Sizes are
  * the bytes a scan reads (parquet bytes on disk, a gzip log's text),
  * taken from a listing on the driver, so sizing starts no Spark job.
  */
object OnePartition {

  /** Whether `bytes` of input fit one task. */
  def fits(spark: SparkSession, bytes: Long): Boolean =
    bytes <= spark.sessionState.conf.filesOpenCostInBytes

  /** The bytes of the files a scan of `df` reads after partition
    * pruning, when `df` is filters over a file relation; None
    * otherwise. The relation's file index answers on the driver
    * (`FactStore.read` and `LifetimeMv.read` frames carry their file
    * lengths), so no Spark job runs. Only filters over the relation's
    * own partition columns prune; the rest can only shrink the scan,
    * so the count is an upper bound. */
  def scanBytes(df: DataFrame): Option[Long] = {
    def walk(p: LogicalPlan, conds: Seq[Expression]): Option[Long] = p match {
      case Filter(c, child) => walk(child, c +: conds)
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          val parts = AttributeSet(l.output.filter(a => fs.partitionSchema.fieldNames.contains(a.name)))
          val pruning = conds.filter(c => c.references.nonEmpty && c.references.subsetOf(parts))
          Some(fs.location.listFiles(pruning, Nil).iterator.flatMap(_.files).map(_.getLen).sum)
        case _ => None
      }
      case _ => None
    }
    walk(df.queryExecution.analyzed, Nil)
  }

  /** Whether `df`'s physical plan reports exactly `SinglePartition`:
    * every row is already in one task, so an operator that only
    * co-locates rows (a repartition by key) has nothing to do, and an
    * aggregate or a hash join of two such inputs plans no exchange. The
    * plan is read before AQE wraps it, whose wrapper reports no
    * partitioning; nothing runs. */
  def reported(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.outputPartitioning == SinglePartition
}
