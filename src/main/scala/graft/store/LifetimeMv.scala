package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.FactRow
import graft.plans.OnePartition

/** Incremental maintenance of the lifetime-totals materialized view
  * (SURVEY §2.4 A5). The reference RECOMPUTES per-eprint cumulative
  * totals from all history on every ETL run (one query per eprint!,
  * `Processor/EPrint/CacheDownloads.pm:34-59`); at 100 TB a
  * full-history rescan per run is the difference between minutes and
  * hours. This store merges only the fact partitions NEWER than the
  * view's own high-watermark:
  *
  *   cost per refresh = O(|MV| + |new days|)   — not O(|history|)
  *
  * The delta's days come from the table's `date=` partition listing
  * (no job; an up-to-date view returns before touching Spark). The
  * delta read is `fact.filter(date > watermark)` over the
  * date-partitioned table, so partition pruning skips all already
  * merged days at listing time; the merge itself is a groupBy over
  * (current MV ∪ delta), both small relative to the fact history.
  * When the delta scan and the current version together fit the size
  * rule of [[graft.plans.OnePartition]], sized through their file
  * indexes on the driver, both are read as one partition and the
  * merge runs as one task with no exchange.
  *
  * Crash safety via versioned commits: each refresh writes a NEW
  * `v<N>` directory, then atomically advances a pointer file holding
  * `version|watermark` as one record. A crash after writing v<N> but
  * before the pointer flip leaves the pointer on v<N-1> with the OLD
  * watermark — the next run re-merges the same delta into v<N-1> and
  * nothing is double-counted. Orphaned version dirs are removed after
  * a successful flip.
  */
object LifetimeMv {

  private val PointerKey = "mv_current"

  private def pointer(mvDir: String): Option[(Long, String)] =
    FactStore.loadCheckpoint(mvDir, PointerKey).flatMap { s =>
      s.split('|') match {
        // validate BOTH fields: a corrupt watermark must surface here
        // (treated as no-pointer) rather than throw on every refresh
        case Array(v, wm) => scala.util.Try {
          java.time.LocalDate.parse(wm); (v.toLong, wm)
        }.toOption
        case _ => None
      }
    }

  /** The view's columns: the fact schema without `date`, as the
    * merge writes them. */
  private val Schema = StructType(FactRow.schema.filterNot(_.name == "date"))

  /** Current MV contents: (id, value, count) lifetime totals.
    * Empty-schema-safe only after the first successful update. The
    * view's schema is passed, so opening it runs no schema-inference
    * job. */
  def read(spark: SparkSession, mvDir: String): Option[DataFrame] =
    pointer(mvDir).map { case (v, _) => version(spark, mvDir, v) }

  private def version(spark: SparkSession, mvDir: String, v: Long): DataFrame =
    spark.read.schema(Schema).parquet(s"$mvDir/v$v")

  /** Merge fact days newer than the stored watermark into the view.
    * Returns the number of day-partitions merged (0 = already fresh).
    *
    * `rewrittenFrom`: the start of a backfill window whose fact
    * partitions were just REWRITTEN (Etl's St3 semantics). The delta
    * merge assumes append-only history; if the rewritten window
    * reaches at or below the view's watermark, already-merged days
    * changed underneath it and the view rebuilds from the full fact
    * table (committed the same versioned way — readers never see the
    * rebuild in progress). A window strictly after the watermark
    * leaves the fast path untouched. */
  def update(spark: SparkSession, mvDir: String, factDir: String,
      rewrittenFrom: Option[java.time.LocalDate] = None): Long = {
    if (!new java.io.File(factDir).isDirectory) {
      // a backfill can clear a table ENTIRELY (FactStore removes the
      // root when no partitions remain); if that rewrite reached
      // merged history the view must drop with it, not serve stale
      // totals forever
      pointer(mvDir).foreach { case (_, wm) =>
        if (rewrittenFrom.exists(!_.isAfter(java.time.LocalDate.parse(wm))))
          TempSweep.rm(new java.io.File(mvDir))
      }
      return 0L
    }
    val committed = pointer(mvDir)
    // drop the pointer (=> full rebuild) when the rewrite intersects
    // merged history; version numbering still continues from the
    // committed version so the swap/GC protocol is unaffected
    val cur = committed.filter { case (_, wm) =>
      rewrittenFrom.forall(_.isAfter(java.time.LocalDate.parse(wm)))
    }
    // the delta's days are the partition dirs past the watermark: a
    // listing, so an already-fresh view costs no Spark job at all
    val newDays = FactStore.partitionDays(factDir).filter(d =>
      cur.forall { case (_, wm) => d.isAfter(java.time.LocalDate.parse(wm)) })
    if (newDays.isEmpty) return 0L
    val fact = FactStore.read(spark, factDir)
    val delta = cur match {
      case Some((_, wm)) =>
        fact.filter(col("date") > lit(java.sql.Date.valueOf(wm)))
      case None => fact
    }

    val prev = cur.map { case (v, _) => version(spark, mvDir, v) }
    val sizes = (delta +: prev.toSeq).map(OnePartition.scanBytes)
    val single = sizes.forall(_.isDefined) && OnePartition.fits(spark, sizes.flatten.sum)
    def input(df: DataFrame) = if (single) df.coalesce(1) else df

    val deltaAgg = input(delta).groupBy("id", "value").agg(sum("count").as("count"))
    val merged = prev.map(p => input(p).unionByName(deltaAgg)
      .groupBy("id", "value").agg(sum("count").as("count"))
    ).getOrElse(deltaAgg)

    val nextV = committed.map(_._1 + 1).getOrElse(1L)
    merged.write.mode("overwrite").parquet(s"$mvDir/v$nextV")
    // the pointer flip is the commit point
    FactStore.saveCheckpoint(mvDir, PointerKey, s"$nextV|${newDays.max}")
    // GC every version dir except the one just committed AND its
    // predecessor: read() hands out LAZY frames, so a reader obtained
    // before this refresh still resolves files from the previous
    // version (readers are safe across ONE refresh; holding a frame
    // across two is documented out of scope). A crash can also orphan
    // a HIGHER version (vN written, pointer never flipped) — removed
    // here too. Best-effort: failures leave harmless unreferenced dirs.
    val keep = Set(nextV) ++ committed.map(_._1)
    Option(new java.io.File(mvDir).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v") &&
        scala.util.Try(f.getName.stripPrefix("v").toLong)
          .toOption.exists(!keep.contains(_)))
      .foreach(TempSweep.rm)
    newDays.size.toLong
  }
}
