package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.model.FactRow

/** Fact-table storage (SURVEY.md §2.1 S6/S7, §2.9 St2/St3):
  * date-partitioned parquet per datatype, idempotent backfill, and a
  * tiny checkpoint file for incremental runs.
  *
  * Scale posture:
  *  - facts are partitioned by `date` — every query's F8 date-range
  *    predicate becomes partition pruning (no I/O outside the range),
  *    and daily ingest appends exactly one partition;
  *  - reprocessing a window (`--from-date` semantics, ref
  *    `Handler.pm:756-771` DELETE + re-scan) maps to DYNAMIC partition
  *    overwrite: only the recomputed day partitions are replaced,
  *    atomically per partition — the idempotent-backfill pattern;
  *  - the checkpoint is driver-side metadata (a few bytes), never a
  *    Spark job.
  */
object FactStore {

  /** Cluster rows by the partition column before a partitionBy write.
    * Without this every upstream task writes its own file into EVERY
    * day dir it touches — N tasks x D days small files per table (the
    * dominant cost of the whole ETL run once measured: 3,840 tiny
    * parquet files + committer renames per table at 32 tasks x 120
    * days). One hash shuffle on `date` makes each task own whole
    * days — file count drops to ~D. Day volume is bounded by the
    * daily pre-aggregation (rows per day = distinct (id, value)), so
    * a one-task-per-day write does not skew at scale; a deployment
    * with genuinely huge single days would salt this with a second
    * column, not remove it. */
  private def clusterByDay(fact: DataFrame): DataFrame =
    fact.repartition(col("date"))

  /** Append daily fact rows (date, id, value, count) partitioned by date. */
  def append(fact: DataFrame, path: String): Unit =
    clusterByDay(fact).write.mode("append").partitionBy("date").parquet(path)

  /** St3 idempotent backfill: replace exactly the day partitions
    * present in `fact`, leave all others untouched. The overwrite mode
    * is set per-write (NOT on the shared session conf, which would
    * silently change the semantics of every later partitioned
    * overwrite in the same session). */
  def overwritePartitions(fact: DataFrame, path: String): Unit =
    clusterByDay(fact).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").parquet(path)

  /** Clear the day partitions of a fact table from `from` onward (all
    * partitions when `from` is None), except days listed in `keep`.
    * Complements dynamic overwrite in a backfill: overwrite only
    * replaces days PRESENT in the recomputed frame, so in-window days
    * whose recount went to zero must be deleted explicitly or the
    * rerun is not idempotent. Callers run this AFTER the overwrite
    * with `keep` = the recomputed frame's days (diff-based delete):
    * a crash mid-backfill then leaves at worst a stale partition that
    * the same rerun removes — never an empty window that a later
    * incremental run (starting past it) would silently skip.
    * Driver-side directory surgery — the partition layout
    * (`date=YYYY-MM-DD` subdirs) is the table format this store owns.
    * If no partitions remain afterwards the table root is removed too:
    * an empty parquet dir (just `_SUCCESS`) breaks schema inference,
    * whereas an absent table reads as "no data yet", same as before
    * its first write. */
  def clearPartitionsFrom(path: String,
      from: Option[java.time.LocalDate],
      keep: Set[String] = Set.empty): Unit = {
    val root = new java.io.File(path)
    if (!root.isDirectory) return
    partitionDirs(root).filter { d =>
      val day = d.getName.stripPrefix("date=")
      !keep.contains(day) && (from match {
        case None => true
        case Some(f) =>
          scala.util.Try(java.time.LocalDate.parse(day))
            .toOption.exists(!_.isBefore(f))
      })
    }.foreach(rm)
    if (partitionDirs(root).isEmpty) rm(root)
  }

  /** The days a fact table holds, read from its `date=YYYY-MM-DD`
    * partition directory names — a listing, no Spark job. */
  def partitionDays(path: String): Seq[java.time.LocalDate] =
    partitionDirs(new java.io.File(path)).flatMap(d => scala.util.Try(
      java.time.LocalDate.parse(d.getName.stripPrefix("date="))).toOption)

  private def partitionDirs(root: java.io.File): Seq[java.io.File] =
    Option(root.listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("date="))

  /** Read a fact table; date-range filters prune partitions. The
    * store fixes the schema ([[graft.model.FactRow.schema]]: every
    * processor writes (date, id long, value string, count long)), so
    * it is passed and opening a table runs no schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FactRow.schema).parquet(path)

  /** St2 checkpoint: last fully-processed position (e.g. day or id),
    * stored as a one-line file — the analog of the reference's
    * `current_<key>` internal rows (ref `Handler.pm:80-124`).
    * Written to a temp file and atomically renamed into place: the
    * checkpoint is a commit point (LifetimeMv's pointer flip, Etl's
    * watermark), and an in-place truncate-then-write can be torn by a
    * crash into a half-record that poisons every later run. */
  def saveCheckpoint(dir: String, key: String, value: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s"$key.ckpt.tmp")
    Files.write(tmp, value.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    try
      Files.move(tmp, Paths.get(dir, s"$key.ckpt"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      // non-atomic fallback for filesystems without rename atomicity
      Files.move(tmp, Paths.get(dir, s"$key.ckpt"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def loadCheckpoint(dir: String, key: String): Option[String] = {
    val p = Paths.get(dir, s"$key.ckpt")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

  /** Execute the compaction the o15 query plans: rewrite the
    * partitioned fact table so every day partition holds files of at
    * most `targetRows` rows, collapsing the many small files that
    * incremental appends accumulate (each daily append = one-plus
    * files per partition; a year of appends = hundreds of tiny files
    * whose open/footer cost dominates the scan). One distributed
    * read + one dynamic-partition overwrite: `maxRecordsPerFile`
    * does the splitting inside the writer, so no driver-side file
    * surgery and no extra shuffle beyond the write's own
    * partitioning. Safe to re-run (idempotent); crash mid-write
    * leaves the old partitions in place (dynamic overwrite commits
    * per partition). Returns (date, n_rows) per compacted day for
    * audit. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetRows: Int = 500000): DataFrame = {
    val df = read(spark, path)
    // stable row order within partitions so repeated compactions are
    // byte-identical, not just row-set-identical
    val ordered = df.repartition(col("date"))
      .sortWithinPartitions("date", "id", "value")
    // materialize before overwriting the same path — Spark rejects
    // writes whose input scan reads the output location otherwise —
    // and free the snapshot once written. At warehouse scale compact
    // to a new root and swap instead; the in-place form is for the
    // day-window a backfill just touched, which fits executor storage.
    Materialize.scope(spark, "FactStore.compact") { m =>
      m("snapshot")(ordered).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", targetRows.toLong)
        .partitionBy("date").parquet(path)
    }
    read(spark, path).groupBy("date")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_rows"))
      .orderBy("date")
  }

  /** S8 uninstall (ref `Handler.pm:1411-1430` drops `irstats2_%`):
    * remove every fact table under the root. Parquet dirs are the
    * tables, so uninstall is a recursive delete. */
  def uninstall(factRoot: String): Unit = {
    val root = new java.io.File(factRoot)
    if (root.isDirectory) rm(root)
  }
}
