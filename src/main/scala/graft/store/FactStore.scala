package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.model.FactRow
import graft.plans.OnePartition

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
  *  - a write clusters rows by day so each day dir gets one file per
  *    writing task; a fact already in one partition writes as it is;
  *  - the checkpoint is driver-side metadata (a few bytes), never a
  *    Spark job;
  *  - opening a table ([[read]]) lists the store's own day dirs on the
  *    driver and starts no Spark job at any day count.
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
    * column, not remove it. A fact whose plan reports one partition
    * (a nightly increment, [[graft.plans.OnePartition]]) already has
    * one task owning every day, one file per day dir, and skips the
    * shuffle. */
  private def clusterByDay(fact: DataFrame): DataFrame =
    if (OnePartition.reported(fact)) fact else fact.repartition(col("date"))

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
    }.foreach(TempSweep.rm)
    if (partitionDirs(root).isEmpty) TempSweep.rm(root)
  }

  /** The days a fact table holds, read from its `date=YYYY-MM-DD`
    * partition directory names — a listing, no Spark job. */
  def partitionDays(path: String): Seq[java.time.LocalDate] =
    partitionDirs(new java.io.File(path)).flatMap(d => scala.util.Try(
      java.time.LocalDate.parse(d.getName.stripPrefix("date="))).toOption)

  private def partitionDirs(root: java.io.File): Seq[java.io.File] =
    Option(root.listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("date="))

  /** Read a fact table; date-range filters prune partitions.
    *
    * Opening a table starts no Spark job at any day count. The store
    * fixes the schema ([[graft.model.FactRow.schema]]: every processor
    * writes (date, id long, value string, count long)), so nothing is
    * inferred from the files, and it lists its own `date=YYYY-MM-DD`
    * layout on the driver, the listing `partitionDays` and
    * `clearPartitionsFrom` already use. Spark's own discovery lists
    * more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) partition directories with a distributed job, one task per
    * day: 60 tasks to open a 60-day table. This store is POSIX-local
    * (it already does its directory surgery with `java.io.File`), so a
    * serial listing is a few hundred `stat`s on the driver, far below
    * one job's launch cost. Spark gets the listing through a
    * [[org.apache.spark.sql.execution.datasources.FileStatusCache]] of
    * an `InMemoryFileIndex` and plans partition values, pruning and
    * the column order `(id, value, count, date)` as for
    * `spark.read.schema(FactRow.schema).parquet(path)`. A refresh of
    * the index (`refreshByPath`, a write to a cached table's path)
    * drops the listing and lists through Spark again. A path that is
    * not a local directory reads through `spark.read`, which fails on
    * a missing table as before. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val root = new java.io.File(path).getAbsoluteFile
    if (!root.isDirectory) return spark.read.schema(FactRow.schema).parquet(path)
    // every path qualified as Spark's own listing qualifies it (file:///...)
    val fs = new Path(root.getPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def qualified(f: java.io.File) = fs.makeQualified(new Path(f.getPath))
    val rootPath = qualified(root)
    val block = fs.getDefaultBlockSize(rootPath)
    val files = partitionDirs(root).flatMap(dataFiles).map(f =>
      new FileStatus(f.length, false, 1, block, f.lastModified, qualified(f))).toArray
    val (partition, data) = FactRow.schema.partition(_.name == "date")
    val index = new InMemoryFileIndex(spark, Seq(rootPath), Map("path" -> path),
      Some(FactRow.schema), new Listed(rootPath, files))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, StructType(partition),
      StructType(data), None, new ParquetFileFormat, Map("path" -> path))(spark))
  }

  /** The data files of a day directory: those Spark would read there.
    * Like Spark's listing it skips names starting with `_` or `.`
    * (`_SUCCESS`, `.crc` checksums, `_temporary`) and files still being
    * copied in (`._COPYING_`); a subdirectory is not part of the layout. */
  private def dataFiles(day: java.io.File): Seq[java.io.File] =
    Option(day.listFiles).toSeq.flatten.filter { f =>
      val n = f.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
    }

  /** A file-status cache that answers the first listing of `root` with
    * the store's own listing and forgets it on invalidation, so a
    * refreshed index lists the directory again. */
  private final class Listed(root: Path, files: Array[FileStatus]) extends FileStatusCache {
    @volatile private var listing = Option(files)
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      listing.filter(_ => path == root)
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = listing = None
  }

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
    if (root.isDirectory) TempSweep.rm(root)
  }
}
