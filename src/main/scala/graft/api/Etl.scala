package graft.api

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.filters.{Repeat, Robots}
import graft.ingest.AccessLog
import graft.processors.MetricProcessor
import graft.store.FactStore

/** Batch ETL orchestration — the `process_stats` entry point
  * (SURVEY.md §3 entry 3; ref `bin/stats/process_stats:24-159`):
  * scan day files → dedup → filter chain (robots, repeat) → metric
  * processor fan-out → per-datatype fact tables → checkpoint.
  *
  * Scale posture:
  *  - the raw events are read ONCE; the deduped events, the filtered
  *    events and each processor's fact are materialized once as eager
  *    serialized local checkpoints, and every later step reads those
  *    (the reference's single-pass fan-out, `Access.pm:259-351`);
  *  - a checkpoint, not `persist`: each of the three ends in a shuffle,
  *    and AQE may coalesce a CACHED plan's output partitions only when
  *    `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is
  *    true (the sessions leave it false). A persisted frame keeps all
  *    `initialPartitionNum` (8 x cores) partitions and every stage over
  *    it runs that many tasks; a checkpoint is taken from the finished
  *    AQE plan and keeps the coalesced count — on a one-day nightly
  *    run, a few partitions instead of `initialPartitionNum`;
  *  - the checkpoint blocks are released when the run returns OR
  *    throws, so a failed run pins no executor memory;
  *  - each datatype writes its own date-partitioned parquet table via
  *    dynamic partition overwrite, so reruns of a window are
  *    idempotent (`--from-date` semantics, St3);
  *  - the checkpoint records the newest fully-ingested day file;
  *    the next run lists only the day files after it
  *    ([[graft.ingest.AccessLog.read]] prunes at listing time).
  */
object Etl {

  final case class Config(
      logGlob: String,
      factRoot: String,
      checkpointDir: String,
      processors: Seq[MetricProcessor],
      repeatTimeoutSec: Long = 3600L,
      uaPatterns: Seq[String] = Robots.defaultUaPatterns,
      ipPrefixes: Seq[String] = Robots.defaultIpPrefixes,
      fromDate: Option[java.time.LocalDate] = None,
      /** Day files with this date or newer are considered still live
        * and skipped (St1 — the reference never ingests today's file,
        * `Access.pm:166-171`). Day files are named by UTC date and the
        * session runs in UTC, so the default MUST use the same clock —
        * a JVM-local "today" ahead of UTC would ingest (and checkpoint
        * past) the still-growing UTC day file, losing its later events.
        * Overridable for tests / backfills. */
      today: java.time.LocalDate =
        java.time.LocalDate.now(java.time.ZoneOffset.UTC),
      /** Refresh each datatype's lifetime-totals view after the write
        * (the reference's CacheDownloads/CacheViews ETL step, A5) —
        * incremental via [[graft.store.LifetimeMv]]; a backfill that
        * rewrites already-merged days triggers a full rebuild. */
      maintainLifetimeMv: Boolean = true,
      /** Report cache to invalidate once new facts land (the
        * reference clears `.ir2` files at the end of every ETL run,
        * `process_stats:144-159`); re-warming is the caller's call
        * via [[ReportCache.warm]] with its configured report specs. */
      reportCacheDir: Option[String] = None)

  /** Label the jobs of `body` in the Spark UI / listeners — phase
    * attribution for ops (which of the ~25 pipeline jobs is slow is
    * unanswerable from anonymous SQL-execution call sites). */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(s"etl: $name")
    try body finally spark.sparkContext.setJobDescription(null)
  }

  private val runSeq = new AtomicLong()

  /** One batch run; returns (datatype -> rows written). */
  def run(spark: SparkSession, cfg: Config): Map[String, Long] = {
    val run = s"Etl.run #${runSeq.incrementAndGet()}"
    try runPhases(spark, cfg, run)
    finally release(spark, _.startsWith(s"$run "))
  }

  /** Materialize a frame several later steps read (see "Scale
    * posture") as an eager serialized local checkpoint, in phase
    * `name`. Its RDD is created under the call site `<run> <name>`:
    * that is how [[release]] finds it — also when the eager job
    * failed, since Spark persists the RDD before the job runs and
    * never hands it back. */
  private def materialize(spark: SparkSession, run: String, name: String)(
      df: => DataFrame): DataFrame = phase(spark, name) {
    spark.sparkContext.setCallSite(s"$run $name")
    try df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    finally spark.sparkContext.clearCallSite()
  }

  /** Free (blocking) the checkpoints whose call site satisfies `site`. */
  private def release(spark: SparkSession, site: String => Boolean): Unit =
    GraftBridge.locallyCheckpointed(spark.sparkContext, site)
      .foreach(_.unpersist(blocking = true))

  private def runPhases(spark: SparkSession, cfg: Config,
      run: String): Map[String, Long] = {
    val from = cfg.fromDate.orElse(
      FactStore.loadCheckpoint(cfg.checkpointDir, "access")
        .flatMap(graft.model.DateUtils.parseDate)
        .map(_.plusDays(1)))

    val raw = materialize(spark, run, "ingest") {
      AccessLog.dedupLines(AccessLog.read(spark, cfg.logGlob, from))
        // St1 day watermark: a file dated today may still be growing —
        // skipping it (not checkpointing past it) is what makes the
        // checkpoint safe to advance.
        .filter(col("file_date") < lit(java.sql.Date.valueOf(cfg.today)))
        // Partition-safety clamp: facts are partitioned by EVENT date but
        // pruning is by FILE date; a late event spilling into a day
        // before `from` would otherwise make dynamic partition overwrite
        // replace that complete partition with just the spillover rows.
        .filter(from.map(d => to_date(col("ts")) >= lit(java.sql.Date.valueOf(d)))
          .getOrElse(lit(true)))
    }
    val filtered = materialize(spark, run, "filter") {
      Repeat.sequential(
        Robots.filterRobots(raw, uaPatterns = cfg.uaPatterns,
            ipPrefixes = cfg.ipPrefixes)
          // the reference never counts hits without an item id
          // ("return unless defined $epid")
          .filter(col("referent_id").isNotNull)
          .withColumn("sec", unix_timestamp(col("ts")))
          .withColumn("key_doc", coalesce(col("referent_docid"), lit(-1)))
          .withColumn("tie", monotonically_increasing_id()),
        keyCols = Seq("requester_id", "referent_id", "key_doc"),
        secCol = "sec", timeout = cfg.repeatTimeoutSec, tieBreakCol = "tie")
    }

    val written = cfg.processors.flatMap { p =>
      val dts = p.provides.mkString("/")
      val fact = materialize(spark, run, s"fact $dts")(p.process(filtered))
      // A multi-datatype processor (downloads/views) tags rows by
      // datatype in `value`; each datatype gets its OWN fact table —
      // the reference stores them as separate datasets too, and mixing
      // them would double-count undifferentiated queries.
      val outputs =
        if (p.provides.size == 1) Seq(p.provides.head -> fact)
        else p.provides.map(dt => dt -> fact.filter(col("value") === dt))
      // ONE driver job per PROCESSOR (not per datatype): the day-level
      // (datatype, day, count) rows for every provided datatype come
      // back in a single pass over the materialized fact — rows = #days x
      // #datatypes, still driver-tiny, but a multi-datatype processor
      // no longer pays one sequential job per datatype.
      // date_format, not cast: the keep set is compared against
      // `date=yyyy-MM-dd` partition dir names, and a processor that
      // emits a timestamp-typed date would cast to
      // 'yyyy-MM-dd HH:mm:ss' — the keep set would never match and
      // the diff-delete below would wipe the partitions just written
      val dtCol =
        if (p.provides.size == 1) lit(p.provides.head) else col("value")
      val perDayByDt = phase(spark, s"day-counts $dts") {
        fact
          .groupBy(dtCol.as("dt"),
            date_format(col("date"), "yyyy-MM-dd").as("d"))
          .agg(count(lit(1)).as("c")).collect()
          .groupBy(_.getString(0))
      }
      val counts = outputs.map { case (dt, df) =>
        val perDay = perDayByDt.getOrElse(dt,
          Array.empty[org.apache.spark.sql.Row])
        val n = perDay.map(_.getLong(2)).sum
        // n == 0 writes nothing: a parquet dir with no data files
        // breaks schema inference for later readers.
        if (n > 0) phase(spark, s"write $dt") {
          FactStore.overwritePartitions(df, s"${cfg.factRoot}/$dt")
        }
        // Backfill idempotency, write-THEN-delete: dynamic overwrite
        // only replaces days present in the recomputed frame, so a
        // previously-populated in-window day whose recount goes to
        // zero (e.g. tightened robot filters) must be deleted
        // explicitly — but only AFTER the new data is published, and
        // only the days ABSENT from the recomputed frame (diff-based
        // delete). A crash between the two steps then leaves a stale
        // partition the rerun removes, never an empty window that the
        // next incremental run (starting past it) would silently skip.
        // Deletion is gated on a KNOWN window start: with from=None
        // (first run / missing checkpoint) nothing is deleted — a lost
        // checkpoint must never be able to wipe a datatype's history.
        from.foreach { f =>
          FactStore.clearPartitionsFrom(s"${cfg.factRoot}/$dt", Some(f),
            keep = perDay.map(_.getString(1)).toSet)
        }
        dt -> n
      }
      release(spark, _ == s"$run fact $dts")
      counts
    }.toMap

    // A5 cache maintenance: refresh each written datatype's lifetime
    // view from its fact table. The MV dir lives under `_mv` beside
    // the datatype tables; `from` is passed as the rewritten-window
    // start so a backfill that touched already-merged days rebuilds
    // instead of double-merging.
    if (cfg.maintainLifetimeMv) written.keys.foreach { dt =>
      phase(spark, s"mv $dt") {
        graft.store.LifetimeMv.update(spark, s"${cfg.factRoot}/_mv/$dt",
          s"${cfg.factRoot}/$dt", rewrittenFrom = from): Unit
      }
    }

    // Checkpoint the newest fully-ingested FILE day, taken from the
    // PRE-filter scan: a closed day whose hits are all robots must
    // still advance the watermark or it would be re-ingested forever.
    val maxDay = phase(spark, "checkpoint watermark") {
      raw.agg(max(col("file_date"))).head().getDate(0)
    }
    if (maxDay != null)
      FactStore.saveCheckpoint(cfg.checkpointDir, "access", maxDay.toString)
    // new facts invalidate every pre-rendered dashboard payload
    if (written.valuesIterator.sum > 0)
      cfg.reportCacheDir.foreach(ReportCache.clear)
    written
  }
}
