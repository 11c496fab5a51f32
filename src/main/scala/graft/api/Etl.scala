package graft.api

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.filters.{Repeat, Robots}
import graft.ingest.AccessLog
import graft.processors.MetricProcessor
import graft.store.{FactStore, Materialize}

/** Batch ETL orchestration — the `process_stats` entry point
  * (SURVEY.md §3 entry 3; ref `bin/stats/process_stats:24-159`):
  * scan day files → dedup → filter chain (robots, repeat) → metric
  * processor fan-out → per-datatype fact tables → checkpoint.
  *
  * Scale posture:
  *  - the raw events are read ONCE, by the job that materializes the
  *    filtered events; the filtered events and each processor's fact
  *    are materialized once with [[graft.store.Materialize]], and every
  *    later step reads those (the reference's single-pass fan-out,
  *    `Access.pm:259-351`); they are released when the run returns OR
  *    throws, so a failed run pins no executor memory;
  *  - the driver's decisions ride on those jobs as `Observation`s, not
  *    jobs of their own: the checkpoint watermark (max file day, taken
  *    before any filter) on the filter job, each datatype's row count
  *    and days on its processor's fact job;
  *  - a night whose day files fit one task (the size rule of
  *    [[graft.plans.OnePartition]]) runs as one partition end to end:
  *    the scan is read as one partition, and the line dedup, the
  *    repeat filter, the processors' aggregates, the fact writes and
  *    the lifetime-view merge each plan no exchange, one job of one
  *    task per materialization, write and merge. A larger window (a
  *    backfill) keeps the parallel plans;
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
    * attribution for ops (which of the pipeline jobs is slow is
    * unanswerable from anonymous SQL-execution call sites). */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(s"etl: $name")
    try body finally spark.sparkContext.setJobDescription(null)
  }

  /** One batch run; returns (datatype -> rows written). */
  def run(spark: SparkSession, cfg: Config): Map[String, Long] =
    Materialize.scope(spark, "Etl.run")(runPhases(spark, cfg, _))

  private def runPhases(spark: SparkSession, cfg: Config,
      m: Materialize.Scope): Map[String, Long] = {
    // a frame several later steps read, materialized in phase `name`
    def pin(name: String)(df: => DataFrame): DataFrame =
      phase(spark, name)(m(name)(df))
    val from = cfg.fromDate.orElse(
      FactStore.loadCheckpoint(cfg.checkpointDir, "access")
        .flatMap(graft.model.DateUtils.parseDate)
        .map(_.plusDays(1)))

    // Checkpoint the newest fully-ingested FILE day, observed before
    // the robots and repeat filters: a closed day whose hits are all
    // robots must still advance the watermark or it would be
    // re-ingested forever.
    val watermark = Observation()
    val raw = AccessLog.dedupLines(AccessLog.read(spark, cfg.logGlob, from))
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
      .observe(watermark, max(col("file_date")).as("day"))
    val filtered = pin("filter") {
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
      // Each provided datatype's row count and `yyyy-MM-dd` days are
      // observed on the job that materializes the fact: no driver job
      // of its own. date_format, not cast: the days are compared
      // against `date=yyyy-MM-dd` partition dir names, and a processor
      // that emits a timestamp-typed date would cast to
      // 'yyyy-MM-dd HH:mm:ss' — the keep set would never match and
      // the diff-delete below would wipe the partitions just written
      val dtCol =
        if (p.provides.size == 1) lit(p.provides.head) else col("value")
      val day = date_format(col("date"), "yyyy-MM-dd")
      val perDt = Observation()
      val stats = p.provides.indices.flatMap { i =>
        val mine = dtCol === p.provides(i)
        Seq(count(when(mine, 1)).as(s"n$i"), collect_set(when(mine, day)).as(s"days$i"))
      }
      val fact = pin(s"fact $dts")(p.process(filtered).observe(perDt, stats.head, stats.tail: _*))
      val seen = perDt.get
      // A multi-datatype processor (downloads/views) tags rows by
      // datatype in `value`; each datatype gets its OWN fact table —
      // the reference stores them as separate datasets too, and mixing
      // them would double-count undifferentiated queries.
      val counts = p.provides.zipWithIndex.map { case (dt, i) =>
        val df = if (p.provides.size == 1) fact else fact.filter(col("value") === dt)
        val n = seen(s"n$i").asInstanceOf[Long]
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
            keep = seen(s"days$i").asInstanceOf[Iterable[String]].toSet)
        }
        dt -> n
      }
      m.release(fact)
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

    // the filter's job observed the watermark; null when no row was read
    Option(watermark.get("day")).foreach(d =>
      FactStore.saveCheckpoint(cfg.checkpointDir, "access", d.toString))
    // new facts invalidate every pre-rendered dashboard payload
    if (written.valuesIterator.sum > 0)
      cfg.reportCacheDir.foreach(ReportCache.clear)
    written
  }
}
