package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.api.{Etl, Report, ReportCache}
import graft.filters.{Repeat, Robots}
import graft.ingest.AccessLog
import graft.model.{Context, DateUtils}
import graft.processors.AccessProcessors._
import graft.query.QueryCompiler
import graft.store.{FactStore, LifetimeMv}
import graft.views.FrontPage

/** The nightly ETL's config and the traced composition of `Etl.run`'s
  * steps. The nights run the downloads/views processor only: on 4
  * cores each of the other five adds about 2 s and 12 Spark jobs to a
  * night, which a run's time budget cannot carry. */
object EtlSteps {
  val Epoch: LocalDate = LocalDate.of(2024, 1, 1)
  val Datatypes = Seq("downloads", "views")

  def processors(spark: SparkSession) = Seq(DownloadsViews)

  def config(spark: SparkSession, logs: String, root: String, today: LocalDate,
      cache: Option[String] = None): Etl.Config =
    Etl.Config(logGlob = s"$logs/*/*.log.gz", factRoot = s"$root/facts",
      checkpointDir = s"$root/ckpt", processors = processors(spark), today = today,
      reportCacheDir = cache)

  /** Counts taken at the layer boundaries of one composed run. */
  final case class Boundary(linesInWindow: Long, repeatKept: Long, factRows: Long)

  /** `Etl.run`'s steps in its order and with its persists, each spanned:
    * read + line dedup → robots → repeat → each processor with its
    * day-count job → partition overwrite and stale-day clear → lifetime
    * MV → checkpoint → cache clear. Three jobs are the benchmark's own:
    * the counts that force the ingest, robots and repeat boundaries. The
    * robots output is not persisted, so the repeat filter recomputes it
    * as it does inside `Etl.run`. */
  def composed(spark: SparkSession, cfg: Etl.Config, t: Trace): Boundary = {
    val mem = StorageLevel.MEMORY_AND_DISK
    val from = FactStore.loadCheckpoint(cfg.checkpointDir, "access")
      .flatMap(DateUtils.parseDate).map(_.plusDays(1))
    val raw = t.span("ingest") {
      AccessLog.dedupLines(AccessLog.read(spark, cfg.logGlob, from))
        .filter(col("file_date") < lit(java.sql.Date.valueOf(cfg.today)))
        .filter(from.map(d => to_date(col("ts")) >= lit(java.sql.Date.valueOf(d)))
          .getOrElse(lit(true)))
        .persist(mem)
    }
    val inWindow = t.span("ingest")(raw.count())
    val robots = t.span("filters.robots") {
      Robots.filterRobots(raw, uaPatterns = cfg.uaPatterns, ipPrefixes = cfg.ipPrefixes)
        .filter(col("referent_id").isNotNull)
    }
    t.span("filters.robots")(robots.count())
    val filtered = t.span("filters.repeat") {
      Repeat.sequential(
        robots.withColumn("sec", unix_timestamp(col("ts")))
          .withColumn("key_doc", coalesce(col("referent_docid"), lit(-1)))
          .withColumn("tie", monotonically_increasing_id()),
        keyCols = Seq("requester_id", "referent_id", "key_doc"),
        secCol = "sec", timeout = cfg.repeatTimeoutSec, tieBreakCol = "tie").persist(mem)
    }
    val repeatKept = t.span("filters.repeat")(filtered.count())
    val written = cfg.processors.flatMap { p =>
      // the fact is computed by Etl.run's one day-count job per processor
      val (fact, perDayByDt) = t.span("processors") {
        val fact = p.process(filtered).persist(mem)
        val dtCol = if (p.provides.size == 1) lit(p.provides.head) else col("value")
        fact -> fact.groupBy(dtCol.as("dt"), date_format(col("date"), "yyyy-MM-dd").as("d"))
          .agg(count(lit(1)).as("c")).collect().groupBy(_.getString(0))
      }
      val outputs =
        if (p.provides.size == 1) Seq(p.provides.head -> fact)
        else p.provides.map(dt => dt -> fact.filter(col("value") === dt))
      val counts = t.span("store.write") {
        outputs.map { case (dt, df) =>
          val perDay = perDayByDt.getOrElse(dt, Array.empty[Row])
          val n = perDay.map(_.getLong(2)).sum
          if (n > 0) FactStore.overwritePartitions(df, s"${cfg.factRoot}/$dt")
          from.foreach(f => FactStore.clearPartitionsFrom(s"${cfg.factRoot}/$dt", Some(f),
            keep = perDay.map(_.getString(1)).toSet))
          dt -> n
        }
      }
      fact.unpersist()
      counts
    }.toMap
    if (cfg.maintainLifetimeMv) t.span("store.mv") {
      written.keys.foreach(dt => LifetimeMv.update(spark, s"${cfg.factRoot}/_mv/$dt",
        s"${cfg.factRoot}/$dt", rewrittenFrom = from))
    }
    val maxDay = raw.agg(max(col("file_date"))).head().getDate(0)
    if (maxDay != null) FactStore.saveCheckpoint(cfg.checkpointDir, "access", maxDay.toString)
    filtered.unpersist()
    raw.unpersist()
    if (written.valuesIterator.sum > 0) cfg.reportCacheDir.foreach(ReportCache.clear)
    Boundary(inWindow, repeatKept, written.valuesIterator.sum)
  }

  /** Wall time of `Etl.run` not covered by any of its jobs. */
  def driverGapS(jobs: Seq[JobRec], startNs: Long, endNs: Long): Double = {
    val iv = jobs.filter(_.endNs > 0).map(j => (j.startNs max startNs, j.endNs min endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (endNs - startNs - covered) / 1e9
  }

  /** Counters of the real `Etl.run` nights (span `etl.run`), averaged
    * per run: jobs, tasks and the driver-side gap, plus the engine
    * counters of its write and MV phases, whose jobs `Etl.run` itself
    * labels `etl: write <datatype>` and `etl: mv <datatype>`. */
  def realEtl(t: Trace): Map[String, Double] = {
    val runs = t.spans.filter(_.name == "etl.run")
    if (runs.isEmpty) Map.empty
    else {
      val all = t.jobsWhere(_.span == "etl.run")
      val gaps = runs.map(s => driverGapS(all.filter(j => j.startNs >= s.startNs && j.startNs <= s.endNs),
        s.startNs, s.endNs))
      Map("api.etl_jobs" -> all.size.toDouble / runs.size,
        "api.etl_tasks" -> all.map(_.tasks).sum.toDouble / runs.size,
        "api.etl_driver_gap_s" -> gaps.sum / runs.size) ++
        Layers.engine("store.write", t.engine("etl: write"), runs.size) ++
        Layers.engine("store.mv", t.engine("etl: mv"), runs.size)
    }
  }

  /** Per-layer numbers of composed runs, averaged per run. Parquet
    * writes are counted over every traced night (`nights`), composed or
    * real: both kinds write the same partitions. */
  def layerCounts(t: Trace, b: Seq[Boundary], nights: Int): Map[String, Double] = {
    val n = math.max(b.size, 1).toDouble
    val all = math.max(nights, 1).toDouble
    val ingest = t.engine("ingest")
    val read = ingest.recordsRead / n
    val inWin = b.map(_.linesInWindow).sum / n
    val writes = scala.jdk.CollectionConverters.CollectionHasAsScala(t.writes).asScala.toSeq
    val factWrites = writes.filter(w => !w._1.contains("/_mv/"))
    Map(
      "ingest.busy_s" -> t.busy("ingest") / n,
      "ingest.process_cpu_s" -> t.processCpu("ingest") / n,
      "ingest.lines_read" -> read,
      "ingest.lines_in_window" -> inWin,
      "ingest.window_ratio" -> (if (read > 0) inWin / read else 0.0),
      "filters.robots_busy_s" -> t.busy("filters.robots") / n,
      "filters.repeat_busy_s" -> t.busy("filters.repeat") / n,
      "filters.rows_in" -> inWin,
      "filters.rows_kept" -> b.map(_.repeatKept).sum / n,
      "filters.repeat_shuffle_bytes" -> t.engine("filters.repeat").shuffleWrite / n,
      "filters.repeat_spill_bytes" -> t.engine("filters.repeat").spill / n,
      "processors.busy_s" -> t.busy("processors") / n,
      "processors.fact_rows" -> b.map(_.factRows).sum / n,
      "processors.cpu_s" -> t.engine("processors").cpuNs / 1e9 / n,
      "store.write_busy_s" -> t.busy("store.write") / n,
      "store.files_written" -> factWrites.map(_._2).sum / all,
      "store.bytes_written" -> factWrites.map(_._3).sum / all,
      "store.mv_busy_s" -> t.busy("store.mv") / n,
      "store.mv_rows_read" -> t.engine("store.mv").recordsRead / n)
  }
}

/** The history is backfilled once before set-up. Each night starts from
  * the set-up state, closes the next day file, runs the incremental ETL,
  * re-warms the report cache and serves a burst of cached lookups. */
final class Nightly(spark: SparkSession, in: String, work: String) extends Workload {
  private val pending = new File(s"$in/pending")
  private val historyDays = Option(new File(s"$in/logs").listFiles).toSeq.flatten
    .flatMap(d => Option(d.listFiles).toSeq.flatten).size
  private val history = s"$work/history"
  private val root = s"$work/state"
  private val start = s"$work/start"
  private val logs = s"$root/logs"
  private val cache = s"$root/cache"
  private val historyEnd = EtlSteps.Epoch.plusDays(historyDays.toLong)
  private var today = historyEnd
  private val lookups = 200
  private var hits = 0L
  private var probes = 0L
  private val lookupMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var warmS = Vector.empty[Double]
  private var served = Vector.empty[(Map[String, String], Context, String, String)]

  private def cfg = EtlSteps.config(spark, logs, root, today, Some(cache))

  // the stored history every set-up starts from: one backfill over the
  // history day files, with the lifetime MV and the checkpoint
  copyTree(new File(s"$in/logs"), new File(s"$history/logs"))
  Etl.run(spark, EtlSteps.config(spark, s"$history/logs", history, historyEnd))

  private def dayFile(root: File, d: LocalDate) = new File(root, f"${d.getYear}%04d/$d.log.gz")

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).toSeq.flatten.foreach(f => copyTree(f, new File(to, f.getName)))
    } else {
      to.getParentFile.mkdirs()
      Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING): Unit
    }

  private def catalog(): QueryCompiler.Catalog = {
    val facts = EtlSteps.Datatypes.flatMap { dt =>
      val d = s"$root/facts/$dt"
      if (new File(d).isDirectory) Some(dt -> FactStore.read(spark, d)) else None
    }.toMap
    val mv = EtlSteps.Datatypes.flatMap(dt =>
      LifetimeMv.read(spark, s"$root/facts/_mv/$dt").map(dt -> _)).toMap
    QueryCompiler.Catalog(facts = facts, lifetime = mv)
  }

  /** The front-page trio plus a per-datatype summary: top-N over six
    * months, a six-month daily graph and the all-time top item. */
  private def specs: Seq[Report.Spec] = FrontPage.spec() +: EtlSteps.Datatypes.map { dt =>
    Report.Spec(s"summary_$dt", Context(datatype = dt), Seq(
      Report.Item("top", _.copy(fields = Seq("id"), range = Some("6m"), limit = Some(10))),
      Report.Item("graph", _.copy(fields = Seq("date"), range = Some("6m"))),
      Report.Item("all_time", _.copy(fields = Seq("id"), limit = Some(1)))))
  }

  private def warm(): Vector[(Map[String, String], Context, String, String)] = {
    val cat = catalog()
    specs.flatMap { spec =>
      val payloads = ReportCache.warm(cache, spec, cat, today)
      spec.items.map { item =>
        val ctx = item.overrides(spec.base).resolved(today)
        (ReportCache.paramsOf(ctx, item.view), ctx, spec.name, payloads(item.view))
      }
    }.toVector
  }

  /** Open the stored history as the live store and warm its reports. */
  def setup(): Unit = {
    Main.rm(new File(root))
    copyTree(new File(history), new File(root))
    today = historyEnd
    served = warm()
  }

  /** Every night starts from the state the last set-up left (kept in
    * `start` on the first night), so every night of a run does the same
    * work. The first night also warms the JIT; the median of the three
    * leaves it out. */
  private def restore(): Unit = {
    if (!new File(start).isDirectory) copyTree(new File(root), new File(start))
    else {
      Main.rm(new File(root))
      copyTree(new File(start), new File(root))
    }
    today = historyEnd
  }

  /** Close the next pending day file: the logger's rotation, untimed. */
  private def closeNextDay(): Unit = {
    val f = dayFile(pending, today)
    require(f.isFile, s"no pending day file for $today")
    copyTree(f, dayFile(new File(logs), today))
    today = today.plusDays(1)
  }

  private def burst(): Unit = {
    val rnd = new java.util.Random(today.toEpochDay)
    (0 until lookups).foreach { _ =>
      val (params, _, _, _) = served(rnd.nextInt(served.size))
      val t0 = System.nanoTime()
      val hit = ReportCache.lookup(cache, params)
      lookupMs += (System.nanoTime() - t0) / 1e6
      probes += 1
      if (hit.isDefined) hits += 1
    }
  }

  /** One night. Restoring the store, closing the day file before and the
    * lookup burst after are outside the measured window. */
  def op(i: Int): Op = {
    restore()
    closeNextDay()
    val (_, ms, cpuMs) = Main.measure {
      Etl.run(spark, cfg)
      val (w, s) = Main.timed(warm())
      served = w
      warmS :+= s
    }
    burst()
    Op(ms, cpuMs, ok = served.nonEmpty, "night")
  }

  def tracedOp(i: Int, t: Trace): Op = {
    restore()
    closeNextDay()
    val (_, ms, cpuMs) = Main.measure {
      if (i % 2 == 0) t.span("etl.run")(Etl.run(spark, cfg))
      else boundaries :+= EtlSteps.composed(spark, cfg, t)
      val (w, s) = Main.timed(t.span("api.warm")(warm()))
      served = w
      warmS :+= s
    }
    burst()
    Op(ms, cpuMs, ok = served.nonEmpty, if (i % 2 == 0) "night" else "composed")
  }
  private var boundaries = Vector.empty[EtlSteps.Boundary]

  /** After the last night: each lifetime MV equals its fact table's
    * all-time totals, and every payload the cache serves equals a fresh
    * render against the final store. (The facts themselves are recounted
    * independently from the day files after the JVM exits.) */
  def checks(): Seq[Check] = {
    val cat = catalog()
    val mvs = EtlSteps.Datatypes.map { dt =>
      val ok = (cat.facts.get(dt), cat.lifetime.get(dt)) match {
        case (Some(f), Some(mv)) =>
          val totals = f.groupBy("id", "value").agg(sum("count").as("count"))
          val m = mv.select("id", "value", "count")
          totals.exceptAll(m).isEmpty && m.exceptAll(totals).isEmpty
        case _ => false
      }
      Check(s"nightly.mv_equals_fact_totals.$dt", ok, if (ok) "" else "lifetime MV differs from SUM(facts)")
    }
    val payloads = served.map { case (params, ctx, report, payload) =>
      val fresh = graft.export.Export.toJson(QueryCompiler.compile(ctx, cat),
        context = Map("report" -> report, "view" -> params("view"), "datatype" -> ctx.datatype))
      val cached = ReportCache.lookup(cache, params)
      Check(s"nightly.cache_payload.$report.${params("view")}",
        cached.contains(fresh) && payload == fresh,
        if (cached.contains(fresh)) "" else "cached payload differs from a fresh render")
    }
    mvs ++ payloads
  }

  override def minOps: Int = 1
  override def minCycles: Int = 3
  // a traced run needs one real Etl.run night and one composed night
  override def minTracedOps: Int = 2

  def layers(t: Trace, traced: Seq[Op]): Map[String, Double] = {
    val sorted = lookupMs.sorted
    EtlSteps.layerCounts(t, boundaries, traced.size) ++ EtlSteps.realEtl(t) ++ Map(
      "api.cache_warm_s" -> (if (warmS.isEmpty) 0.0 else warmS.sum / warmS.size),
      "api.cache_lookup_ms" -> (if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)),
      "api.cache_hit_ratio" -> (if (probes == 0) 0.0 else hits.toDouble / probes))
  }
}
