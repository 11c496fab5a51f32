package graft

import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Etl
import graft.classify.Geo
import graft.ingest.AccessLog
import graft.processors.AccessProcessors._
import graft.processors.MetricProcessor

/** Full process_stats-equivalent run: TSV day files -> filters ->
  * processor fan-out -> partitioned fact tables -> checkpoint. */
class EtlEndToEndSpec extends AnyFunSuite with SparkSpec {

  private def writeDay(dir: java.io.File, day: String, lines: Seq[String]): Unit = {
    val f = new java.io.File(dir, s"${day.take(4)}/$day.log.gz")
    f.getParentFile.mkdirs()
    val out = new GZIPOutputStream(new java.io.FileOutputStream(f))
    out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
  }

  test("full ETL run: ingest, filter, fan out, write facts, checkpoint") {
    val logs = Files.createTempDirectory("etl-logs").toFile
    val facts = Files.createTempDirectory("etl-facts").toString
    val ckpt = Files.createTempDirectory("etl-ckpt").toString

    writeDay(logs, "2024-03-01", Seq(
      // download from google with search terms, IP in geo range 1.x low
      "2024-03-01T10:00:00Z\t1.5.0.1\tMozilla/5.0 Chrome/99\thttps://www.google.com/search?q=dark+matter\tsvc\t12\t7",
      // double-click 10 min later (same ip/item/doc, within 1h) -> dropped
      "2024-03-01T10:10:00Z\t1.5.0.1\tMozilla/5.0 Chrome/99\thttps://www.google.com/search?q=dark+matter\tsvc\t12\t7",
      // abstract view (no docid), Firefox, direct
      "2024-03-01T11:00:00Z\t2.5.0.1\tMozilla/5.0 Firefox/115\t\tsvc\t12\t",
      // robot -> dropped
      "2024-03-01T12:00:00Z\t5.6.7.8\tGooglebot/2.1\thttps://x.com\tsvc\t12\t7"))
    writeDay(logs, "2024-03-02", Seq(
      "2024-03-02T09:00:00Z\t1.5.0.1\tOpera/9.80\t123\tsvc\t99\t8"))

    val cfg = Etl.Config(
      logGlob = logs.getAbsolutePath + "/*/*.log.gz",
      factRoot = facts, checkpointDir = ckpt,
      processors = Seq(DownloadsViews, DocDownloads,
        Countries(Geo.demoRanges(spark)), Browsers,
        Referrer("myrepo.org"), SearchTerms),
      today = java.time.LocalDate.of(2024, 3, 4))

    val written = Etl.run(spark, cfg)
    assert(written("downloads") > 0)

    // downloads and views land in SEPARATE fact tables (the reference
    // stores them as separate datasets): 1 download day1 (dup dropped),
    // 1 download day2; 1 view day1
    val dl = spark.read.parquet(s"$facts/downloads")
      .collect().map(r => (r.getAs[java.sql.Date]("date").toString,
        r.getAs[String]("value"), r.getAs[Long]("count"))).toSet
    assert(dl == Set(
      ("2024-03-01", "downloads", 1L),
      ("2024-03-02", "downloads", 1L)))
    val vw = spark.read.parquet(s"$facts/views")
      .collect().map(r => (r.getAs[java.sql.Date]("date").toString,
        r.getAs[String]("value"), r.getAs[Long]("count"))).toSet
    assert(vw == Set(("2024-03-01", "views", 1L)))

    // countries: both downloads from 1.x.0.1 -> US (octet 1)
    val cc = spark.read.parquet(s"$facts/countries")
      .collect().map(r => (r.getAs[String]("value"), r.getAs[Long]("count"))).toList
    assert(cc.forall(_._1 == "US") && cc.map(_._2).sum == 2)

    // search terms from the one kept google hit
    val terms = spark.read.parquet(s"$facts/search_terms")
      .collect().map(_.getAs[String]("value")).toSet
    assert(terms == Set("dark", "matter"))

    // browsers include Chrome, Firefox, Opera; no robot UA
    val browsers = spark.read.parquet(s"$facts/browsers")
      .collect().map(_.getAs[String]("value")).toSet
    assert(browsers == Set("Chrome", "Firefox", "Opera"))

    // checkpoint recorded the newest day
    assert(graft.store.FactStore.loadCheckpoint(ckpt, "access")
      .contains("2024-03-02"))

    // incremental rerun with a new day file only processes the new day;
    // a file dated `today` is still live and must be SKIPPED (St1)
    writeDay(logs, "2024-03-03", Seq(
      "2024-03-03T09:00:00Z\t3.5.0.1\tMozilla/5.0 Chrome/99\t\tsvc\t12\t9"))
    writeDay(logs, "2024-03-04", Seq(
      "2024-03-04T09:00:00Z\t3.5.0.1\tMozilla/5.0 Chrome/99\t\tsvc\t12\t9"))
    val written2 = Etl.run(spark, cfg)
    assert(written2("downloads") == 1L) // only the new CLOSED day's rows
    val dv2 = spark.read.parquet(s"$facts/downloads")
    assert(dv2.count() == 3) // days 1-2 intact + day 3; day 4 skipped
    assert(graft.store.FactStore.loadCheckpoint(ckpt, "access")
      .contains("2024-03-03")) // checkpoint NOT advanced past the live day

    // backfill whose recount goes to ZERO for a previously-populated
    // day: rerun 03-02 onward with Opera classified as a robot — the
    // only 03-02 download drops out, so its stale partition must be
    // CLEARED (dynamic overwrite alone would leave it); 03-01 is
    // outside the window and must survive
    val written3 = Etl.run(spark, cfg.copy(
      fromDate = Some(java.time.LocalDate.of(2024, 3, 2)),
      uaPatterns = graft.filters.Robots.defaultUaPatterns :+ "opera"))
    assert(written3("downloads") == 1L) // just day 3's download
    val dv3 = spark.read.parquet(s"$facts/downloads")
      .collect().map(_.getAs[java.sql.Date]("date").toString).toSet
    assert(dv3 == Set("2024-03-01", "2024-03-03"))

    // A5 cache maintenance ran on every phase: the lifetime view must
    // equal a full recompute even though the LAST run was a backfill
    // that REWROTE days already merged into it (full-rebuild path —
    // a delta merge here would have double-counted day 2's history)
    def totals(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(r.fieldIndex("id")),
        r.getString(r.fieldIndex("value")),
        r.getLong(r.fieldIndex("count")))).toSet
    val mv = graft.store.LifetimeMv.read(spark, s"$facts/_mv/downloads").get
    val full = spark.read.parquet(s"$facts/downloads")
      .groupBy("id", "value")
      .agg(org.apache.spark.sql.functions.sum("count").as("count"))
    assert(totals(mv) == totals(full))
  }

  /** Two closed days of the fixture above, and a config over them. */
  private def twoDays(): Etl.Config = {
    val logs = Files.createTempDirectory("etl-logs").toFile
    writeDay(logs, "2024-03-01", Seq(
      "2024-03-01T10:00:00Z\t1.5.0.1\tMozilla/5.0 Chrome/99\thttps://www.google.com/search?q=dark+matter\tsvc\t12\t7",
      "2024-03-01T11:00:00Z\t2.5.0.1\tMozilla/5.0 Firefox/115\t\tsvc\t12\t",
      "2024-03-01T12:00:00Z\t5.6.7.8\tGooglebot/2.1\thttps://x.com\tsvc\t12\t7"))
    writeDay(logs, "2024-03-02", Seq(
      "2024-03-02T09:00:00Z\t1.5.0.1\tOpera/9.80\t123\tsvc\t99\t8"))
    Etl.Config(
      logGlob = logs.getAbsolutePath + "/*/*.log.gz",
      factRoot = Files.createTempDirectory("etl-facts").toString,
      checkpointDir = Files.createTempDirectory("etl-ckpt").toString,
      processors = Seq(DownloadsViews, Browsers),
      today = java.time.LocalDate.of(2024, 3, 4))
  }

  private def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("Etl.run releases its intermediates when it throws and when it returns") {
    val cfg = twoDays()
    // fails inside the job that materializes its fact, after the
    // ingest and filter intermediates exist
    object Exploding extends MetricProcessor {
      val provides = Seq("boom")
      def process(events: DataFrame): DataFrame =
        events.select(F.to_date(F.col("ts")).as("date"),
          F.col("referent_id").as("id"),
          F.raise_error(F.lit("processor failed")).cast("string").as("value"),
          F.lit(1L).as("count"))
    }
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(cacheManagerEmpty)
    val e = intercept[Exception](
      Etl.run(spark, cfg.copy(processors = DownloadsViews +: Seq(Exploding))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("processor failed")))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      sc.getPersistentRDDs.values.mkString("; "))
    assert(cacheManagerEmpty)

    assert(Etl.run(spark, cfg)("downloads") == 2L)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      sc.getPersistentRDDs.values.mkString("; "))
    assert(cacheManagerEmpty)
  }

  /** Run `cfg` with a listener: (rows written, job descriptions,
    * per stage (tasks, wrote shuffle output, partition counts of
    * stored RDDs)). */
  private def traced(cfg: Etl.Config)
      : (Map[String, Long], Seq[String], Seq[(Int, Boolean, Seq[Int])]) = {
    val jobs = mutable.ArrayBuffer.empty[String]
    val stages = mutable.ArrayBuffer.empty[(Int, Boolean, Seq[Int])]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val i = s.stageInfo
          stages += ((i.numTasks,
            i.taskMetrics.shuffleWriteMetrics.recordsWritten > 0,
            i.rddInfos.filter(_.storageLevel.isValid).map(_.numPartitions)))
        }
    }
    val written = SpecBus.listening(spark.sparkContext, listener)(Etl.run(spark, cfg))
    (written, jobs.toSeq, stages.toSeq)
  }

  /** Every fact row and lifetime-view row of a run's store, by table. */
  private def contents(cfg: Etl.Config): Map[String, Set[String]] = {
    val dts = Seq("downloads", "views", "browsers")
    dts.map(dt => dt -> spark.read.parquet(s"${cfg.factRoot}/$dt")
      .collect().map(_.toString).toSet).toMap ++
      dts.map(dt => s"mv $dt" -> graft.store.LifetimeMv.read(spark, s"${cfg.factRoot}/_mv/$dt")
        .get.collect().map(_.toString).toSet)
  }

  test("Etl.run on a night within the size rule: one task per stage, no shuffle, no decision job") {
    val cfg = twoDays()
    val (written, jobs, stages) = traced(cfg)
    assert(written("downloads") == 2L)
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.startsWith("etl: ")), jobs.mkString("; "))
    // the day counts and the watermark are observed on jobs that run anyway
    assert(!jobs.exists(j => j.contains("day-counts") || j.contains("checkpoint watermark")),
      jobs.mkString("; "))
    assert(stages.nonEmpty && !stages.exists(_._2), s"a stage wrote shuffle output: $stages")
    assert(stages.forall(_._1 == 1), s"stage task counts ${stages.map(_._1)}")
    assert(graft.store.FactStore.loadCheckpoint(cfg.checkpointDir, "access")
      .contains("2024-03-02"))
  }

  test("Etl.run: every job labeled, no stage after the first shuffle at initialPartitionNum tasks") {
    val initial = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
    val small = twoDays()
    Etl.run(spark, small)
    // the same night above the size rule: today's parallel plans
    val cfg = twoDays()
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    val (written, jobs, stages) =
      try traced(cfg) finally spark.conf.unset("spark.sql.files.openCostInBytes")
    assert(written("downloads") == 2L)

    assert(jobs.nonEmpty)
    assert(jobs.forall(_.startsWith("etl: ")), jobs.mkString("; "))
    // the three shared intermediates (ingest, filter, fact) are stored
    // with AQE's coalesced partition count, not the initial one
    val stored = stages.flatMap(_._3)
    assert(stored.size >= 3 && stored.forall(_ < initial),
      s"stored partition counts $stored, initialPartitionNum $initial")
    val firstShuffle = stages.indexWhere(_._2)
    assert(firstShuffle >= 0)
    val after = stages.drop(firstShuffle + 1).map(_._1)
    assert(after.nonEmpty && after.forall(_ < initial),
      s"task counts after the first shuffle $after, initialPartitionNum $initial")
    // one partition or many, the store holds the same rows
    assert(contents(cfg) == contents(small))
  }

  /** Every file under `root` with its length and modification time. */
  private def snapshot(root: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(root)).map(f =>
      (f.getPath.stripPrefix(root), f.length, f.lastModified)).toSet
  }

  test("a closed day whose hits are all robots advances the checkpoint and writes no fact row") {
    val cfg = twoDays()
    assert(Etl.run(spark, cfg)("downloads") == 2L)
    val before = snapshot(cfg.factRoot)
    val logs = new java.io.File(cfg.logGlob).getParentFile.getParentFile
    writeDay(logs, "2024-03-03", Seq(
      "2024-03-03T09:00:00Z\t5.6.7.8\tGooglebot/2.1\thttps://x.com\tsvc\t12\t7",
      "2024-03-03T10:00:00Z\t5.6.7.9\tbingbot/2.0\t\tsvc\t13\t"))
    val written = Etl.run(spark, cfg.copy(today = java.time.LocalDate.of(2024, 3, 5)))
    assert(written.values.forall(_ == 0L), written)
    assert(graft.store.FactStore.loadCheckpoint(cfg.checkpointDir, "access")
      .contains("2024-03-03"))
    assert(snapshot(cfg.factRoot) == before)
  }

  test("a run with no new closed day file writes nothing, moves nothing and returns") {
    val cfg = twoDays()
    assert(Etl.run(spark, cfg)("downloads") == 2L)
    val checkpoint = graft.store.FactStore.loadCheckpoint(cfg.checkpointDir, "access")
    val before = snapshot(cfg.factRoot)
    assert(before.exists(_._1.endsWith("mv_current.ckpt")), before)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    def nothingMoves(): Unit = {
      val written = Await.result(Future(Etl.run(spark, cfg)),
        scala.concurrent.duration.Duration(120, "s"))
      assert(written == Map("downloads" -> 0L, "views" -> 0L, "browsers" -> 0L))
      assert(graft.store.FactStore.loadCheckpoint(cfg.checkpointDir, "access") == checkpoint)
      assert(snapshot(cfg.factRoot) == before)
    }
    // every listed file is dated before the checkpoint: nothing is read
    nothingMoves()
    // a live (today) file is listed but holds no closed day
    val logs = new java.io.File(cfg.logGlob).getParentFile.getParentFile
    writeDay(logs, "2024-03-04", Seq(
      "2024-03-04T09:00:00Z\t3.5.0.1\tMozilla/5.0 Chrome/99\t\tsvc\t12\t9"))
    nothingMoves()
  }

  test("AccessLog.read sizes a gzip day file by its text, not its bytes on disk") {
    val logs = Files.createTempDirectory("etl-logs").toFile
    val lines = (0 until 200).map(i =>
      f"2024-03-01T10:${i % 60}%02d:00Z\t1.5.0.1\tMozilla/5.0 Chrome/99\t\tsvc\t12\t7")
    writeDay(logs, "2024-03-01", lines)
    val text = (lines.mkString("\n") + "\n").getBytes("UTF-8").length.toLong
    val gz = new java.io.File(logs, "2024/2024-03-01.log.gz").length
    assert(gz < text / 4, s"$gz gzip bytes, $text text bytes")
    def single(limit: Long): Boolean = {
      spark.conf.set("spark.sql.files.openCostInBytes", limit.toString)
      try graft.plans.OnePartition.reported(AccessLog.read(spark, logs.getAbsolutePath + "/*/*.log.gz"))
      finally spark.conf.unset("spark.sql.files.openCostInBytes")
    }
    assert(single(text))
    assert(!single(text - 1))
    assert(!single(gz))
  }

  test("day files dated before the checkpoint are never opened") {
    val cfg = twoDays()
    assert(Etl.run(spark, cfg)("downloads") == 2L)
    val logs = new java.io.File(cfg.logGlob).getParentFile.getParentFile
    // day 1 is behind the checkpoint (2024-03-02); a corrupt (non-gzip)
    // file in its place fails any run that opens it
    val corrupt = new java.io.File(logs, "2024/2024-03-01.log.gz")
    Files.write(corrupt.toPath, "not gzip".getBytes("UTF-8"))
    writeDay(logs, "2024-03-03", Seq(
      "2024-03-03T09:00:00Z\t3.5.0.1\tMozilla/5.0 Chrome/99\t\tsvc\t12\t9"))
    assert(Etl.run(spark, cfg)("downloads") == 1L)
    assert(graft.store.FactStore.loadCheckpoint(cfg.checkpointDir, "access")
      .contains("2024-03-03"))

    val from = Some(java.time.LocalDate.of(2024, 3, 2))
    val read = AccessLog.read(spark, cfg.logGlob, from)
    assert(read.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted
      .toSeq == Seq("2024-03-02.log.gz", "2024-03-03.log.gz"))
    // nothing left after pruning: an empty frame of the same columns
    val none = AccessLog.read(spark, cfg.logGlob, Some(java.time.LocalDate.of(2024, 4, 1)))
    assert(none.columns.toSeq == read.columns.toSeq && none.count() == 0L)
  }
}
