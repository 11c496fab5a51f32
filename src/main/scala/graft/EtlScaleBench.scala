package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Etl
import graft.classify.Geo
import graft.processors.AccessProcessors._

/** End-to-end ETL scale rehearsal (round-9 verdict item 5): the query
  * board has sf1/30x artifacts, but the `process_stats`-equivalent
  * pipeline (ingest → line dedup → robots → sequential repeat →
  * 6-processor fan-out → partitioned fact tables → checkpoint) had
  * only a 100k-record measurement. This harness synthesizes 100+
  * gzip TSV day files from the sf0.1 events table at TWO record
  * counts (default 200k and 1M), runs the COMPLETE `Etl.run` at each,
  * and emits one JSON line per scale plus the large/small throughput
  * ratio — the linearity evidence `EtlScaleGateSpec` pins from the
  * committed `ETL_SCALE.json`.
  *
  * Generation is deterministic (key arithmetic, no rand): each record
  * gets a day in a fixed 120-day window, a second-of-day, an IP, a UA
  * and a referrer derived from (event_id, copy). ~4% robot UAs and
  * ~2.4% robot IPs exercise the filters; requester/item key reuse
  * across a bounded space gives the sequential repeat filter real
  * per-key event chains (the step to watch — its per-key secondary
  * sort is the only non-codegen stage in the pipeline).
  *
  * Day files are written via `partitionBy("day")` after a
  * `repartition($"day")`, so each day lands as ONE gzip part file in
  * its own `day=YYYY-MM-DD/` dir — `AccessLog.read` derives
  * `file_date` from the dir name (same `(\d{4}-\d{2}-\d{2})` extract
  * as the reference's YYYY/YYYY-MM-DD.log.gz layout) and gzip keeps
  * the reference's one-task-per-day-file parallelism unit.
  *
  * Usage: `sbt "runMain graft.EtlScaleBench [workDir] [smallCopies] [largeCopies]"`
  * (defaults target/etlscale 2 10 — 200k / 1M records from the
  * 100k-row sf0.1 events table).
  */
object EtlScaleBench {

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("target/etlscale")
    val smallCopies = args.lift(1).map(_.toInt).getOrElse(2)
    val largeCopies = args.lift(2).map(_.toInt).getOrElse(10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val days = 120
    val spark = GraftSession.create()

    // Per-job wall clock: the pipeline is ~25 driver jobs (ingest,
    // repeat shuffle, 6 processor collects, 7 partitioned writes, 7 MV
    // refreshes, checkpoint); this listener attributes the fixed cost
    // instead of guessing.
    val jobSecs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobDur = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(j.properties)
            .map(_.getProperty("spark.job.description", "")).getOrElse("")
          jobSecs.put(j.jobId, (System.nanoTime(), desc)); ()
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobSecs.get(j.jobId)).foreach { case (t0, _) =>
            jobDur.put(j.jobId, (System.nanoTime() - t0) / 1e9) }
          ()
        }
      })

    def runEtl(label: String, logDir: String, suffix: String): (Long, Double) = {
      val factRoot = s"$work/facts_$label$suffix"
      val ckptDir = s"$work/ckpt_$label$suffix"
      deleteRec(new java.io.File(factRoot))
      deleteRec(new java.io.File(ckptDir))
      jobDur.clear(); jobSecs.clear()
      val t0 = System.nanoTime()
      val written = Etl.run(spark, Etl.Config(
        logGlob = s"$logDir/day=*/*.gz",
        factRoot = factRoot, checkpointDir = ckptDir,
        processors = Seq(DownloadsViews, DocDownloads,
          Countries(Geo.demoRanges(spark)), Browsers,
          Referrer("myrepo.org"), SearchTerms),
        // generated days are historical; don't let "today" clip them
        today = java.time.LocalDate.of(2025, 1, 1)))
      val sec = (System.nanoTime() - t0) / 1e9
      val top = {
        import scala.jdk.CollectionConverters._
        val descs = jobSecs.asScala
        jobDur.asScala.toSeq.sortBy(-_._2).take(8).map { case (id, d) =>
          val desc = descs.get(id).map(_._2.take(45)).getOrElse("")
          f"job$id ${d}%.1fs [$desc]"
        }.mkString("; ")
      }
      System.err.println(
        f"[etlscale] $label$suffix wall ${sec}%.1fs, ${jobDur.size} jobs, " +
          s"top: $top")
      (written.valuesIterator.sum, sec)
    }

    val gens = Seq("small" -> smallCopies, "large" -> largeCopies).map {
      case (label, copies) =>
        val logDir = s"$work/logs_$label"
        (label, logDir, genDayFiles(spark, sfDir, logDir, copies, days))
    }
    // untimed warmup pass over the SMALL backlog: codegen, parquet
    // committers, JIT — so the timed small and large legs compare
    // equally-warm JVMs (the first protocol draft timed small cold
    // and large warm, inflating the apparent scaling headroom)
    runEtl(gens.head._1, gens.head._2, "_warm")
    val results = gens.map { case (label, logDir, n) =>
      val (facts, sec) = runEtl(label, logDir, "")
      println(f"""{"etl_scale":"$label","records":$n,"days":$days,"sec":$sec%.2f,"records_per_sec":${(n / sec).toLong},"fact_rows":$facts}""")
      (label, n, sec, facts)
    }
    val (_, nS, sS, _) = results.head
    val (_, nL, sL, _) = results.last
    // throughput ratio large/small: 1.0 = perfectly linear scaling;
    // the gate allows sub-linearity down to 0.5 (fixed per-run costs
    // amortize, but a super-linear stage — e.g. the repeat filter's
    // per-key sort degrading — drives this toward 0)
    val ratio = (nL / sL) / (nS / sS)
    val line =
      f"""{"metric":"etl_scale","small_records":$nS,"small_sec":$sS%.2f,"large_records":$nL,"large_sec":$sL%.2f,"throughput_ratio":$ratio%.3f,"days":$days}"""
    println(line)
    val w = new java.io.PrintWriter("ETL_SCALE.json", "UTF-8")
    try w.println(line) finally w.close()
    spark.stop()
  }

  /** Synthesize `copies` x events-table day-file TSVs under `outDir`
    * (one gzip file per day dir). Returns the record count. */
  def genDayFiles(spark: SparkSession, sfDir: String, outDir: String,
      copies: Int, days: Int): Long = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val base = ev.withColumn("cp", explode(sequence(lit(0), lit(copies - 1))))
      .withColumn("eid", col("event_id") * copies + col("cp"))
      .withColumn("uid", coalesce(col("user_id"), lit(0L)))
    // deterministic day + second-of-day from key arithmetic
    val dated = base
      .withColumn("dayIdx", pmod(col("eid") * 2654435761L, lit(days)))
      .withColumn("day", date_add(lit("2024-01-01").cast("date"), col("dayIdx").cast("int")))
      .withColumn("sod", pmod(col("eid") * 7919L + col("cp") * 131L, lit(86400)))
      .withColumn("datestamp", concat(
        date_format(col("day"), "yyyy-MM-dd"), lit("T"),
        lpad((col("sod") / 3600).cast("int").cast("string"), 2, "0"), lit(":"),
        lpad(((col("sod") % 3600) / 60).cast("int").cast("string"), 2, "0"), lit(":"),
        lpad((col("sod") % 60).cast("string"), 2, "0"), lit("Z")))
    // bounded requester space (repeat-filter pressure) + ~2.4% robot IPs
    val ip = when(col("eid") % 41 === 0,
        concat(lit("66.249."), pmod(col("eid"), lit(256)).cast("int"), lit(".1")))
      .otherwise(concat_ws(".",
        pmod(col("uid"), lit(200)).cast("int") + 1,
        pmod(col("uid") * 7, lit(250)).cast("int"),
        pmod(col("eid"), lit(50)).cast("int"), lit("9")))
    // ~4% robot UAs; humans follow the event_type mix
    val ua = when(col("eid") % 23 === 0,
        lit("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"))
      .when(col("event_type") === "view", lit("Mozilla/5.0 (X11; Linux) Chrome/99.0 Safari/537"))
      .when(col("event_type") === "click", lit("Mozilla/5.0 (Windows) Firefox/115.0"))
      .when(col("event_type") === "purchase", lit("Opera/9.80 (Macintosh)"))
      .otherwise(lit("Mozilla/5.0 (Macintosh) Safari/605.1.15"))
    val ref = when(col("eid") % 5 === 0,
        lit("https://www.google.com/search?q=spark+scale+test"))
      .when(col("eid") % 5 === 1, lit("https://myrepo.org/123"))
      .when(col("eid") % 5 === 2, lit(""))
      .otherwise(lit("https://partner.example.com/docs"))
    val item = pmod(col("uid") * 13 + col("eid") % 7, lit(5000)).cast("int") + 1
    val docid = when(col("eid") % 2 === 0,
      (pmod(col("eid"), lit(3)) + 1).cast("int").cast("string")).otherwise(lit(""))
    val lines = dated.select(
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      concat_ws("\t", col("datestamp"), ip, ua, ref, lit("svc"),
        item.cast("string"), docid).as("value"))
    deleteRec(new java.io.File(outDir))
    // one task per day -> ONE gzip part per day dir (the reference's
    // one-file-per-day layout; gzip is the non-splittable unit)
    lines.repartition(col("day"))
      .write.partitionBy("day").option("compression", "gzip")
      .mode("overwrite").text(outDir)
    lines.count()
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    if (f.exists) { f.delete(); () }
  }
}
