package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `.explain("formatted")` for the named queries (every query,
  * if none named) to files — the optimization-round evidence artifact
  * (`plans/rNN/<q>_<tag>.txt`).
  *
  * `SPARK_GRAFT_PLANS_DIR=plans/r17 SPARK_GRAFT_PLANS_TAG=before \
  *    sbt "runMain graft.PlanDump g1_pagerank g2_triangles"`
  *
  * Each file carries the FORMATTED pre-execution plan (PushedFilters /
  * ReadSchema / join strategies visible) plus, after one noop-sink
  * execution, the AQE-final executed plan — both halves the judge's
  * plan-claim checks read. A streaming query's file also gets each
  * micro-batch's progress JSON (the engine's own durationMs breakdown:
  * addBatch / getBatch / commitOffsets / stateOperators). The session
  * is [[GraftSession]]'s, so the dumped shapes are the benched shapes.
  * Every file ends with a `jobs=N tasks=M` line: the Spark jobs started
  * and tasks ended from the start of the query's construction (an
  * eager operator such as `Sets.ancestorClosure` runs its jobs there)
  * to the noop write's return, counted by a listener read only after
  * the bus is drained on both ends.
  *
  * Both captures come from async listener buses, so each carries a
  * tag fixed when its work STARTED, and a dump keeps only captures of
  * its own query's epoch — a late callback from the previous query,
  * or from an action inside this query's construction, is dropped
  * instead of being labeled "AQE final":
  *  - an executed plan is tagged with its QueryExecution's id. Ids
  *    grow monotonically, so the epoch of a plan capture opens with a
  *    fence QueryExecution created just before the noop write: only
  *    the write's own executions exceed it;
  *  - a stream's progress is tagged with the epoch number current when
  *    the stream started (`onQueryStarted` runs synchronously inside
  *    `start()`, which the query's construction calls). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r17")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLANS_TAG", "before")
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    val qs = SparkEntry.queries
    args.filterNot(qs.contains)
      .foreach(n => System.err.println(s"[plandump] unknown query: $n"))
    val names = if (args.nonEmpty) args.toSeq else qs.keys.toSeq.sorted

    // The noop write runs its own QueryExecution — the dataset's own
    // queryExecution.executedPlan is never executed, so dumping it
    // labeled "AQE final" produced isFinalPlan=false plans. Capture the
    // WRITE's QueryExecution from the listener callback instead: after
    // the save returns, its AdaptiveSparkPlan has been re-optimized.
    val executed = new AtomicReference[(Long, String)]((-1L, ""))
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        executed.accumulateAndGet((qe.id, qe.executedPlan.toString),
          (a, b) => if (b._1 > a._1) b else a): Unit
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    @volatile var epoch = 0
    val runEpoch = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Integer]()
    val progress = new ConcurrentLinkedQueue[(Int, String)]()
    val streamListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        runEpoch.put(e.runId, epoch): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Option(runEpoch.get(e.progress.runId))
          .foreach(ep => progress.add((ep.intValue, e.progress.json)))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val jobs = new AtomicLong()
    val tasks = new AtomicLong()
    val countListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    sc.addSparkListener(countListener)
    for (name <- names; fn <- qs.get(name)) {
      epoch += 1
      val ep = epoch
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(GraftBridge.unpersist)
      val out = new java.io.File(outDir, s"${name}_$tag.txt")
      val w = new java.io.PrintWriter(out, "UTF-8")
      try {
        GraftBridge.drainListenerBus(sc)
        jobs.set(0); tasks.set(0)
        val df = fn(spark, sfDir)
        w.println(s"==== $name ($tag) — explain formatted (pre-execution) ====")
        w.println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        val floor = spark.range(0).queryExecution.id
        df.write.mode("overwrite").format("noop").save()
        GraftBridge.drainListenerBus(sc)
        val counted = s"jobs=${jobs.get} tasks=${tasks.get}"
        // the listener bus is async; wait briefly for the callback
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        while (executed.get._1 <= floor && System.nanoTime() < deadline)
          Thread.sleep(50)
        w.println(s"==== $name ($tag) — executed plan (AQE final, from the noop write's QueryExecution) ====")
        val (id, plan) = executed.get
        w.println(if (id > floor) plan
          else "[plandump] listener produced no executed plan within 15s")
        if (runEpoch.containsValue(ep)) {
          // a stream's last progress event may still be in flight
          Thread.sleep(1500)
          val batches = progress.asScala.collect { case (`ep`, json) => json }
          if (batches.nonEmpty) {
            w.println(s"==== $name ($tag) — streaming progress, one JSON per micro-batch ====")
            batches.foreach(w.println)
          }
        }
        w.println(s"==== $name ($tag) — Spark jobs and tasks, construction through the noop write ====")
        w.println(counted)
      } catch { case e: Throwable =>
        w.println(s"[plandump] $name failed: ${e}")
      } finally w.close()
      progress.removeIf(_._1 <= ep): Unit
      println(s"[plandump] wrote $out")
    }
    sc.removeSparkListener(countListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.stop()
  }
}
