package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters summed over the tasks of one span. */
final class Counters {
  var cpuNs = 0L; var gcMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var recordsRead = 0L; var tasks = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  def add(t: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs += t.taskInfo.duration
    Option(t.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
    }
  }
}

/** `cpuNs` is the CPU time of the whole JVM while the span ran: driver,
  * executor threads, GC and JIT. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long, cpuNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class JobRec(id: Int, span: String, startNs: Long,
    var endNs: Long = 0L, var tasks: Int = 0)

/** Spans around calls into the program's layers plus the three Spark
  * listener kinds. Spans are recorded by the benchmark's own code; a
  * span's name travels to the jobs it starts as a local property, so
  * task counters land on the span that caused them. Tasks of jobs that
  * `Etl.run` labels with a phase description are also counted under
  * that phase ([[Trace.phase]]). Everything stays in memory until the
  * run ends. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  private val stack = mutable.Stack.empty[String]
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageDesc = new ConcurrentHashMap[Int, String]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  /** (outputPath, files, bytes) per parquet write command. */
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  /** durationMs maps of streaming progress events with input rows. */
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  @volatile var streamStartedNs = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(j.jobId, JobRec(j.jobId, span, System.nanoTime()))
      j.stageIds.foreach { s =>
        stageSpan.put(s, span); stageJob.put(s, j.jobId); stageDesc.put(s, Trace.phase(desc))
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.endNs = System.nanoTime())
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val span = Option(stageSpan.get(t.stageId)).getOrElse("")
      counters.computeIfAbsent(span, _ => new Counters).add(t)
      Option(stageDesc.get(t.stageId)).filter(_.nonEmpty)
        .foreach(p => counters.computeIfAbsent(p, _ => new Counters).add(t))
      Option(stageJob.get(t.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(r => r.synchronized { r.tasks += 1 })
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      // the write command runs under AQE, so the helper's traversal
      // (which enters adaptive plans) is needed to find it
      Scans.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
        val m = w.metrics
        val path = w.cmd match {
          case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
            c.outputPath.toString
          case _ => ""
        }
        writes.add((path, m.get("numFiles").map(_.value).getOrElse(0L),
          m.get("numOutputBytes").map(_.value).getOrElse(0L)))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamStartedNs = System.nanoTime()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        batches.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Run `body` as span `name`: its jobs carry the span name, and the
    * span's start/end/parent are kept. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    sc.setLocalProperty(SpanKey, name)
    val c0 = Main.cpuNs()
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, parent, t0, System.nanoTime(), Main.cpuNs() - c0)
      stack.pop()
      sc.setLocalProperty(SpanKey, stack.headOption.orNull)
    }
  }

  def busy(name: String): Double = spans.iterator.filter(_.name == name).map(_.seconds).sum
  def processCpu(name: String): Double = spans.iterator.filter(_.name == name).map(_.cpuNs).sum / 1e9
  def engine(name: String): Counters = Option(counters.get(name)).getOrElse(new Counters)
  def jobsWhere(p: JobRec => Boolean): Seq[JobRec] = jobs.values.asScala.filter(p).toSeq
}

object Trace {
  /** The phase of an `Etl.run` job description (`etl: write views` →
    * `etl: write`), the key its tasks' counters are also kept under;
    * "" for any other job. */
  def phase(desc: String): String =
    if (desc.startsWith("etl: ")) "etl: " + desc.stripPrefix("etl: ").takeWhile(_ != ' ') else ""
}

/** Facts read off an executed plan (AQE stages and subqueries too). */
object Scans extends AdaptiveSparkPlanHelper {
  final case class ScanFacts(partitions: Long, readsMv: Boolean)

  def of(plan: SparkPlan): ScanFacts = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    ScanFacts(
      scans.map(s => math.max(metric(s, "numPartitions"), 1L)).sum,
      scans.exists(_.relation.location.rootPaths.exists(_.toString.contains("/_mv/"))))
  }
}
