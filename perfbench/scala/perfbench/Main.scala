package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: a night or a request. `ms` is its wall time and
  * `cpuMs` the CPU time this JVM spent in the same window, all threads;
  * both come from one [[Main.measure]] around the timed part only. */
final case class Op(ms: Double, cpuMs: Double, ok: Boolean, kind: String = "")

final case class Check(name: String, ok: Boolean, detail: String = "")

trait Workload {
  /** Bring the program to the workload's starting state; run several
    * times, the last call's state is the one measured. */
  def setup(): Unit
  /** One untraced operation. */
  def op(i: Int): Op
  /** The same operation with every layer boundary forced and spanned. */
  def tracedOp(i: Int, t: Trace): Op
  /** Untimed output checks after the measured loop; each failed check
    * counts as one failed operation. */
  def checks(): Seq[Check]
  /** Per-layer numbers of a traced run (beyond the engine counters). */
  def layers(t: Trace, traced: Seq[Op]): Map[String, Double]
  /** Operations in one cycle. A run stops only after whole cycles, so
    * every run makes the same mix of operations. */
  def minOps: Int = 2
  def minTracedOps: Int = minOps
  /** Cycles an untraced run makes at least, whatever `--seconds` says;
    * `op_cpu_ms` is the median over them of the mean op in a cycle. */
  def minCycles: Int = 1
  /** Untimed work after the last set-up, so that the measured ops run
    * code the JIT has already compiled. */
  def warmUp(): Unit = ()
  /** Layers no op of this workload reaches, run once at the end of a
    * traced run: their per-layer numbers and output checks. */
  def probes(t: Trace): (Map[String, Double], Seq[Check]) = (Map.empty, Seq.empty)
}

/** The pinned session: the only place the benchmark configures Spark. */
object Session {
  def confs(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "perfbench",
    "spark.driver.host" -> "127.0.0.1",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (8 * cores).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.local.dir" -> new File(work, "spark-local").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath)

  def create(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
    confs(cores, work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --in INPUT_DIR --work WORK_DIR --out RESULT_JSON`. Writes raw
  * timings, check outcomes and (traced) layer numbers as JSON. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val in = new File(opt("in")).getAbsolutePath
    val work = new File(opt("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = Session.create(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w: Workload = workload match {
      case "nightly" => new Nightly(spark, in, work)
      case "dashboard" => new Dashboard(spark, in, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new Json
    out.num("session_s", sessionS)
    log(f"session ${sessionS}%.2fs, inputs ready ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val setups = (1 to 3).map { _ =>
      val c0 = cpuNs()
      val (_, s) = timed(w.setup())
      (s, (cpuNs() - c0) / 1e9)
    }
    log("setup " + setups.map { case (s, c) => f"$s%.2fs (cpu $c%.2fs)" }.mkString(" "))
    out.nums("setup_s", setups.map(_._1))
    out.nums("setup_cpu_s", setups.map(_._2))
    log(f"warm-up ${timed(w.warmUp())._2}%.2fs")
    val ops = mutable.ArrayBuffer.empty[Op]
    val tracedOps = mutable.ArrayBuffer.empty[Op]
    var probeChecks = Seq.empty[Check]
    def loop(budgetS: Double, min: Int, cycles: Int, start: Int)(f: Int => Op): Seq[Op] = {
      val done = mutable.ArrayBuffer.empty[Op]
      val end = System.nanoTime() + (budgetS * 1e9).toLong
      while (done.size < min * cycles || done.size % min != 0 || System.nanoTime() < end) {
        val i = start + done.size
        done += (try f(i) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op $i failed: $e"); Op(0, 0, ok = false)
        })
      }
      log(s"${done.size} ops (wall ms/cpu ms): " + done.map(o => f"${o.ms}%.0f/${o.cpuMs}%.0f").mkString(" "))
      done.toSeq
    }
    if (!traced) ops ++= loop(seconds, w.minOps, w.minCycles, 0)(w.op)
    else {
      // untraced half first, so the traced half's slowdown is the overhead
      ops ++= loop(seconds / 2, w.minOps, 1, 0)(w.op)
      val t = new Trace(spark)
      t.start()
      tracedOps ++= loop(seconds / 2, w.minTracedOps, 1, ops.size)(i => w.tracedOp(i, t))
      t.drain()
      val named = w.layers(t, tracedOps.toSeq)
      val (probed, s) = timed(w.probes(t))
      log(f"probes ${s}%.2fs")
      probeChecks = probed._2
      t.stop()
      out.obj("layers", Layers.report(t, named ++ probed._1, ops.toSeq, tracedOps.toSeq))
    }
    out.num("retained_heap_mb", retainedHeapMb())
    val checks = timed(w.checks() ++ probeChecks) match { case (c, s) => log(f"checks ${s}%.2fs"); c }
    out.num("cycle", w.minOps)
    out.ops("ops", ops.toSeq)
    out.ops("traced_ops", tracedOps.toSeq)
    out.checks(checks)
    out.num("rss_mb", peakRssMb())
    out.strs("host", Seq(
      "nproc" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString))
    out.strs("session_confs", Session.confs(cores, work))
    val p = new java.io.PrintWriter(opt("out"), "UTF-8")
    try p.print(out.render) finally p.close()
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println("[perfbench] " + msg)

  /** CPU time of this JVM, all threads. Unlike wall time it does not
    * grow when the host takes the CPUs away (steal), which on a shared
    * host moved wall times by up to 2x between runs. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => 0L
  }

  /** `body`'s result, wall ms and CPU ms (this JVM, all threads). */
  def measure[T](body: => T): (T, Double, Double) = {
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6, (cpuNs() - c0) / 1e6)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap still in use after full collections: what the program keeps
    * alive once the measured operations are done (cached frames,
    * persisted blocks, broadcast tables, driver-side state). */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    // the pauses let Spark's cleaner drop blocks (broadcasts, shuffles)
    // whose handles the previous collection found unreachable
    (1 to 3).foreach { _ => mem.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
    f.delete(); ()
  }
}

/** A small JSON writer: the result file has a fixed, flat shape. */
final class Json {
  private val parts = mutable.ArrayBuffer.empty[String]
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n") + "\""
  private def n(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(k: String, v: Double): Unit = parts += s"${q(k)}: ${n(v)}"
  def nums(k: String, v: Seq[Double]): Unit = parts += s"${q(k)}: ${v.map(n).mkString("[", ", ", "]")}"
  def strs(k: String, kv: Seq[(String, String)]): Unit =
    parts += s"${q(k)}: ${kv.map { case (a, b) => s"${q(a)}: ${q(b)}" }.mkString("{", ", ", "}")}"
  def obj(k: String, kv: Map[String, Double]): Unit =
    parts += s"${q(k)}: ${kv.toSeq.sortBy(_._1).map { case (a, b) => s"${q(a)}: ${n(b)}" }.mkString("{", ", ", "}")}"
  def ops(k: String, v: Seq[Op]): Unit = parts += s"${q(k)}: " + v.map(o =>
    s"""{"ms": ${n(o.ms)}, "cpu_ms": ${n(o.cpuMs)}, "ok": ${o.ok}, "kind": ${q(o.kind)}}""")
    .mkString("[", ", ", "]")
  def checks(v: Seq[Check]): Unit = parts += "\"checks\": " + v.map(c =>
    s"""{"name": ${q(c.name)}, "ok": ${c.ok}, "detail": ${q(c.detail)}}""").mkString("[", ", ", "]")
  def render: String = parts.mkString("{", ",\n", "}\n")
}
