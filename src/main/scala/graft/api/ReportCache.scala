package graft.api

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import graft.model.Context
import graft.query.QueryCompiler.Catalog

/** Report-level file cache — the reference's dashboard-latency
  * strategy (SURVEY §3 entry 1 step 5; ref `cgi/stats/get:80-99`,
  * `Utils.pm:676-692`): the md5 of the canonically-sorted request
  * params keys a pre-rendered JSON payload under `<dir>/<md5>.ir2`;
  * the nightly ETL clears the directory and pre-warms the configured
  * report paths (`bin/stats/process_stats:144-159`). Spark changes
  * nothing about this layer — it is deliberately driver-local file
  * I/O in front of query compilation, so a warmed dashboard never
  * touches the cluster.
  *
  * Write protocol: payloads land under a temp name and are MOVED into
  * place (atomic on POSIX), with a `<md5>.ir2.lock` marker held for
  * the duration — a reader that sees the lock treats the entry as a
  * miss rather than serving a torn file (the reference's lock-file
  * probe). A crashed writer leaves a stale lock; `clear` removes
  * locks too, so the nightly cycle self-heals.
  */
object ReportCache {

  private val Ext = ".ir2"

  /** Cache key: md5 over a length-prefixed encoding of the k/v pairs
    * sorted by key (the reference md5s a canonically-sorted JSON of
    * the params — same idea, same invariance to request param order).
    * Length-prefixing each field makes the encoding injective, so
    * values containing `=`/`&` cannot collide two distinct param maps
    * into one key the way naive `k=v&...` joining can. Empty values
    * are dropped so `grouping=` and an absent grouping key alike. */
  def key(params: Map[String, String]): String = {
    val canonical = params.toSeq
      .filter { case (k, v) => k.nonEmpty && v.nonEmpty }
      .sortBy(_._1)
      .map { case (k, v) => s"${k.length}:$k=${v.length}:$v" }
      .mkString("&")
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes(UTF_8))
    d.map("%02x".format(_)).mkString
  }

  /** The canonical param form of a RESOLVED context + view — what a
    * `get` request and a warm-time render must agree on for the warm
    * entry to be hittable. Resolution (range -> from/to) happens
    * before keying, so `range=2012` and the equivalent explicit
    * bounds share an entry. */
  def paramsOf(ctx: Context, view: String): Map[String, String] =
    Map("view" -> view, "datatype" -> ctx.datatype) ++
      ctx.datafilter.map("datafilter" -> _) ++
      ctx.setName.map("set_name" -> _) ++
      ctx.setValue.map("set_value" -> _) ++
      ctx.grouping.map("grouping" -> _) ++
      ctx.from.map("from" -> _.toString) ++
      ctx.to.map("to" -> _.toString) ++
      (if (ctx.fields.nonEmpty) Map("fields" -> ctx.fields.mkString(","))
       else Map.empty) ++
      ctx.orderBy.map("order_by" -> _) ++
      (if (ctx.orderDesc) Map.empty else Map("order_desc" -> "0")) ++
      ctx.limit.map("limit" -> _.toString) ++
      ctx.offset.map("offset" -> _.toString)

  private def entryFile(dir: String, params: Map[String, String]) =
    new File(dir, key(params) + Ext)

  /** Serve the cached payload, or None on miss / in-progress write. */
  def lookup(dir: String, params: Map[String, String]): Option[String] = {
    val f = entryFile(dir, params)
    val lock = new File(f.getPath + ".lock")
    if (f.isFile && !lock.exists())
      Some(new String(Files.readAllBytes(f.toPath), UTF_8))
    else None
  }

  /** Atomically publish a payload under the params' key. */
  def store(dir: String, params: Map[String, String], payload: String): Unit = {
    val f = entryFile(dir, params)
    f.getParentFile.mkdirs()
    val lock = new File(f.getPath + ".lock")
    lock.createNewFile(): Unit
    try {
      val tmp = Files.createTempFile(f.getParentFile.toPath, f.getName, ".tmp")
      Files.write(tmp, payload.getBytes(UTF_8))
      Files.move(tmp, f.toPath, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE): Unit
    } finally lock.delete(): Unit
  }

  /** Cache-through read: serve the file if present, else compute,
    * publish, and return. The computation renders ONE report view —
    * misses cost a Spark query, hits cost a file read. */
  def getOrCompute(dir: String, params: Map[String, String])(
      compute: => String): String =
    lookup(dir, params).getOrElse {
      val payload = compute
      store(dir, params, payload)
      payload
    }

  /** Drop every entry (and stale locks/tmps) — the ETL's
    * clear-then-prewarm step. Leaves foreign files alone. */
  def clear(dir: String): Unit =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter { f =>
        val n = f.getName
        n.endsWith(Ext) || n.endsWith(Ext + ".lock") || n.endsWith(".tmp")
      }
      .foreach(_.delete(): Unit)

  /** Pre-warm: render every item of the report and publish each
    * payload under the key a later `get` with the same (resolved)
    * context would probe. Returns view -> payload, the same map
    * [[Report.renderJson]] returns. */
  def warm(dir: String, spec: Report.Spec, cat: Catalog,
      today: java.time.LocalDate): Map[String, String] =
    spec.items.map { item =>
      val (ctx, payload) = Report.renderItem(spec, item, cat, today)
      store(dir, paramsOf(ctx, item.view), payload)
      item.view -> payload
    }.toMap
}
