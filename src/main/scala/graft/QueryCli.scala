package graft

import graft.export.Export
import graft.model.Context
import graft.query.QueryCompiler
import graft.query.QueryCompiler.Catalog
import graft.store.FactStore

/** Query entry point — the `GET /cgi/stats/get` equivalent
  * (SURVEY.md §3 entry 1): request params -> validated Context ->
  * compiled DataFrame over the stored fact tables -> JSON envelope.
  *
  * Usage: `runMain graft.QueryCli <factRoot> key=value...`
  * where factRoot holds per-datatype date-partitioned fact tables as
  * written by [[graft.api.Etl]]. Example:
  * {{{
  * runMain graft.QueryCli /data/facts datatype=downloads range=6m \
  *   fields=date order_by=date order_desc=0
  * }}}
  * Pass `cache_dir=<dir>` to enable the md5-keyed report file cache
  * ([[graft.api.ReportCache]]): hits are served without starting
  * Spark, misses populate the cache after rendering.
  */
object QueryCli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryCli <factRoot> key=value...")
    val factRoot = args.head
    val params = args.tail.flatMap { a =>
      a.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap

    // Cache probe BEFORE the session: a warmed dashboard request is
    // served from the .ir2 file without touching Spark at all (the
    // reference CGI's file-cache probe precedes any DB work).
    val cacheDir = params.get("cache_dir")
    val view = params.getOrElse("view", "table")
    val preCtx = Context.fromParams(params - "cache_dir" - "view")
      .resolved(java.time.LocalDate.now(java.time.ZoneOffset.UTC))
    val cached = cacheDir.flatMap(d =>
      graft.api.ReportCache.lookup(d, graft.api.ReportCache.paramsOf(preCtx, view)))
    if (cached.isDefined) { println(cached.get); return }

    val spark = GraftSession.create("ERROR")

    val ctx = preCtx
    // Load ONLY the requested datatype: opening every fact table would
    // pay schema inference per table and make one broken/empty table
    // fail unrelated queries.
    val dir = new java.io.File(s"$factRoot/${ctx.datatype}")
    require(dir.isDirectory,
      s"no fact table for datatype '${ctx.datatype}' under $factRoot " +
        s"(available: ${Option(new java.io.File(factRoot).listFiles).toSeq.flatten
          .filter(_.isDirectory).map(_.getName).sorted.mkString(", ")})")
    val catalog = Catalog(facts =
      Map(ctx.datatype -> FactStore.read(spark, dir.getAbsolutePath)))

    val result = QueryCompiler.compile(ctx, catalog)
    val payload = Export.toJson(result,
      context = params + ("datatype" -> ctx.datatype))
    // populate the cache on miss so the next identical request is file-served
    cacheDir.foreach(d => graft.api.ReportCache.store(d,
      graft.api.ReportCache.paramsOf(ctx, view), payload))
    println(payload)
    spark.stop()
  }
}
