package perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.export.Export
import graft.model.Context
import graft.query.QueryCompiler
import graft.query.QueryCompiler.{Catalog, SetDim}
import graft.series.Series
import graft.sets.Sets
import graft.store.{FactStore, LifetimeMv}
import graft.views.KeyFigures

/** One dashboard request: a context plus the view-layer step after
  * the compiled query (`none`, `series_day`, `series_month`, `keyfig`). */
final case class Request(kind: String, ctx: Context, post: String)

/** Read-only closed loop, one client, cache off: each request is
  * resolve → compile → post-process → JSON, over a stored fact history
  * and set dims built with `Sets`. */
final class Dashboard(spark: SparkSession, in: String, work: String, seed: Long) extends Workload {
  private val Facts = Seq("downloads", "views", "countries", "referrer")
  private val Countries = Seq("US", "DE", "GB", "FR", "JP", "CN", "BR", "IN")
  private val days = Option(new File(s"$in/facts/downloads").listFiles).toSeq.flatten
    .map(_.getName).filter(_.startsWith("date=")).map(n => LocalDate.parse(n.stripPrefix("date="))).sorted
  private val first = days.head
  val today: LocalDate = days.last.plusDays(1)
  private var cat: Catalog = _
  private var setsS = Vector.empty[Double]
  private var dimRows = 0L
  // every response, for the DuckDB recount after the run
  private val responses = new java.io.PrintWriter(s"$work/dashboard_responses.jsonl", "UTF-8")

  // set values the generator draws from (the metadata generator's domain)
  private val divisions = (0 until 12).map(i => f"div$i%02d")
  private val subjects = for (r <- 0 until 4; c <- Seq("", ".0", ".1", ".2")) yield s"S$r$c"

  // the stored lifetime MVs of the two main datatypes, built once from
  // the fact history (under `_mv`, the store's own layout)
  private val mv = Seq("downloads", "views").map { dt =>
    val dir = s"$work/store/_mv/$dt"
    LifetimeMv.update(spark, dir, s"$in/facts/$dt")
    dt -> dir
  }.toMap

  /** Build the set dims from the repository metadata and open the store. */
  def setup(): Unit = {
    val meta = spark.read.json(s"$in/meta/items.jsonl").cache()
    val tree = spark.read.json(s"$in/meta/subject_tree.jsonl")
    val (dims, s) = Main.timed {
      val d = Map(
        "divisions" -> Sets.materialize(meta, Sets.SetDef("divisions", "divisions", multiple = true)),
        "subjects" -> Sets.ancestorClosure(
          Sets.materialize(meta, Sets.SetDef("subjects", "subjects", multiple = true)), tree),
        "type" -> Sets.materialize(meta, Sets.SetDef("type", "type")),
        "authors" -> Sets.materializeCompound(meta,
          Sets.CompoundSetDef("authors", "creators", anonymize = true)).select("set_value", "id"))
        .map { case (k, df) => k -> df.cache() }
      dimRows = d.values.map(_.count()).sum
      d
    }
    setsS :+= s
    meta.unpersist()
    if (cat != null) cat.sets.values.foreach(_.df.unpersist())
    cat = Catalog(
      facts = Facts.map(dt => dt -> FactStore.read(spark, s"$in/facts/$dt")).toMap,
      sets = dims.map { case (k, df) => k -> SetDim(df) },
      lifetime = mv.map { case (dt, dir) => dt -> LifetimeMv.read(spark, dir).get })
  }

  /** The request mix: 12 kinds, each in two variants, one slot per
    * (kind, variant). Every kind gets the same weight because the
    * repository holds no request logs to weigh them by. The variants
    * differ in datatype, set, resolution or limit, so that both main
    * datatypes and every set dim are reached. Request `i` takes slot
    * `i % 24` of a fixed shuffled cycle; the slot fixes the request's
    * kind, variant and window form, so every run of whole cycles makes
    * the same mix. The seed picks only the window's start and the item,
    * set value and offset. */
  def request(i: Int): Request = {
    val r = new java.util.Random(seed * 1000003L + i)
    val slot = Dashboard.Cycle(i % Dashboard.Cycle.size)
    val v = slot % 2
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def explicit(c: Context): Context = {
      val span = Seq(7, 14, 21, 30, 45)(slot % 5)
      val from = first.plusDays(r.nextInt(days.size - span).toLong)
      c.copy(from = Some(from), to = Some(from.plusDays(span - 1L)))
    }
    // a third of the windowed slots use a relative range, the rest explicit dates
    def window(c: Context): Context =
      if (slot % 3 == 0) c.copy(range = Some(Seq("1m", "6m", "1y")(slot / 3 % 3))) else explicit(c)
    val dl = Context(datatype = Seq("downloads", "views")(v))
    val item = (1 + r.nextInt(200)).toString
    Dashboard.Kinds(slot / 2) match {
      case "top_items" =>
        Request("top_items", window(dl.copy(fields = Seq("id"), limit = Some(Seq(10, 20)(v)))), "none")
      case "all_time" =>
        Request("all_time", dl.copy(fields = Seq("id"), limit = Some(10)), "none")
      case "top_values" =>
        Request("top_values", window(Context(datatype = Seq("countries", "referrer")(v),
          fields = Seq("value"), limit = Some(10))), "none")
      case "by_id" =>
        Request("by_id", window(dl.copy(fields = Seq("id"), orderBy = Some("id"), orderDesc = false,
          offset = Some(r.nextInt(50)), limit = Some(10))), "none")
      case "series" =>
        Request("series", explicit(dl.copy(fields = Seq("date"))), Seq("series_day", "series_month")(v))
      case "set_series" =>
        Request("set_series", explicit(Context(datatype = "downloads", fields = Seq("date"),
          setName = Some("divisions"), setValue = Some(pick(divisions)))), Seq("series_day", "series_month")(v))
      case "set_top" =>
        Request("set_top", window(Context(datatype = "downloads", setName = Some(Seq("type", "authors")(v)),
          limit = Some(10))), "none")
      case "set_items" =>
        val set = Seq("divisions", "subjects")(v)
        val value = if (set == "divisions") pick(divisions) else pick(subjects)
        Request("set_items", window(Context(datatype = "downloads", setName = Some(set), setValue = Some(value),
          fields = Seq("id"), limit = Some(10))), "none")
      case "grouping" =>
        Request("grouping", window(dl.copy(setName = Some("divisions"), setValue = Some(pick(divisions)),
          grouping = Some("type"))), "none")
      case "eprint" =>
        Request("eprint", window(Context(datatype = Seq("countries", "referrer")(v), setName = Some("eprint"),
          setValue = Some(item), fields = Seq("value"))), "none")
      case "eprint_all_time" =>
        Request("eprint_all_time", dl.copy(setName = Some("eprint"), setValue = Some(item)), "none")
      case _ =>
        Request("keyfig", window(Context(datatype = "countries", fields = Seq("value"))), "keyfig")
    }
  }

  private def post(req: Request, ctx: Context, df: DataFrame): DataFrame = req.post match {
    case "none" => df
    case "keyfig" =>
      KeyFigures.withRatio(KeyFigures.compute(df,
        Countries.map(c => KeyFigures.Metric(c, col("value") === c))), "us_de_pct", "US", "DE")
    case res =>
      val s = df.select(col("date").as("d"), col("count").as("cnt"))
      Series.cumulative(Series.regroup(Series.densify(s, from = ctx.from, to = ctx.to),
        res.stripPrefix("series_"))).orderBy("d")
  }

  private def envelope(req: Request, ctx: Context) =
    Map("view" -> req.kind, "datatype" -> ctx.datatype)

  private def record(req: Request, ctx: Context, payload: String): Unit = {
    val j = new Json
    j.strs("request", Seq("kind" -> req.kind, "post" -> req.post))
    j.strs("params", graft.api.ReportCache.paramsOf(ctx, req.kind).toSeq)
    j.strs("payload", Seq("json" -> payload))
    responses.println(j.render.replace("\n", " "))
  }

  /** One request of each kind, unrecorded: the first request of a kind
    * after set-up costs two to five times a later one (JIT). */
  override def warmUp(): Unit =
    Dashboard.Kinds.indices.foreach { k =>
      val req = request(Dashboard.Cycle.indexOf(2 * k) + Dashboard.Cycle.size * 1000)
      val ctx = req.ctx.resolved(today)
      Export.toJson(post(req, ctx, QueryCompiler.compile(ctx, cat)), context = envelope(req, ctx))
    }

  def op(i: Int): Op = {
    val req = request(i)
    val ((ctx, payload), ms, cpuMs) = Main.measure {
      val ctx = req.ctx.resolved(today)
      ctx -> Export.toJson(post(req, ctx, QueryCompiler.compile(ctx, cat)), context = envelope(req, ctx))
    }
    record(req, ctx, payload)
    Op(ms, cpuMs, payload.startsWith("{"), "request")
  }

  private var compileMs, execMs, seriesMs, viewsMs, exportMs = Vector.empty[Double]
  private var rowsOut, partitions, mvHits, dateless = 0L

  /** The request with each layer forced: the compiled query runs and
    * lands as a local relation, so post-processing and serialization
    * are timed on their own. */
  def tracedOp(i: Int, t: Trace): Op = {
    val req = request(i)
    val layer = if (req.post == "keyfig") "views" else "series"
    val ((ctx, df, shaped, payload), ms, cpuMs) = Main.measure {
      val ctx = req.ctx.resolved(today)
      val (df, c) = Main.timed(t.span("query.compile")(QueryCompiler.compile(ctx, cat)))
      val (local, e) = Main.timed(t.span("query.exec") {
        val rows = df.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      })
      val (shaped, p) = Main.timed(t.span(layer) {
        val out = post(req, ctx, local)
        if (req.post == "none") out
        else spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
      })
      val (payload, x) = Main.timed(t.span("export")(Export.toJson(shaped, context = envelope(req, ctx))))
      compileMs :+= c * 1000; execMs :+= e * 1000; exportMs :+= x * 1000
      if (layer == "views") viewsMs :+= p * 1000 else if (req.post != "none") seriesMs :+= p * 1000
      (ctx, df, shaped, payload)
    }
    val facts = Scans.of(df.queryExecution.executedPlan)
    partitions += facts.partitions
    if (ctx.from.isEmpty && ctx.to.isEmpty && !ctx.fields.contains("date")) {
      dateless += 1
      if (facts.readsMv) mvHits += 1
    }
    rowsOut += shaped.count()
    record(req, ctx, payload)
    Op(ms, cpuMs, payload.startsWith("{"), "traced_request")
  }

  def checks(): Seq[Check] = { responses.close(); Seq.empty }

  /** The curation layers, probed over the generated corpus. */
  override def probes(t: Trace): (Map[String, Double], Seq[Check]) = {
    val p = new CurationProbe(spark, s"$in/corpus", work)
    p.run(t)
    (p.layers(t), p.checks())
  }

  private def mean(v: Seq[Double]) = if (v.isEmpty) 0.0 else v.sum / v.size

  def layers(t: Trace, traced: Seq[Op]): Map[String, Double] = {
    val n = math.max(traced.size, 1).toDouble
    val reqJobs = t.jobsWhere(j => Set("query.exec", "series", "views", "export").contains(j.span))
    val scanned = t.engine("query.exec").recordsRead.toDouble
    Map(
      "sets.build_s" -> mean(setsS),
      "sets.dim_rows" -> dimRows.toDouble,
      "query.compile_ms" -> mean(compileMs),
      "query.exec_ms" -> mean(execMs),
      "query.jobs_per_request" -> reqJobs.size / n,
      "query.tasks_per_request" -> reqJobs.map(_.tasks).sum / n,
      "query.partitions_read_per_request" -> partitions / n,
      "query.rows_scanned_per_row_returned" -> (if (rowsOut > 0) scanned / rowsOut else 0.0),
      "query.mv_substitution_ratio" -> (if (dateless > 0) mvHits.toDouble / dateless else 0.0),
      "series.busy_ms" -> mean(seriesMs),
      "views.busy_ms" -> mean(viewsMs),
      "export.serialize_ms" -> mean(exportMs),
      "export.rows_per_request" -> rowsOut / n)
  }

  override def minOps: Int = Dashboard.Cycle.size
}

object Dashboard {
  val Kinds: Seq[String] = Seq("top_items", "all_time", "top_values", "by_id", "series", "set_series",
    "set_top", "set_items", "grouping", "eprint", "eprint_all_time", "keyfig")
  val Cycle: Seq[Int] = new scala.util.Random(20).shuffle((0 until 2 * Kinds.size).toList)
}
