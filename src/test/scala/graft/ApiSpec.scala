package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Report
import graft.classify.Geo
import graft.export.Export
import graft.model.{Context, DateUtils}
import graft.query.QueryCompiler
import graft.query.QueryCompiler.Catalog

/** Specs for the API layer: report fan-out, exporters, geo range
  * join, context validation, MV substitution. */
class ApiSpec extends AnyFunSuite with SparkSpec {

  private def fact() = {
    val s = spark; import s.implicits._
    Seq(
      (java.sql.Date.valueOf("2024-03-01"), 1L, "downloads", 5L),
      (java.sql.Date.valueOf("2024-03-02"), 1L, "downloads", 3L),
      (java.sql.Date.valueOf("2024-03-02"), 2L, "views", 7L))
      .toDF("date", "id", "value", "count")
  }

  test("date parsing accepts all reference formats") {
    assert(DateUtils.parseDate("20240301").contains(java.time.LocalDate.of(2024, 3, 1)))
    assert(DateUtils.parseDate("2024-03-01").contains(java.time.LocalDate.of(2024, 3, 1)))
    assert(DateUtils.parseDate("2024/03/01").contains(java.time.LocalDate.of(2024, 3, 1)))
    assert(DateUtils.parseDate("2024").contains(java.time.LocalDate.of(2024, 1, 1)))
    assert(DateUtils.parseDate("20241301").isEmpty)  // month 13
    assert(DateUtils.parseDate("garbage").isEmpty)
  }

  test("param sanitization strips rejected characters") {
    assert(DateUtils.sanitizeParam("a<b>c/d;e=f&g?h%i'j\\k") == "abcdefghijk")
    assert(DateUtils.sanitizeParam("ok_value-1.2") == "ok_value-1.2")
  }

  test("range resolution: to defaults to yesterday; year literal; _ALL_") {
    val today = java.time.LocalDate.of(2024, 6, 15)
    val (f1, t1) = DateUtils.resolveRange("1m", today)
    assert(t1.contains(java.time.LocalDate.of(2024, 6, 14)))
    assert(f1.contains(java.time.LocalDate.of(2024, 5, 15)))
    val (f2, t2) = DateUtils.resolveRange("2023", today)
    assert(f2.contains(java.time.LocalDate.of(2023, 1, 1)))
    assert(t2.contains(java.time.LocalDate.of(2023, 12, 31)))
    assert(DateUtils.resolveRange("_ALL_", today) == (None, None))
  }

  test("report fan-out applies per-item overrides to a shared base") {
    val cat = Catalog(facts = Map("downloads" -> fact(), "views" -> fact()))
    val spec = Report.Spec("item-page",
      base = Context(datatype = "downloads", fields = Seq("value")),
      items = Seq(
        Report.Item("counter"),
        Report.Item("table", _.copy(datafilter = Some("views"), fields = Seq("id")))))
    val out = Report.compile(spec, cat, java.time.LocalDate.of(2024, 6, 15)).toMap
    assert(out("counter").columns.toSeq == Seq("value", "count"))
    val tbl = out("table").collect()
    assert(tbl.map(_.getLong(0)).toSeq == Seq(2L)) // only id 2 has 'views'
  }

  test("report pre-render produces a JSON payload per view") {
    val cat = Catalog(facts = Map("downloads" -> fact()))
    val spec = Report.Spec("warm",
      base = Context(datatype = "downloads", fields = Seq("value")),
      items = Seq(Report.Item("counter"), Report.Item("table")))
    val payloads = Report.renderJson(spec, cat, java.time.LocalDate.of(2024, 6, 15))
    assert(payloads.keySet == Set("counter", "table"))
    assert(payloads("counter").contains("\"report\": \"warm\""))
    assert(payloads("counter").contains("\"count\""))
  }

  test("lifetime MV substitution answers dateless queries from the MV") {
    val mv = fact().groupBy("id", "value").agg(sum("count").as("count"))
      .withColumn("count", col("count") * 1000) // poisoned: proves MV was used
    val cat = Catalog(facts = Map("downloads" -> fact()),
      lifetime = Map("downloads" -> mv))
    val dateless = QueryCompiler.compile(
      Context(datatype = "downloads", fields = Seq("value")), cat)
    assert(dateless.filter(col("value") === "downloads").head().getAs[Long]("count") == 8000L)
    val dated = QueryCompiler.compile(
      Context(datatype = "downloads", fields = Seq("value"),
        from = Some(java.time.LocalDate.of(2024, 3, 1)),
        to = Some(java.time.LocalDate.of(2024, 3, 1))), cat)
    assert(dated.filter(col("value") === "downloads").head().getAs[Long]("count") == 5L)
  }

  test("geo range join classifies and leaves unmatched IPs null") {
    val s = spark; import s.implicits._
    val e = Seq("1.5.0.1", "1.200.0.1", "9.1.2.3").toDF("requester_id")
    val out = Geo.classify(e, Geo.demoRanges(spark))
      .select("requester_id", "country").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("1.5.0.1") == "US")    // octet 1, low half
    assert(out("1.200.0.1") == null)  // high half: no range
    assert(out("9.1.2.3") == "US")    // octet 9 -> (9-1)%8=0 -> US
  }

  test("Context.fromParams validates and sanitizes request params") {
    val ctx = Context.fromParams(Map(
      "datatype" -> "downloads", "set_value" -> "<script>phys;ics",
      "from" -> "20240301", "to" -> "garbage", "range" -> "6m",
      "fields" -> "value,id", "limit" -> "10", "offset" -> "abc",
      "order_desc" -> "0"))
    assert(ctx.setValue.contains("scriptphysics"))
    assert(ctx.from.contains(java.time.LocalDate.of(2024, 3, 1)))
    assert(ctx.to.isEmpty)
    assert(ctx.range.contains("6m"))
    assert(ctx.fields == Seq("value", "id"))
    assert(ctx.limit.contains(10) && ctx.offset.isEmpty)
    assert(!ctx.orderDesc)
    // bad range rejected
    assert(Context.fromParams(Map("range" -> "DROP TABLE")).range.isEmpty)
  }

  test("fp_stats: front-page trio end-to-end, MV-answered + cache-warmed") {
    import graft.views.FrontPage
    val s = spark; import s.implicits._
    val meta = Seq(
      (1L, "public"), (2L, "restricted"), (3L, "none"), (4L, "public"))
      .toDF("eprintid", "full_text_status")
    // lifetime MV poisoned ×1000: proves the all-time counter is
    // answered from the MV, not by scanning the fact table
    val mv = fact().groupBy("id", "value").agg(sum("count").as("count"))
      .withColumn("count", col("count") * 1000)
    val cat = Catalog(facts = Map("downloads" -> fact()),
      lifetime = Map("downloads" -> mv))
    val dir = Files.createTempDirectory("fpstats").toString
    val today = java.time.LocalDate.of(2024, 6, 15)
    val out = FrontPage.stats(meta, cat, today, cacheDir = Some(dir))
    assert(out(FrontPage.FullTextsAll) == "3")
    assert(out(FrontPage.DownloadsAll) == "15,000")  // MV total 15000
    assert(out(FrontPage.DownloadsYear) == "15")     // 1y window, fact scan
    // cache-warm path: both counter payloads are retrievable under the
    // keys a request with the same resolved context would probe
    val specc = FrontPage.spec()
    specc.items.foreach { item =>
      val ctx = item.overrides(specc.base).resolved(today)
      val hit = graft.api.ReportCache.lookup(dir,
        graft.api.ReportCache.paramsOf(ctx, item.view))
      assert(hit.isDefined && hit.get.contains("\"report\": \"fp_stats\""))
    }
  }

  test("report cache: key is param-order invariant, value sensitive") {
    import graft.api.ReportCache
    val a = ReportCache.key(Map("datatype" -> "downloads", "view" -> "table"))
    val b = ReportCache.key(Map("view" -> "table", "datatype" -> "downloads"))
    assert(a == b)
    assert(a != ReportCache.key(Map("datatype" -> "views", "view" -> "table")))
    // empty values drop out of the canonical form
    assert(a == ReportCache.key(Map(
      "datatype" -> "downloads", "view" -> "table", "grouping" -> "")))
  }

  test("report cache: hit skips compute; lock forces a miss; clear empties") {
    import graft.api.ReportCache
    val dir = Files.createTempDirectory("ir2cache").toString
    val params = Map("datatype" -> "downloads", "view" -> "counter")
    var computes = 0
    def render() = { computes += 1; s"""{"n":$computes}""" }
    assert(ReportCache.getOrCompute(dir, params)(render()) == """{"n":1}""")
    assert(ReportCache.getOrCompute(dir, params)(render()) == """{"n":1}""")
    assert(computes == 1)
    // an in-progress write (lock present) must not be served
    val lock = new java.io.File(dir,
      ReportCache.key(params) + ".ir2.lock")
    lock.createNewFile()
    assert(ReportCache.lookup(dir, params).isEmpty)
    lock.delete()
    // nightly clear: entries (and stale locks) gone, next read recomputes
    ReportCache.clear(dir)
    assert(ReportCache.getOrCompute(dir, params)(render()) == """{"n":2}""")
  }

  test("report cache: warmed entries are hittable by an equivalent get") {
    import graft.api.ReportCache
    val dir = Files.createTempDirectory("ir2warm").toString
    val cat = Catalog(facts = Map("downloads" -> fact()))
    val today = java.time.LocalDate.of(2024, 6, 15)
    val spec = Report.Spec("warm",
      base = Context(datatype = "downloads", fields = Seq("value"),
        range = Some("2024")),
      items = Seq(Report.Item("counter")))
    val warmed = ReportCache.warm(dir, spec, cat, today)
    // a later request arriving as raw params resolves to the same key:
    // range literal vs the warmed (resolved) from/to bounds
    val got = Context.fromParams(Map("datatype" -> "downloads",
      "fields" -> "value", "range" -> "2024")).resolved(today)
    val served = ReportCache.lookup(dir, ReportCache.paramsOf(got, "counter"))
    assert(served.contains(warmed("counter")))
    assert(served.get.contains("\"report\": \"warm\""))
  }

  test("report cache: grouping-join report round-trips through the cache") {
    import graft.api.ReportCache
    import graft.query.QueryCompiler.SetDim
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("ir2group").toString
    // catalog with two set dims, so the item compiles through the J2
    // grouping-join path (semi-join on the set + bridge to the grouping)
    val division = Seq((1L, "X"), (2L, "Y")).toDF("id", "set_value")
    val author = Seq((1L, "alice"), (1L, "bob"), (2L, "carol"))
      .toDF("id", "set_value")
    val cat = Catalog(
      facts = Map("downloads" -> fact()),
      sets = Map("division" -> SetDim(division), "author" -> SetDim(author)))
    val today = java.time.LocalDate.of(2024, 6, 15)
    val spec = Report.Spec("division-page",
      base = Context(datatype = "downloads", setName = Some("division"),
        setValue = Some("X"), grouping = Some("author"),
        range = Some("2024")),
      items = Seq(Report.Item("table")))
    val warmed = ReportCache.warm(dir, spec, cat, today)
    // the warmed payload is the actual grouping-join result, not an
    // empty envelope: both authors of division X at the summed count
    assert(warmed("table").contains("\"grouping_value\": \"alice\", \"count\": 8"))
    assert(warmed("table").contains("\"grouping_value\": \"bob\", \"count\": 8"))
    assert(!warmed("table").contains("carol")) // division Y filtered out
    // a later request arriving as raw AJAX params resolves to the same
    // cache key and is served the identical payload...
    val got = Context.fromParams(Map("datatype" -> "downloads",
      "set_name" -> "division", "set_value" -> "X",
      "grouping" -> "author", "range" -> "2024")).resolved(today)
    val params = ReportCache.paramsOf(got, "table")
    assert(ReportCache.lookup(dir, params).contains(warmed("table")))
    // ...without recompute (the by-name compute must never evaluate)
    assert(ReportCache.getOrCompute(dir, params)(
      sys.error("cache miss: grouping join recomputed")) == warmed("table"))
  }

  test("exporters: csv quoting, json envelope, xml escaping") {
    val s = spark; import s.implicits._
    val df = Seq(("a,b", 1L), ("<tag>", 2L)).toDF("name", "count")
    val csv = Export.toCsv(df)
    assert(csv.startsWith("name,count"))
    assert(csv.contains("\"a,b\",1"))
    val json = Export.toJson(df, Map("datatype" -> "downloads"))
    assert(json.contains("\"context\": {\"datatype\": \"downloads\"}"))
    assert(json.contains("\"name\": \"a,b\", \"count\": 1"))
    val xml = Export.toXml(df)
    assert(xml.contains("<name>&lt;tag&gt;</name>"))
  }

  test("exporters: unbounded input fails loudly at the row cap") {
    val s = spark; import s.implicits._
    val big = s.range(0, 50).toDF("n") // "unlimited" relative to a cap of 10
    val e1 = intercept[IllegalArgumentException](Export.toCsv(big, maxRows = 10))
    assert(e1.getMessage.contains("distributed file sink"))
    intercept[IllegalArgumentException](Export.toJson(big, maxRows = 10))
    intercept[IllegalArgumentException](
      Export.toXml(big, rootTag = "rows", rowTag = "row", maxRows = 10))
    // inside the cap the serializers still work
    assert(Export.toCsv(big.limit(5), maxRows = 10).linesIterator.size == 6)
  }

  test("geochart item renders the GeoChart payload (reference wire format)") {
    // golden vs ref View/Google/GeoChart.pm:29-41 — '{ "data":
    // [["code", count], ...] }': 2-element pairs by default (clients
    // feed arrayToDataTable expecting two columns); display names are
    // an opt-in third element
    val s = spark; import s.implicits._
    val countryFact = Seq(
      (java.sql.Date.valueOf("2024-03-01"), 1L, "US", 7L),
      (java.sql.Date.valueOf("2024-03-01"), 2L, "DE", 3L),
      (java.sql.Date.valueOf("2024-03-02"), 3L, "US", 2L))
      .toDF("date", "id", "value", "count")
    val cat = Catalog(facts = Map("countries" -> countryFact))
    val spec = Report.Spec("geo",
      base = Context(datatype = "countries", fields = Seq("value")),
      items = Seq(Report.Item("geochart")))
    val payloads = Report.renderJson(spec, cat, java.time.LocalDate.of(2024, 6, 15))
    val p = payloads("geochart")
    // compiler orders by count DESC: US 9, DE 3
    assert(p == """{ "data": [["US", 9],["DE", 3]] }""", p)
    // opt-in display names (CLDR)
    val compiled = Report.compile(spec, cat,
      java.time.LocalDate.of(2024, 6, 15)).head._2
    val withNames = Report.geoChartJson(compiled, includeDisplay = true)
    assert(withNames ==
      """{ "data": [["US", 9, "United States"],["DE", 3, "Germany"]] }""",
      withNames)
    // cap guard: a non-geo-sized series fails loudly
    val big = s.range(0, 600).toDF("value")
      .withColumn("count", org.apache.spark.sql.functions.lit(1L))
    intercept[IllegalArgumentException](Report.geoChartJson(big))
    // non-numeric count column fails loudly instead of emitting
    // invalid JSON
    val badCount = Seq(("US", "nine")).toDF("value", "count")
    intercept[IllegalArgumentException](Report.geoChartJson(badCount))
  }

  test("cache warm stores exactly the renderJson payloads (geochart, datatype override)") {
    // one renderer behind both: a geochart item in its wire format,
    // and each envelope stamped with the item's own (overridden)
    // datatype, not the report base's
    import graft.api.ReportCache
    val s = spark; import s.implicits._
    val countryFact = Seq(
      (java.sql.Date.valueOf("2024-03-01"), 1L, "US", 7L),
      (java.sql.Date.valueOf("2024-03-01"), 2L, "DE", 3L))
      .toDF("date", "id", "value", "count")
    val cat = Catalog(facts = Map("countries" -> countryFact, "downloads" -> fact()))
    val today = java.time.LocalDate.of(2024, 6, 15)
    val spec = Report.Spec("geo-page",
      base = Context(datatype = "countries", fields = Seq("value")),
      items = Seq(
        Report.Item("geochart"),
        Report.Item("table", _.copy(datatype = "downloads"))))
    val rendered = Report.renderJson(spec, cat, today)
    val warmed = ReportCache.warm(
      Files.createTempDirectory("ir2render").toString, spec, cat, today)
    assert(warmed == rendered)
    assert(rendered("geochart") == """{ "data": [["US", 7],["DE", 3]] }""")
    assert(rendered("table").contains("\"datatype\": \"downloads\""), rendered("table"))
  }

  test("W3 graph labels: golden reference output per date resolution") {
    val s = spark; import s.implicits._
    // golden strings from ref Graph.pm:131-150 — day "$3 $month $1",
    // month "$month $1", year passthrough
    val days = Seq(("20120101", 5L), ("20121231", 0L)).toDF("datestamp", "count")
    assert(Export.graphPayload(days, "day")
      .collect().map(_.getString(2)).toSeq == Seq("01 Jan 2012", "31 Dec 2012"))
    val months = Seq(("201201", 5L), ("201206", 2L), ("201212", 9L))
      .toDF("datestamp", "count")
    assert(Export.graphPayload(months, "month")
      .collect().map(_.getString(2)).toSeq == Seq("Jan 2012", "Jun 2012", "Dec 2012"))
    val years = Seq(("2012", 5L)).toDF("datestamp", "count")
    assert(Export.graphPayload(years, "year")
      .collect().map(_.getString(2)).toSeq == Seq("2012"))
    // localized month names (ref phrase files per install language)
    val fr = Export.monthLabels(java.util.Locale.FRENCH)
    assert(Export.graphPayload(months, "month", months = fr)
      .collect().map(_.getString(2)).head.endsWith(" 2012"))
    assert(fr.head.toLowerCase.startsWith("janv"))
    // full-name variant mirrors lib/utils:month_NN
    assert(Export.monthLabels(short = false).head == "January")
    // the label renders in the projection (codegen), not on the driver
    val plan = Export.graphPayload(days, "day").queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"))
  }

  test("W4 all-zero null-out: zero-total series renders empty, not flat") {
    // ref Graph.pm:163-171 — when the series total is 0, counts
    // become NULL so the client chart shows nothing instead of a
    // flat zero line; any non-zero total leaves every count intact
    val s = spark; import s.implicits._
    val zeros = Seq(("20120101", 0L), ("20120102", 0L)).toDF("datestamp", "count")
    val nulled = Export.graphPayload(zeros, "day", nullOutAllZero = true)
      .orderBy("datestamp").collect()
    assert(nulled.forall(_.isNullAt(1)),
      s"zero-total series kept its zeros: ${nulled.toSeq}")
    assert(nulled.map(_.getString(2)).toSeq == Seq("01 Jan 2012", "02 Jan 2012"),
      "null-out disturbed the W3 labels")
    val mixed = Seq(("20120101", 0L), ("20120102", 3L)).toDF("datestamp", "count")
    val kept = Export.graphPayload(mixed, "day", nullOutAllZero = true)
      .orderBy("datestamp").collect()
    assert(kept.map(_.getLong(1)).toSeq == Seq(0L, 3L),
      s"non-zero series was nulled: ${kept.toSeq}")
    // default off — the flag is the reference's graph-view choice
    assert(Export.graphPayload(zeros, "day").collect().forall(!_.isNullAt(1)))
  }

  test("Curation.curate: each stage decides on the handmade fixture") {
    val s = spark; import s.implicits._
    // 25-token quality-passing prose (>=2 stopwords, mean len in
    // range, no symbols) — the StreamingSpec gate-passing shape
    def good(tag: String) =
      s"the corpus carries a $tag document and the tokens flow onward " +
        "with plain words that keep the quality gate satisfied along " +
        "this line of prose"
    // contaminated candidate: shares the leaked 8-token run with the
    // benchmark doc (inserted verbatim in both)
    val leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    val contaminated =
      s"the corpus carries a leaky document and $leak keeps flowing " +
        "onward with plain words that keep the quality gate satisfied"
    val benchmark = Seq(
      (9L, s"benchmark answer begins $leak and then continues to the end " +
        "of the item with more plain words", "sEval"))
      .toDF("doc_id", "text", "source")
    val cand = Seq(
      (1L, good("alpha"), "sA"),   // quality pass, canonical
      (2L, good("alpha"), "sA"),   // exact duplicate: dedup drop
      (3L, contaminated, "sB"),    // quality pass, canon, CONTAMINATED
      (4L, "tiny text", "sC"))     // quality fail
      .toDF("doc_id", "text", "source")
    val r = graft.api.Curation.curate(cand, benchmark)
      .orderBy("source").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6))).toSeq
    // sA: 2 in, 2 quality, 1 kept (dup dropped), 1 clean; it is the
    // only clean source, so w=1, tot=1, target=200, samples its 1 doc.
    // sB: kept but dirty -> clean 0, no quota row -> target 0.
    // sC: quality 0 all the way down.
    assert(r == Seq(
      ("sA", 2L, 2L, 1L, 1L, 200L, 1L),
      ("sB", 1L, 1L, 1L, 0L, 0L, 0L),
      ("sC", 1L, 0L, 0L, 0L, 0L, 0L)),
      s"curate stage decisions drifted: $r")
  }

  // shared curate fixture for the materialization + cache tests —
  // the handmade corpus of the stage-decision test above
  private def curateFixture() = {
    val s = spark; import s.implicits._
    def good(tag: String) =
      s"the corpus carries a $tag document and the tokens flow onward " +
        "with plain words that keep the quality gate satisfied along " +
        "this line of prose"
    val leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    val benchmark = Seq(
      (9L, s"benchmark answer begins $leak and then continues to the end " +
        "of the item with more plain words", "sEval"))
      .toDF("doc_id", "text", "source")
    val cand = Seq(
      (1L, good("alpha"), "sA"),
      (2L, good("alpha"), "sA"),
      (3L, s"the corpus carries a leaky document and $leak keeps flowing " +
        "onward with plain words that keep the quality gate satisfied", "sB"),
      (4L, "tiny text", "sC"))
      .toDF("doc_id", "text", "source")
    (cand, benchmark)
  }

  test("Curation.curate: Files materialization = LocalCkpt, same tail plan") {
    import graft.api.Curation
    val (cand, benchmark) = curateFixture()
    val ckpt = Curation.curate(cand, benchmark)
    val files = Curation.curate(cand, benchmark,
      materialize = graft.store.Materialize.Files(
        Files.createTempDirectory("kp3files").toString))
    // byte-equal report through either materialization primitive
    val a = ckpt.orderBy("source").collect().map(_.toSeq).toSeq
    val b = files.orderBy("source").collect().map(_.toSeq).toSeq
    assert(a == b, s"Files-pinned curate diverged:\nckpt=$a\nfiles=$b")
    // ... and the assemble TAIL is the same plan: identical non-leaf
    // operator sequence (Projects excluded — column pruning differs
    // mechanically over a parquet leaf vs an in-memory one; joins,
    // aggregates, windows and filters must match exactly)
    def tail(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case n if n.children.nonEmpty => n.nodeName
      }.filterNot(_ == "Project")
    assert(tail(ckpt) == tail(files),
      s"assemble tail drifted between materializations:\n" +
        s"ckpt=${tail(ckpt)}\nfiles=${tail(files)}")
    // the pinned frames really are parquet on the Files path
    assert(files.queryExecution.optimizedPlan.toString.contains("parquet"),
      "Files materialization did not land in parquet relations")
  }

  test("curation report cache: repeated corpus audits are O(read)") {
    import graft.api.Curation
    val (cand, benchmark) = curateFixture()
    val dir = Files.createTempDirectory("ir2curation").toString
    val report1 = Curation.reportCached(dir, cand)
    val curate1 = Curation.curateCached(dir, cand, benchmark)
    assert(report1.contains("\"report\": \"curation\""))
    assert(curate1.contains("docs_clean"))
    // two distinct entries landed (report vs curate key on different
    // params)
    val entries = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".ir2"))
    assert(entries.length == 2, s"expected 2 cache entries: ${entries.toSeq}")
    // warm hit: poison the published payloads; the repeat audit must
    // serve the FILES (no recompute, no cluster touch)
    entries.foreach(f => Files.write(f.toPath,
      s"SENTINEL:${f.getName}".getBytes("UTF-8")))
    val report2 = Curation.reportCached(dir, cand)
    val curate2 = Curation.curateCached(dir, cand, benchmark)
    assert(report2.startsWith("SENTINEL:") && curate2.startsWith("SENTINEL:"),
      "repeat curation audit recomputed instead of serving the cache")
    assert(report2 != curate2, "report and curate shared one cache key")
    // a different knob is a different key: cache miss, fresh payload
    val other = Curation.curateCached(dir, cand, benchmark, totalTarget = 50)
    assert(!other.startsWith("SENTINEL:"), "totalTarget missing from the key")
  }

  test("curation cache: in-place data refresh at the same path misses") {
    // The semantic hash of a file-backed corpus is its root path +
    // schema — refreshing the DATA in place at the same path must be
    // a cache MISS (the .ir2 cache persists across sessions; a
    // path-only key would serve the pre-refresh report forever). The
    // key folds in a file listing (sizes/mtimes) fingerprint.
    import graft.api.Curation
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("ir2refresh").toString
    val corpus = Files.createTempDirectory("refresh_corpus").toString
    def doc(id: Long, tag: String) = (id,
      s"the corpus carries a $tag document and the tokens flow onward " +
        "with plain words that keep the quality gate satisfied along " +
        "this line of prose", s"src$tag")
    Seq(doc(1L, "A")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(corpus)
    val before = Curation.reportCached(dir, s.read.parquet(corpus))
    // in-place refresh: same path, new contents
    Seq(doc(1L, "A"), doc(2L, "B")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(corpus)
    val after = Curation.reportCached(dir, s.read.parquet(corpus))
    assert(before != after,
      "in-place corpus refresh served the stale cached report")
    assert(after.contains("srcB"), s"refresh payload wrong: $after")
  }

  test("Curation Files root is reusable: pins land in unique subdirs") {
    // A second curate() over the same Files root must not clobber the
    // parquet a still-lazy frame from the FIRST call reads — each pin
    // gets a per-invocation subdirectory.
    import graft.api.Curation
    val (cand, benchmark) = curateFixture()
    val root = Files.createTempDirectory("kp3reuse").toString
    val first = Curation.curate(cand, benchmark,
      materialize = graft.store.Materialize.Files(root))
    val expected = Curation.curate(cand, benchmark) // ckpt reference
      .orderBy("source").collect().map(_.toSeq).toSeq
    // second call over the same root BEFORE the first is collected
    val second = Curation.curate(cand, benchmark,
      materialize = graft.store.Materialize.Files(root))
    assert(second.orderBy("source").collect().map(_.toSeq).toSeq == expected)
    // the first call's report must still be collectable and correct
    assert(first.orderBy("source").collect().map(_.toSeq).toSeq == expected,
      "second curate() over the same Files root clobbered the first's pins")
  }
}
