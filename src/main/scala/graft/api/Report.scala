package graft.api

import org.apache.spark.sql.DataFrame
import graft.model.Context
import graft.query.QueryCompiler
import graft.query.QueryCompiler.Catalog

/** Report evaluation (SURVEY.md §3 entry point 2; ref
  * `Screen/IRStats2/Report.pm:56-173`, config `z_irstats2.pl:319-577`):
  * a report is a named list of view items, each = a view kind plus
  * context OVERRIDES applied to the report's base context. The
  * reference fans these out as independent AJAX queries; here each
  * item compiles to a DataFrame and all of them share the session
  * (and therefore Spark's cached scans) — evaluation is lazy, the
  * caller actions them as needed, possibly concurrently. */
object Report {

  /** One view item: view kind (graph/table/counter/...) + overrides. */
  final case class Item(
      view: String,
      overrides: Context => Context = identity)

  final case class Spec(name: String, base: Context, items: Seq[Item])

  /** Compile every item of the report against the catalog.
    * Pure: contexts are copied per item (the reference mutates a
    * shared context — behavior kept, structure fixed, SURVEY §7.4.6). */
  def compile(spec: Spec, cat: Catalog,
      today: java.time.LocalDate): Seq[(String, DataFrame)] =
    spec.items.map { item =>
      val ctx = item.overrides(spec.base).resolved(today)
      item.view -> QueryCompiler.compile(ctx, cat)
    }

  /** Render one item to its JSON payload, with the item's resolved
    * context (what a cache entry for the payload is keyed on). The
    * envelope carries the item's own datatype, which an override may
    * change from the report's base. The one renderer behind both
    * [[renderJson]] and [[ReportCache.warm]]. */
  def renderItem(spec: Spec, item: Item, cat: Catalog,
      today: java.time.LocalDate): (Context, String) = {
    val ctx = item.overrides(spec.base).resolved(today)
    val df = QueryCompiler.compile(ctx, cat)
    val payload =
      if (item.view == "geochart") geoChartJson(df)
      else graft.export.Export.toJson(df,
        context = Map("report" -> spec.name, "view" -> item.view,
          "datatype" -> ctx.datatype))
    ctx -> payload
  }

  /** Pre-render every item to its JSON payload — the equivalent of
    * the reference's nightly report-cache warm-up
    * (`process_stats:144-159` executes each report view server-side
    * and caches the AJAX payload). The result map IS the cache. */
  def renderJson(spec: Spec, cat: Catalog,
      today: java.time.LocalDate): Map[String, String] =
    spec.items.map(item => item.view -> renderItem(spec, item, cat, today)._2).toMap

  /** GeoChart item payload (ref `View/Google/GeoChart.pm:16-41`): the
    * reference selects `fields => ['value']` — value being the
    * country code for the countries datatype — and prints
    * `{ "data": [["code", count], ...] }` for its client-side map.
    * The default output keeps the reference's 2-element pairs exactly
    * (clients feed it to `arrayToDataTable` expecting two columns);
    * `includeDisplay = true` opts into a third element — the
    * localized country name from the JDK's CLDR data — for renderers
    * that want to skip the client-side lookup table. The count is
    * validated to be numeric before interpolation, so the payload is
    * valid JSON by construction. Expects the compiled (value, count)
    * frame; bounded by the ISO country space, so a driver-side take
    * is the right boundary (same rationale as the Export serializers,
    * cap enforced). */
  def geoChartJson(df: DataFrame,
      includeDisplay: Boolean = false,
      locale: java.util.Locale = java.util.Locale.ENGLISH): String = {
    val cap = 500 // ~250 ISO codes; anything past this is not a geo series
    val rows = df.take(cap + 1)
    require(rows.length <= cap,
      s"geochart payload exceeds $cap rows — not a per-country series")
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    val items = rows.map { r =>
      val code = Option(r.get(0)).map(_.toString).getOrElse("")
      val count = r.get(1) match {
        case n: java.lang.Number => String.valueOf(n)
        case other => throw new IllegalArgumentException(
          s"geochart count column is not numeric: " +
            s"${Option(other).map(_.getClass.getName).getOrElse("null")}")
      }
      if (includeDisplay) {
        val name = new java.util.Locale("", code).getDisplayCountry(locale)
        val display = if (name.isEmpty) code else name
        s"""["${esc(code)}", $count, "${esc(display)}"]"""
      } else s"""["${esc(code)}", $count]"""
    }
    s"""{ "data": [${items.mkString(",")}] }"""
  }
}
