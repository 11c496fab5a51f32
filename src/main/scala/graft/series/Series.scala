package graft.series

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.OnePartition

/** Time-series post-processing — the reference's view-layer dataflow
  * (SURVEY.md §2.7), expressed as DataFrame transforms so it runs
  * distributed instead of in the render loop.
  */
object Series {

  /** W1 calendar densification (ref `Utils.pm:135-215` get_dates,
    * consumed by `View/Google/Graph.pm:81-131`): generate the complete
    * day sequence [from..to] and left-join the series so gaps become
    * zero-count points.
    *
    * Scale: the calendar side is tiny (≤ 20 years = ~7.3k rows — the
    * reference caps ranges at 20y, `Utils.pm:227-230`); the series side
    * is already aggregated (day-grain, so it is calendar-sized too).
    * Build the calendar with `sequence()` + `explode`; the left join
    * onto it is left to Spark's join selection — both sides are
    * bounded by the 20y day count, so any strategy is cheap — except
    * that a one-partition series is hash-joined in place (below).
    */
  def densify(series: DataFrame, dateCol: String = "d",
      countCol: String = "cnt",
      from: Option[java.time.LocalDate] = None,
      to: Option[java.time.LocalDate] = None): DataFrame = {
    // Bounds come from the REQUESTED range when given (the reference
    // densifies over the context's from..to, `Utils.pm:135-215`),
    // falling back to the data extent. With both given the calendar
    // reads nothing of the series: a one-row, one-slice relation, so
    // the series is planned once and the calendar side stays
    // SinglePartition (a downstream regroup or window needs no
    // exchange).
    val day = (d: java.time.LocalDate) => lit(java.sql.Date.valueOf(d))
    val bounds = (from, to) match {
      case (Some(f), Some(t)) =>
        series.sparkSession.range(0, 1, 1, 1).select(day(f).as("lo"), day(t).as("hi"))
      case _ =>
        series.agg(from.map(day).getOrElse(min(col(dateCol))).as("lo"),
          to.map(day).getOrElse(max(col(dateCol))).as("hi"))
    }
    // guard: sequence(lo, hi) THROWS when lo > hi (inverted explicit
    // range, or a requested `from` beyond the data extent with no
    // `to`) and when the series is EMPTY with defaulted bounds
    // (min/max are NULL). Both yield an empty calendar instead.
    val calendar = bounds
      .filter(col("lo").isNotNull && col("hi").isNotNull &&
        col("lo") <= col("hi"))
      .select(
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as(dateCol))
    // A series in one partition (a small compiled query) joins the
    // one-slice calendar by hash in the same task: no broadcast job.
    // Only an exact SinglePartition qualifies; a hash join over any
    // other input would shuffle both sides.
    val right = if (OnePartition.reported(series)) series.hint("shuffle_hash") else series
    calendar.join(right, Seq(dateCol), "left")
      .select(col(dateCol), coalesce(col(countCol), lit(0L)).as(countCol))
  }

  /** W2 temporal regroup — day→month/year tumbling windows
    * (ref `Graph.pm:44-131`, `Context.pm:137-166` date_resolution). */
  def regroup(series: DataFrame, resolution: String, dateCol: String = "d",
      countCol: String = "cnt"): DataFrame = {
    val bucket = resolution match {
      case "day"   => col(dateCol)
      case "month" => trunc(col(dateCol), "month")
      case "year"  => trunc(col(dateCol), "year")
      case r => throw new IllegalArgumentException(s"resolution $r")
    }
    series.groupBy(bucket.as(dateCol)).agg(sum(col(countCol)).as(countCol))
  }

  /** Single-partition key for the calendar-bounded series windows:
    * constant 0 per row but NOT constant-foldable (a `lit` key folds
    * back to an empty spec), so WindowExec keeps a non-empty
    * partitionSpec and stops warning on every run. These series are
    * ≤ calendar-length by this point — single-partition is correct
    * and bounded, and the recurring warning would drown out real
    * single-partition regressions elsewhere. */
  private def seriesKey(dateCol: String) =
    pmod(dayofmonth(col(dateCol)), lit(1))

  /** A10 cumulative sum over the (densified) series
    * (ref `Graph.pm:176-186`). Single-partition window — fine: by
    * this point the series is ≤ calendar-length (bounded, small). */
  def cumulative(series: DataFrame, dateCol: String = "d",
      countCol: String = "cnt"): DataFrame = {
    val w = Window.partitionBy(seriesKey(dateCol)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.withColumn("cumulative", sum(col(countCol)).over(w))
  }

  /** A9 running average: `avg_i = floor(cumsum_i / i)`
    * (ref `Graph.pm:94-160` show_average). */
  def runningAverage(series: DataFrame, dateCol: String = "d",
      countCol: String = "cnt"): DataFrame = {
    val w = Window.partitionBy(seriesKey(dateCol)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.withColumn("running_avg",
      floor(sum(col(countCol)).over(w) / row_number().over(
        Window.partitionBy(seriesKey(dateCol)).orderBy(col(dateCol))))
        .cast("long"))
  }

  /** Moving window over the (pre-aggregated) series: n-period moving
    * sum and floor-average, ROWS-framed so partial leading windows
    * divide by their actual width. Integer outputs (floor), same
    * determinism contract as [[runningAverage]]. */
  def movingAverage(series: DataFrame, periods: Int, dateCol: String = "d",
      countCol: String = "cnt"): DataFrame = {
    // periods = 0 builds a frame whose start follows its end; negative
    // periods silently looks FORWARD instead of trailing
    require(periods >= 1, s"movingAverage periods must be >= 1: $periods")
    val w = Window.partitionBy(seriesKey(dateCol)).orderBy(col(dateCol))
      .rowsBetween(-(periods - 1), Window.currentRow)
    series
      .withColumn("mov_sum", sum(col(countCol)).over(w))
      .withColumn("mov_avg",
        floor(col("mov_sum") / count(lit(1)).over(w)).cast("long"))
  }

  /** W6 year-over-year compare (ref `View/Compare.pm:21-93`): one
    * (year, month, count) row per month — the long form of the
    * reference's per-year series fan-out, computed in ONE pass
    * instead of a query per year. */
  def compareYears(series: DataFrame, dateCol: String = "d",
      countCol: String = "cnt"): DataFrame =
    series.groupBy(
      year(col(dateCol)).as("year"), month(col(dateCol)).as("month"))
      .agg(sum(col(countCol)).as(countCol))

  /** W5 sparkline: collapse duplicate dates, drop leading zero-count
    * rows, ascending order (ref `View/Google/Spark.pm:16-82`). */
  def sparkline(series: DataFrame, dateCol: String = "d",
      countCol: String = "cnt"): DataFrame = {
    val collapsed = series.groupBy(col(dateCol))
      .agg(sum(col(countCol)).as(countCol))
    val firstNonZero = collapsed.filter(col(countCol) > 0)
      .agg(min(col(dateCol)).as("first_nz"))
    collapsed.join(broadcast(firstNonZero))
      .filter(col(dateCol) >= col("first_nz"))
      .select(col(dateCol), col(countCol))
      .orderBy(col(dateCol))
  }

  /** W12 gap-fill with linear interpolation: densify the calendar
    * between each series' own first and last observation, then fill
    * missing days by integer-linear interpolation between the nearest
    * known neighbors (`floor` division, so results are exact integers
    * reproducible across engines). W1 densify's zero-fill answers "no
    * traffic that day"; interpolation answers "sensor/feed gap" —
    * both gap semantics exist in real log pipelines.
    *
    * Dataflow: per-series bounds (one aggregate) → `sequence`-exploded
    * calendar → left join of the observations → ONE window pass
    * computing last-known-before and first-known-after (value AND
    * date) with `last/first(ignoreNulls)` frames. With `partCols` the
    * window partitions by series — the shuffle is by series key, no
    * global ordering bottleneck; empty `partCols` = one global series
    * (the reference's per-chart case). The single-series form runs
    * its window on ONE partition by construction, so it is only safe
    * for bounded ranges: `maxSpanDays` (default = the reference's 20y
    * request cap) is ENFORCED with a plan-level assertion on the
    * observed bounds — a caller feeding an unbounded series fails
    * fast instead of serializing a huge calendar onto one task. For
    * many-series workloads pass `partCols`; each series is still
    * capped, and the cap keeps any single exploded calendar small.
    */
  def interpolate(series: DataFrame, dateCol: String = "d",
      valueCol: String = "v", partCols: Seq[String] = Nil,
      maxSpanDays: Int = 366 * 20): DataFrame = {
    val parts = partCols.map(col)
    val bounds0 =
      if (partCols.isEmpty)
        series.agg(min(col(dateCol)).as("lo"), max(col(dateCol)).as("hi"))
      else series.groupBy(parts: _*)
        .agg(min(col(dateCol)).as("lo"), max(col(dateCol)).as("hi"))
    // assert_true inside a FILTER (a projected column could be pruned
    // away by the optimizer, a filter cannot): passes → NULL → isNull
    // keeps the row; violated → the job fails with the range message.
    // Cost is one codegen'd comparison per series row.
    // the empty single-series form yields one (NULL, NULL) bounds row:
    // assert_true RAISES on a NULL condition, so guard it — an empty
    // feed must return an empty frame (as the grouped form does), not
    // fail with the misleading span message
    val bounds = bounds0
      .filter(col("lo").isNotNull && col("hi").isNotNull)
      .filter(
        assert_true(datediff(col("hi"), col("lo")) <= maxSpanDays,
          lit(s"interpolate: series span exceeds maxSpanDays=$maxSpanDays; " +
            "pass partCols or raise the cap")).isNull)
    val calendar = bounds.select((parts :+
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day")))
        .as(dateCol)): _*)
    val joined = calendar.join(series, partCols :+ dateCol, "left")
    // single-series form: substitute the unfoldable constant key so
    // the (bounded, maxSpanDays-capped) window keeps a non-empty spec
    val wparts = if (parts.isEmpty) Seq(seriesKey(dateCol)) else parts
    val w = Window.partitionBy(wparts: _*).orderBy(col(dateCol))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val knownDate = when(col(valueCol).isNotNull, col(dateCol))
    // interior gaps always have both neighbors (bounds are observed
    // rows), so the interpolation expression is total
    val lerp = col("_pv") + floor(
      ((col("_nv") - col("_pv")) * datediff(col(dateCol), col("_pd")))
        .cast("double") / datediff(col("_nd"), col("_pd")).cast("double"))
      .cast("long")
    joined
      .withColumn("_pv", last(col(valueCol), ignoreNulls = true).over(wPrev))
      .withColumn("_pd", last(knownDate, ignoreNulls = true).over(wPrev))
      .withColumn("_nv", first(col(valueCol), ignoreNulls = true).over(wNext))
      .withColumn("_nd", first(knownDate, ignoreNulls = true).over(wNext))
      .withColumn("_filled",
        when(col(valueCol).isNotNull, col(valueCol)).otherwise(lerp))
      .select((parts :+ col(dateCol) :+
        col("_filled").as(valueCol) :+
        when(col(valueCol).isNotNull, lit(0)).otherwise(lit(1))
          .cast("int").as("interpolated")): _*)
  }
}
