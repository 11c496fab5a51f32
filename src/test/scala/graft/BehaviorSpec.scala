package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.series.Behavior

/** Funnel step-ordering and cohort week-bucketing semantics. */
class BehaviorSpec extends AnyFunSuite with SparkSpec {

  test("funnel honors step order per user") {
    val s = spark; import s.implicits._
    val events = Seq(
      // A: full ordered funnel
      ("A", "view", 10L), ("A", "click", 20L), ("A", "purchase", 30L),
      // B: click BEFORE first view — must not reach step 2
      ("B", "click", 5L), ("B", "view", 10L),
      // C: view only
      ("C", "view", 50L),
      // D: purchase with no view at all — reaches nothing
      ("D", "purchase", 99L))
      .toDF("user_id", "event_type", "sec")
    val out = Behavior.funnel(events, "user_id", "event_type", "sec",
      Seq("view", "click", "purchase")).collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1, "view", 3L), (2, "click", 1L), (3, "purchase", 1L)))
  }

  test("funnel equal timestamps count (at-or-after semantics)") {
    val s = spark; import s.implicits._
    val events = Seq(("U", "view", 7L), ("U", "click", 7L))
      .toDF("user_id", "event_type", "sec")
    val out = Behavior.funnel(events, "user_id", "event_type", "sec",
      Seq("view", "click")).collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 1L))
  }

  test("linear attribution splits credit across in-window touches only") {
    val s = spark; import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      // user 1: two views then a purchase — each view gets 500
      (1L, ts(10), 1L, "view"), (2L, ts(20), 1L, "view"),
      (3L, ts(25), 1L, "purchase"),
      // user 2: purchase with no view — attributes nothing
      (4L, ts(30), 2L, "purchase"),
      // user 3: view OUTSIDE the 7-day lookback, then purchase
      (5L, ts(100), 3L, "view"), (6L, ts(100 + 8 * 86400), 3L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Behavior.linearAttribution(events, "user_id", "event_type",
      touchType = "view", convType = "purchase").collect()
    // both credited views land on the epoch day; user 3's view dropped
    assert(out.length == 1)
    assert(out.head.getAs[Long]("touches") == 2L)
    assert(out.head.getAs[Long]("credit_x1000") == 1000L)
  }

  test("autocorr components: perfectly linear series correlates exactly") {
    val s = spark; import s.implicits._
    def d(x: Int) = java.sql.Date.valueOf(f"2024-01-$x%02d")
    val daily = (1 to 14).map(t => ("m", d(t), t.toLong))
      .toDF("value", "date", "cnt")
    val r = graft.series.Stats.autocorrComponents(daily, lag = 7).head()
    // pairs (t, t+7), t=1..7: cov_num = var_x = var_y = 196 -> corr 1
    assert(r.getLong(1) == 7L)
    assert(r.getLong(2) == 196L)
    assert(r.getLong(3) == 196L)
    assert(r.getLong(4) == 196L)
  }

  test("ewma: gap-aware weights are powers of two over present days") {
    val s = spark; import s.implicits._
    val daily = Seq(
      ("m", java.sql.Date.valueOf("2024-01-01"), 1L),
      ("m", java.sql.Date.valueOf("2024-01-03"), 2L))
      .toDF("value", "date", "cnt")
    val out = graft.series.Stats.ewma(daily, halfWindow = 7)
      .orderBy("date").collect()
    // day 1: only itself (weight 128); day 3: itself 128 + day1 at 2^5
    assert(out(0).getAs[Long]("ewma_num") == 128L)
    assert(out(0).getAs[Long]("ewma_den") == 128L)
    assert(out(1).getAs[Long]("ewma_num") == 2L * 128 + 1L * 32)
    assert(out(1).getAs[Long]("ewma_den") == 128L + 32L)
  }

  test("cohort retention buckets by the user's own first week") {
    val s = spark; import s.implicits._
    def d(x: String) = java.sql.Date.valueOf(x)
    // 2024-01-01 is a Monday
    val events = Seq(
      ("A", d("2024-01-02")), ("A", d("2024-01-10")), // wk 0, wk 1
      ("B", d("2024-01-03")), ("B", d("2024-01-09")), // wk 0 twice (6 days)
      ("C", d("2024-01-09")))                         // later cohort, wk 0
      .toDF("user_id", "d")
    val out = Behavior.cohortRetention(events, "user_id", "d")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("2024-01-01", 0, 2L), // A+B active in their first week
      ("2024-01-01", 1, 1L), // only A comes back a whole week later
      ("2024-01-08", 0, 1L)))
  }
}
