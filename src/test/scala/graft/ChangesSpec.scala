package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.Changes

/** Semantics of the SCD2 / merge-upsert warehouse maintenance ops
  * (the oracle gates the driver-table instantiations; these pin the
  * edge cases a tiny fixture can isolate). */
class ChangesSpec extends AnyFunSuite with SparkSpec {

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("scd2 collapses runs and emits half-open validity intervals") {
    val s = spark; import s.implicits._
    // key 1: A A B A  -> three intervals; key 2: single row -> current
    val changes = Seq(
      (1L, d("2024-01-01"), "A"), (1L, d("2024-01-02"), "A"),
      (1L, d("2024-01-03"), "B"), (1L, d("2024-01-05"), "A"),
      (2L, d("2024-01-04"), "X"))
      .toDF("k", "day", "v")
    val out = Changes.scd2(changes, "k", "day", "v")
      .orderBy("k", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, "A", "2024-01-01", Some("2024-01-03"), false),
      (1L, "B", "2024-01-03", Some("2024-01-05"), false),
      (1L, "A", "2024-01-05", None, true),
      (2L, "X", "2024-01-04", None, true)))
  }

  test("mergeUpsert: latest version wins, deletes drop keys, inserts land") {
    val s = spark; import s.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "payload")
    val changes = Seq(
      (1L, "a1", "U", 1), (1L, "a2", "U", 2), // latest wins
      (2L, "b", "D", 1),                      // delete
      (9L, "new", "U", 1))                    // insert
      .toDF("k", "payload", "op", "version")
    val out = Changes.mergeUpsert(base, changes, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a2"), (3L, "c"), (9L, "new")))
  }

  test("mergeUpsert: a delete outranked by a later upsert keeps the row") {
    val s = spark; import s.implicits._
    val base = Seq((1L, "a")).toDF("k", "payload")
    val changes = Seq((1L, "x", "D", 1), (1L, "resurrected", "U", 2))
      .toDF("k", "payload", "op", "version")
    val out = Changes.mergeUpsert(base, changes, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "resurrected")))
  }
}
