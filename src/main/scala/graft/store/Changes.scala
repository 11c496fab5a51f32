package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension maintenance (SURVEY.md §2.1 S5-S7
  * family; the reference refreshes its `irstats2_*` dimension tables
  * by full DELETE + re-insert — `Handler.pm:756-771` — which at
  * warehouse scale becomes the two standard incremental forms here).
  *
  * Scale posture:
  *  - [[scd2]] is ONE shuffle on the business key: the change-detect
  *    lag, the validity lead, and the final interval assembly all
  *    reuse the same (key, ordered-by-date) window partitioning, so
  *    Catalyst plans a single Exchange feeding stacked Window ops.
  *  - [[mergeUpsert]] broadcasts the changeset: at 100 TB the base
  *    snapshot must NOT be shuffled to apply a 0.1% changeset — the
  *    base is touched only by a broadcast anti-join (map-side, no
  *    Exchange on the big side), and the changeset, already collapsed
  *    to latest-per-key, is unioned in.
  */
object Changes {

  /** Build a type-2 history from a change stream at (key, date,
    * value) grain: collapse runs of equal values, then emit one
    * validity interval per run —
    * (key, value, valid_from, valid_to?, is_current).
    *
    * `valid_to` is the next run's start (half-open interval), null on
    * the current run. Input must be unique per (key, date); collapse
    * to that grain first (deterministically) or the lag is ill-defined. */
  def scd2(changes: DataFrame, keyCol: String, dateCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(dateCol)
    val runs = changes
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      // keep only rows where the tracked value actually changed
      .filter(col("__prev").isNull || col("__prev") =!= col(valueCol))
    runs
      .withColumn("valid_from", col(dateCol))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col(valueCol), col("valid_from"),
        col("valid_to"), col("is_current"))
  }

  /** MERGE a changeset into a base snapshot. `changes` carries the
    * key columns, an `op` column ('U' upsert / 'D' delete), a
    * `version` column (latest version per key wins), and the full
    * row payload for upserts.
    *
    * Latest-per-key collapse runs on the (small) changeset alone; the
    * base is filtered by a broadcast anti-join on touched keys and
    * surviving upserts are unioned in — the base is never shuffled. */
  def mergeUpsert(base: DataFrame, changes: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    // latest change per key (version desc; op desc breaks exact ties
    // deterministically — 'U' > 'D' lexicographically)
    val wLatest = Window.partitionBy(keys: _*)
      .orderBy(col("version").desc, col("op").desc)
    val latest = changes
      .withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1).drop("__rn")
    val upserts = latest.filter(col("op") === "U").drop("op", "version")
    base.join(broadcast(latest.select(keys: _*)), keyCols, "left_anti")
      .unionByName(upserts)
  }
}
