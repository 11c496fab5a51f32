package graft.filters

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.OnePartition

/** Double-click / repeat filtering (SURVEY.md §2.2 F3, §2.9 St5;
  * ref `Filter/Repeat.pm:39-102`).
  *
  * The reference's semantics are SEQUENTIAL-STATEFUL: a hit is dropped
  * if it falls within `timeout` seconds of the last KEPT hit for the
  * same key (ip x item x doc). That differs from the lag-window
  * approximation ("within timeout of the PREVIOUS hit") for chains of
  * clicks each spaced < timeout but spanning > timeout overall
  * (SURVEY §7.4 item 1). Both are provided:
  *
  *  - [[sequential]] — faithful semantics: per-key sorted scan via
  *    `groupByKey.flatMapGroups`. Scale: state is one long per key;
  *    groups are (ip,item,doc) click chains — small by nature (a
  *    human's clicks on one item), so per-group sort is O(chain);
  *    the shuffle is one hash partition by key, the same shuffle any
  *    sessionization needs. An input already in one partition (a
  *    nightly day file, [[graft.plans.OnePartition]]) has every key
  *    co-located and skips that shuffle.
  *  - [[lagApprox]] — pure window-function variant (no object
  *    serialization), usable when the approximation is acceptable.
  */
object Repeat {

  /** Faithful per-key scan: keep a hit iff `sec - lastKept > timeout`
    * (first hit always kept); emits the kept rows unchanged.
    *
    * Secondary-sort dataflow: hash-repartition by key, then
    * `sortWithinPartitions(key, sec, tieBreak)` — the sort runs in
    * Tungsten's spillable sorter (codegen'd comparators, off-heap),
    * NOT in per-group heap arrays — and one `mapPartitions` streams
    * each partition once, resetting one long of state at key
    * boundaries. No group is ever materialized, so a pathological key
    * (a scraper hammering one item for months) costs O(1) memory
    * instead of O(chain); the `groupByKey.flatMapGroups` formulation
    * would buffer and sort that chain on the executor heap. The
    * repartition only co-locates each key's rows, so an input whose
    * plan reports one partition is sorted where it is. */
  def sequential(df: DataFrame, keyCols: Seq[String], secCol: String,
      timeout: Long, tieBreakCol: String): DataFrame = {
    val schema = df.schema
    val secIdx = schema.fieldIndex(secCol)
    val keyIdxs = keyCols.map(schema.fieldIndex).toList
    implicit val enc = RowEncoder.encoderFor(schema)
    val keyed = if (OnePartition.reported(df)) df else df.repartition(keyCols.map(col): _*)
    keyed.sortWithinPartitions(
        (keyCols.map(col) :+ col(secCol) :+ col(tieBreakCol)): _*)
      .mapPartitions { it =>
        var curKey: List[Any] = null
        var started = false
        var lastKept = Long.MinValue
        // deepEquals per element: List[Any] `==` is reference equality
        // for array/binary key columns, which would split every row
        // into its own group and disable suppression silently
        def sameKey(a: List[Any], b: List[Any]): Boolean =
          a.corresponds(b)(java.util.Objects.deepEquals)
        it.filter { r =>
          val k = keyIdxs.map(r.get)
          if (!started || !sameKey(k, curKey)) {
            started = true; curKey = k; lastKept = Long.MinValue
          }
          val sec = r.getLong(secIdx)
          val keep = lastKept == Long.MinValue || sec - lastKept > timeout
          if (keep) lastKept = sec
          keep
        }
      }
  }

  /** Lag-window approximation: drop when within timeout of the
    * previous (kept-or-not) hit. */
  def lagApprox(df: DataFrame, keyCols: Seq[String], secCol: String,
      timeout: Long, tieBreakCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(secCol), col(tieBreakCol))
    df.withColumn("__prev", lag(col(secCol), 1).over(w))
      .filter(col("__prev").isNull || col(secCol) - col("__prev") > timeout)
      .drop("__prev")
  }

  /** Batch sessionization — the batch counterpart of the streaming
    * St5 state op: a new session starts at the first hit per key or
    * after a gap > `gapSec`; `session` numbers sessions 1..n within
    * the key via a running sum of new-session flags. One window
    * shuffle per key set; entirely codegen'd window functions (no
    * per-group state objects), the classic gaps-and-islands plan. */
  def sessionize(df: DataFrame, keyCols: Seq[String], secCol: String,
      gapSec: Long, tieBreakCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(secCol), col(tieBreakCol))
    df.withColumn("__prev", lag(col(secCol), 1).over(w))
      .withColumn("__new",
        (col("__prev").isNull || col(secCol) - col("__prev") > gapSec)
          .cast("long"))
      .withColumn("session", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new")
  }
}
