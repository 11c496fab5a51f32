package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** As-of join: for every left row, attach the most recent right row
  * with the same key and time <= the left row's time (the attribution
  * / snapshot-alignment join — "which view led to this purchase",
  * "which config revision was live for this hit").
  *
  * Spark's DataFrame API has no as-of join, so this runs the whole-
  * operator Catalyst stack ([[graft.plans.AsOfJoinPlan]] →
  * [[graft.plans.AsOfJoinExec]], planned via the injected
  * [[graft.plans.AsOfJoinStrategy]]). Each side shuffles
  * independently on its own key and the merge is a one-pass zip of
  * the sorted partitions — no range-condition nested-loop join (the
  * naive left.join(right, lt >= rt) + max() formulation is quadratic
  * per key). It is preferred over a union + last-ignoring-nulls
  * window composition, which gives the same result but measured
  * slower warm at sf0.1 and sf1.
  *
  * Right rows are pre-deduped to one per (key, time) with MAX(id), so
  * the pick is deterministic in any engine (ties at the same time
  * resolve to the max payload id, matching e.g. DuckDB's ASOF against
  * a deduped build side). Keys compare null-safely: null keys group
  * together, so callers that want SQL equality filter them first.
  * Both sides are re-aliased to fresh attributes before the node is
  * built (self-join safety: the custom node is invisible to
  * DeduplicateRelations).
  *
  * Inputs: `left(key, ltime, lid)`, `right(key, rtime, rid)`, with
  * equal key types and equal time types on both sides. Output: (key,
  * lid, ltime, rid, rtime) with null rid/rtime when no right row
  * precedes the left row.
  */
object AsOfJoin {

  def leftAsOf(left: DataFrame, right: DataFrame, key: String,
      ltime: String, lid: String, rtime: String, rid: String): DataFrame = {
    val l = left.select(col(key).as("__lk"), col(ltime).as("__lt"),
      col(lid).as("__lid"))
    val r = right.groupBy(col(key).as("__rk"), col(rtime).as("__rt"))
      .agg(max(col(rid)).as("__rid"))
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(sys.error(s"missing column $n"))
    val lp = GraftBridge.analyzed(l)
    val rp = GraftBridge.analyzed(r)
    // AsOfJoinExec merges with orderings built from the LEFT side's
    // types — a long/int mismatch would compare garbage, so fail fast.
    require(attr(lp, "__lk").dataType == attr(rp, "__rk").dataType,
      s"as-of key types differ: ${attr(lp, "__lk").dataType} vs ${attr(rp, "__rk").dataType}")
    require(attr(lp, "__lt").dataType == attr(rp, "__rt").dataType,
      s"as-of time types differ: ${attr(lp, "__lt").dataType} vs ${attr(rp, "__rt").dataType}")
    val plan = graft.plans.AsOfJoinPlan(lp, rp,
      Seq(attr(lp, "__lk")), Seq(attr(rp, "__rk")),
      attr(lp, "__lt"), attr(rp, "__rt"))
    GraftBridge.ofRows(left.sparkSession, plan)
      .select(col("__lk").as(key), col("__lid").as(lid),
        col("__lt").as(ltime), col("__rid").as(rid), col("__rt").as(rtime))
  }
}
