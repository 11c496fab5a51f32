package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator as-of join, implemented as a first-class Catalyst
  * operator: a logical node ([[AsOfJoinPlan]]), a planner strategy
  * ([[AsOfJoinStrategy]], injected by [[GraftExtensions]]), and a
  * physical sort-merge operator ([[AsOfJoinExec]]).
  *
  * Semantics (left as-of join, called through
  * `graft.operators.AsOfJoin.leftAsOf`): every left row gets the
  * LATEST right row with equal key and right.time <= left.time, or
  * nulls when none precedes it. Keys compare null-safely (null keys
  * group together, like Spark's `<=>`); callers that want SQL
  * equality filter null keys first.
  *
  * Scale posture — why a custom SparkPlan (escalation ladder step c,
  * SURVEY.md §7.3) instead of the union+window composition:
  *  - `requiredChildDistribution` clusters EACH side on its own key,
  *    so Catalyst's EnsureRequirements shuffles the (small) probe and
  *    (large) build sides independently — the composed form must
  *    union both sides into ONE shuffle whose rows carry the superset
  *    schema (every column padded with nulls on the other side's
  *    rows), moving strictly more bytes through the exchange.
  *  - `requiredChildOrdering` delegates the (key, time) sort to
  *    Spark's SortExec (codegen'd, spillable radix sort), and AQE
  *    still re-plans the exchanges; the merge itself is a streaming
  *    one-pass zip of the two sorted partitions holding ONE buffered
  *    right row group — no window-function state, no row expansion.
  *  - The operator reports `outputPartitioning`/`outputOrdering`, so
  *    a downstream groupBy on the same key reuses the shuffle.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. */
class AsOfJoinStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: children are hash-clustered on their keys and
  * sorted by (key, time); each co-located partition pair is merged in
  * one streaming pass. Per left row (ascending time within key) the
  * right side is advanced while right (key, time) <= left (key, time),
  * remembering the last equal-key right row — O(|L| + |R|) per
  * partition, constant memory beyond the two child sort buffers.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // one left row out per left row in, partitioning preserved
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def ordering(keys: Seq[Expression], time: Expression): Seq[SortOrder] =
    (keys :+ time).map(SortOrder(_, Ascending))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(ordering(leftKeys, leftTime), ordering(rightKeys, rightTime))

  override def outputOrdering: Seq[SortOrder] = ordering(leftKeys, leftTime)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val sortTypes = keyTypes :+ leftTime.dataType
    val rightWidth = right.output.length
    val outAttrs = output
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys; val rKeys = rightKeys
    val lTime = leftTime; val rTime = rightTime

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // (key..., time) sort-tuple projections; comparing the full
      // tuple (<= 0) is exactly "right precedes-or-ties left"
      val lSortProj = UnsafeProjection.create(lKeys :+ lTime, lOut)
      val rSortProj = UnsafeProjection.create(rKeys :+ rTime, rOut)
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val sortOrd = RowOrdering.createNaturalAscendingOrdering(sortTypes)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val rBuf = rIter.buffered

      new Iterator[InternalRow] {
        private var curKey: InternalRow = _   // owned copy of current left key
        private var lastMatch: InternalRow = _ // owned copy of latest right row

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          if (curKey == null || keyOrd.compare(lKey, curKey) != 0) {
            curKey = lKey.copy()
            lastMatch = null
          }
          val lSort = lSortProj(l) // stays valid: distinct buffer from rSortProj
          while (rBuf.hasNext && sortOrd.compare(rSortProj(rBuf.head), lSort) <= 0) {
            val r = rBuf.next()
            if (keyOrd.compare(rKeyProj(r), curKey) == 0) lastMatch = r.copy()
          }
          resultProj(joined(l, if (lastMatch != null) lastMatch else nullRight))
        }
      }
    }
  }
}
