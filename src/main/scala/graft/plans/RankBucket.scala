package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Native range-bucket assignment for
  * [[graft.operators.GlobalRank]]: the bucket id of
  * a row is the number of sampled boundary cut tuples that sort
  * at-or-before the row's key tuple under the requested
  * per-column direction + null ordering.
  *
  * Why a custom Expression (SURVEY.md §7.3 escalation ladder): the
  * composable form — a SUM of p-1 lexicographic CASE WHEN chains —
  * costs O(p · k) comparisons per row through branches the optimizer
  * can't share, measured ~2.9 µs/row at p=32/k=2 on the 30x step
  * (the bucket projection alone was 10x the whole query of a
  * range-partitioned rank). This expression does ONE binary search
  * over the cut array: O(k · log p) comparisons through a referenced
  * searcher object, inside whole-stage codegen.
  *
  * Never null (an empty cut array means bucket 0 for every row).
  * The cut tuples hold CATALYST values (UTF8String, Decimal, ...) in
  * the key columns' types, matching what the children evaluate to. */
case class RankBucket(children: Seq[Expression], searcher: CutSearcher)
    extends Expression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "rank_bucket"

  override def eval(input: InternalRow): Any = {
    val vals = new Array[Any](children.length)
    var i = 0
    while (i < children.length) { vals(i) = children(i).eval(input); i += 1 }
    searcher.bucket(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cutSearcher", searcher,
      classOf[CutSearcher].getName)
    val evals = children.map(_.genCode(ctx))
    val arr = ctx.freshName("rankBucketVals")
    val bucket = ctx.freshName("rankBucket")
    val assigns = children.indices.map { i =>
      val dt = searcher.types(i)
      val boxed =
        if (CodeGenerator.isPrimitiveType(dt))
          s"${CodeGenerator.boxedType(dt)}.valueOf(${evals(i).value})"
        else s"(Object) ${evals(i).value}"
      s"$arr[$i] = ${evals(i).isNull} ? null : $boxed;"
    }.mkString("\n")
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(
      code = code"""
        $childCode
        Object[] $arr = new Object[${children.length}];
        $assigns
        int $bucket = $ref.bucket($arr);
      """,
      isNull = FalseLiteral,
      value = JavaCode.variable(bucket, IntegerType))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RankBucket =
    copy(children = newChildren)
}

/** Binary search over sorted boundary cut tuples (see [[RankBucket]]).
  * Immutable and serializable; one instance rides the stage's
  * reference array, shared by all tasks. `desc`/`nullsFirst` describe
  * the FINAL position per column (a descending column's nullsFirst is
  * already the post-direction placement, exactly Spark's
  * `desc_nulls_last` family). */
final class CutSearcher(
    cuts: Array[Array[Any]],
    val types: Array[DataType],
    desc: Array[Boolean],
    nullsFirst: Array[Boolean]) extends Serializable {

  require(cuts.forall(_.length == types.length),
    "rank_bucket: cut arity != key arity")

  @transient private lazy val ords: Array[Ordering[Any]] =
    types.map(TypeUtils.getInterpretedOrdering)

  /** cut vs row under the effective (direction-applied) order:
    * negative = cut sorts strictly before the row. */
  private def cmp(cut: Array[Any], vals: Array[Any]): Int = {
    var i = 0
    while (i < types.length) {
      val c = cut(i); val x = vals(i)
      val r =
        if (c == null && x == null) 0
        else if (c == null) { if (nullsFirst(i)) -1 else 1 }
        else if (x == null) { if (nullsFirst(i)) 1 else -1 }
        else {
          val b = ords(i).compare(c, x)
          if (desc(i)) -b else b
        }
      if (r != 0) return r
      i += 1
    }
    0
  }

  /** Number of cuts at-or-before `vals` — the upper-bound index. */
  def bucket(vals: Array[Any]): Int = {
    var lo = 0
    var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(cuts(mid), vals) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  def numCuts: Int = cuts.length
}
