package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.functions.Text

/** Native hyperplane-LSH bucket expression: sign bits of `planes`
  * random-hyperplane dot products over an array<double> vector,
  * packed into a long.
  *
  * Why a custom Expression (SURVEY.md §7.3 escalation ladder): the
  * composable form unrolls planes x maxDim `try_element_at` terms —
  * a 512-node Catalyst tree (8x64) that every analyzer/optimizer
  * pass re-walks, costing ~0.5 s of PLANNING per query on a tree
  * that executes in microseconds. One expression node with a fused
  * codegen loop makes planning O(1) and the inner loop tighter than
  * the unrolled sum chain.
  *
  * Semantics are bit-identical to the unrolled form: weights are the
  * md5-derived literals `(hash60("p|j") % 2001 - 1000) / 1000`,
  * accumulated in index order j = 0..n-1 (elements beyond a short
  * vector contribute exactly 0.0, like the unrolled coalesce terms;
  * PipelineSpec compares the two); bit p set iff dot >= 0. Vectors
  * LONGER than `maxDim` would silently truncate, so they throw
  * instead.
  */
case class HyperplaneBucket(child: Expression, planes: Int, maxDim: Int)
    extends UnaryExpression {

  require(planes > 0 && planes < 63, s"planes out of range: $planes")

  override def dataType: DataType = LongType

  override def prettyName: String = "hyperplane_bucket"

  /** Deterministic hyperplane weights, row-major [plane][dim] — the
    * exact literals the composable formulation embedded. */
  @transient private lazy val weights: Array[Double] =
    HyperplaneBucket.weights(planes, maxDim)

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n > maxDim)
      throw new IllegalArgumentException(
        s"hyperplane_bucket: vector dim $n exceeds maxDim=$maxDim")
    val w = weights
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var j = 0
      while (j < n) { dot += v.getDouble(j) * w(p * maxDim + j); j += 1 }
      if (dot >= 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val w = ctx.addReferenceObj("weights", weights, "double[]")
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $v.numElements();
         |if ($n > $maxDim) {
         |  throw new IllegalArgumentException(
         |    "hyperplane_bucket: vector dim " + $n + " exceeds maxDim=$maxDim");
         |}
         |${ev.value} = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $dot += $v.getDouble($j) * $w[$p * $maxDim + $j];
         |  }
         |  if ($dot >= 0) ${ev.value} |= 1L << $p;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

object HyperplaneBucket {
  /** Deterministic weight derivation, row-major [plane][dim]. */
  def weights(planes: Int, maxDim: Int): Array[Double] = {
    val out = new Array[Double](planes * maxDim)
    var p = 0
    while (p < planes) {
      var j = 0
      while (j < maxDim) {
        out(p * maxDim + j) =
          (Text.hash60Literal(s"$p|$j") % 2001 - 1000).toDouble / 1000.0
        j += 1
      }
      p += 1
    }
    out
  }
}
