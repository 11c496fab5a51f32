package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin

/** The whole-operator as-of join (AsOfJoinPlan/Strategy/Exec): null
  * payloads, type checks, filter pushdown, and a physical plan that is
  * the custom operator with two independent child exchanges (no
  * unioned superset-schema shuffle). PropertySpec checks its results
  * against a naive quadratic max-filter join.
  */
class AsOfNativeSpec extends AnyFunSuite with SparkSpec {

  test("left rows with no preceding right row keep null payloads") {
    val s = spark; import s.implicits._
    val left = Seq((1L, 10L, 1L), (2L, 5L, 2L)).toDF("k", "lt", "lid")
    val right = Seq((1L, 3L, 7L), (2L, 6L, 8L)).toDF("k", "rt", "rid")
    val out = AsOfJoin.leftAsOf(left, right, "k", "lt", "lid", "rt", "rid")
      .orderBy("lid").collect()
    assert(out(0).getLong(3) == 7L)   // k=1: rt 3 <= lt 10
    assert(out(1).isNullAt(3))        // k=2: rt 6 > lt 5 -> no match
  }

  /** Plan-inspection tests must stop ConvertToLocalRelation from
    * folding the pushed Filter into the LocalRelation test input
    * (folding it is itself proof the push happened, but leaves no
    * node to assert on). */
  private def withNoLocalFold[A](body: => A): A = {
    val k = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("key filter above the join is pushed into BOTH children") { withNoLocalFold {
    val s = spark; import s.implicits._
    val left = Seq((1L, 10L, 1L), (2L, 10L, 2L)).toDF("k", "lt", "lid")
    val right = Seq((1L, 3L, 7L), (2L, 3L, 8L)).toDF("k", "rt", "rid")
    val df = AsOfJoin.leftAsOf(left, right, "k", "lt", "lid", "rt", "rid")
      .filter(org.apache.spark.sql.functions.col("k") === 1L)
    val opt = df.queryExecution.optimizedPlan
    // the filter must sit below the as-of node on both sides, not above it
    val aj = opt.collectFirst { case a: graft.plans.AsOfJoinPlan => a }.get
    def filters(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }
    assert(filters(aj.left).nonEmpty, aj.left.toString)
    assert(filters(aj.right).nonEmpty, aj.right.toString)
    // no residual Filter anywhere above the join (root-to-node path):
    // every Filter in the whole plan is inside one of the children
    assert(filters(opt).size == filters(aj.left).size + filters(aj.right).size,
      opt.toString)
    // and results are still correct
    val rows = df.orderBy("lid").collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 1L && rows(0).getLong(3) == 7L)
  }}

  test("error-throwing key predicate is pushed left but NOT mirrored right") { withNoLocalFold {
    val s = spark; import s.implicits._
    val left = Seq((1L, 10L, 1L), (2L, 10L, 2L)).toDF("k", "lt", "lid")
    // right holds k=0: a mirrored `10 div k = 10` would raise
    // DIVIDE_BY_ZERO under ANSI on a row the query never evaluates
    val right = Seq((0L, 3L, 7L), (1L, 3L, 8L)).toDF("k", "rt", "rid")
    val df = AsOfJoin.leftAsOf(left, right, "k", "lt", "lid", "rt", "rid")
      .filter(org.apache.spark.sql.functions.expr("10 div k = 10"))
    val aj = df.queryExecution.optimizedPlan
      .collectFirst { case a: graft.plans.AsOfJoinPlan => a }.get
    assert(aj.left.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.nonEmpty)
    assert(aj.right.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.isEmpty,
      aj.right.toString)
    val rows = df.collect() // must not throw
    assert(rows.length == 1 && rows(0).getLong(0) == 1L && rows(0).getLong(3) == 8L)
  }}

  test("mismatched key types are rejected up front") {
    val s = spark; import s.implicits._
    val left = Seq((1L, 10L, 1L)).toDF("k", "lt", "lid")
    val right = Seq((1, 3L, 7L)).toDF("k", "rt", "rid") // k: INT vs LONG
    intercept[IllegalArgumentException] {
      AsOfJoin.leftAsOf(left, right, "k", "lt", "lid", "rt", "rid")
    }
  }

  test("left-only non-key filter pushes left but NOT right") { withNoLocalFold {
    val s = spark; import s.implicits._
    val left = Seq((1L, 10L, 1L), (1L, 2L, 3L)).toDF("k", "lt", "lid")
    val right = Seq((1L, 3L, 7L)).toDF("k", "rt", "rid")
    val df = AsOfJoin.leftAsOf(left, right, "k", "lt", "lid", "rt", "rid")
      .filter(org.apache.spark.sql.functions.col("lt") > 5L)
    val aj = df.queryExecution.optimizedPlan
      .collectFirst { case a: graft.plans.AsOfJoinPlan => a }.get
    assert(aj.left.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.nonEmpty)
    // mirror must not reach the right side: lt is not a key
    assert(aj.right.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.references.exists(_.name == "__rt") => f }.isEmpty)
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getLong(2) == 10L && rows(0).getLong(3) == 7L)
  }}

  test("filter on the right payload stays above the join (nulls preserved)") {
    val s = spark; import s.implicits._
    val left = Seq((1L, 10L, 1L), (2L, 10L, 2L)).toDF("k", "lt", "lid")
    val right = Seq((1L, 3L, 7L)).toDF("k", "rt", "rid")
    val df = AsOfJoin.leftAsOf(left, right, "k", "lt", "lid", "rt", "rid")
      .filter(org.apache.spark.sql.functions.col("rid").isNull)
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 2L) // k=2 had no match
  }

  test("physical plan is AsOfJoinExec with per-side exchanges, no union") {
    val s = spark; import s.implicits._
    val left = Seq((1L, 10L, 1L)).toDF("k", "lt", "lid")
    val right = Seq((1L, 3L, 7L)).toDF("k", "rt", "rid")
    val df = AsOfJoin.leftAsOf(left, right, "k", "lt", "lid", "rt", "rid")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.toLowerCase.contains("union"), plan)
    assert(!plan.toLowerCase.contains("window"), plan)
  }
}
