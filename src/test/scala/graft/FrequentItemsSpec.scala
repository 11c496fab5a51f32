package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FrequentItems

/** Misra–Gries frequent-items sketch: exactness in the
  * capacity-exceeds-dictionary regime (the oracle-gated one) and the
  * classic error bounds in the lossy regime, across real partitioned
  * aggregation (map-side partials + merge). */
class FrequentItemsSpec extends AnyFunSuite with SparkSpec {

  /** Zipf-ish skewed corpus: term i repeated floor(1000/i) times. */
  private def corpus: Seq[String] =
    (1 to 200).flatMap(i => Seq.fill(1000 / i)(s"term$i"))

  private def exactCounts(terms: Seq[String]): Map[String, Long] =
    terms.groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }

  private def sketchOf(terms: Seq[String], capacity: Int, parts: Int): Map[String, Long] = {
    val s = spark; import s.implicits._
    val sk = udaf(new FrequentItems(capacity))
    terms.toDF("term").repartition(parts)
      .agg(sk(col("term")).as("sk"))
      .head().getMap[String, Long](0).toMap
  }

  test("exact when capacity exceeds the dictionary, across 8 partitions") {
    val terms = corpus
    val got = sketchOf(terms, capacity = 1024, parts = 8)
    assert(got == exactCounts(terms))
  }

  test("lossy regime: underestimates bounded by N/(capacity+1), heavy hitters present") {
    val terms = corpus
    val n = terms.size.toLong
    val cap = 16
    val bound = n / (cap + 1)
    val exact = exactCounts(terms)
    val got = sketchOf(terms, capacity = cap, parts = 8)
    assert(got.size <= cap)
    got.foreach { case (t, est) =>
      val truth = exact(t)
      assert(est <= truth, s"$t overestimated: $est > $truth")
      assert(truth - est <= bound, s"$t undercount ${truth - est} > $bound")
    }
    // every term with true count > N/(cap+1) must survive
    exact.filter(_._2 > bound).keys.foreach { t =>
      assert(got.contains(t), s"heavy hitter $t missing")
    }
  }

  test("merge is order-robust: single partition and many partitions agree in the exact regime") {
    val terms = corpus
    assert(sketchOf(terms, 1024, 1) == sketchOf(terms, 1024, 16))
  }

  test("nulls are ignored") {
    val s = spark; import s.implicits._
    val sk = udaf(new FrequentItems(8))
    val got = Seq(Some("a"), None, Some("a"), None).toDF("term")
      .agg(sk(col("term")).as("sk")).head().getMap[String, Long](0).toMap
    assert(got == Map("a" -> 2L))
  }

  test("count-min sketch: never undercounts; overcount within eps*N (lossy regime)") {
    val s = spark; import s.implicits._
    val terms = corpus
    val exact = exactCounts(terms)
    val n = terms.size.toLong
    // eps = 0.05 -> width ~55 cells per row, far below the 200-term
    // dictionary: collisions are certain, the bound must still hold
    val eps = 0.05
    val df = terms.toDF("term").repartition(8)
    val probes = (1 to 200 by 7).map(i => s"term$i")
    val got = graft.functions.Cms
      .termCounts(df, "term", probes, eps = eps, confidence = 0.99)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    probes.foreach { t =>
      assert(got(t) >= exact(t), s"$t undercounted: ${got(t)} < ${exact(t)}")
      assert(got(t) <= exact(t) + (eps * n).toLong,
        s"$t overcounted past eps*N: ${got(t)} vs ${exact(t)} + ${(eps * n).toLong}")
    }
  }

  test("count-min sketch: exact regime equals exact counts") {
    val s = spark; import s.implicits._
    val terms = corpus
    val exact = exactCounts(terms)
    val probes = Seq("term1", "term2", "term50", "term200")
    val got = graft.functions.Cms
      .termCounts(terms.toDF("term").repartition(8), "term", probes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    probes.foreach(t => assert(got(t) == exact(t)))
  }
}
