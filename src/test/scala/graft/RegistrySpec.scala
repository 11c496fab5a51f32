package graft

import org.scalatest.funsuite.AnyFunSuite

/** The board registry: every query is declared once, beside its DuckDB
  * oracle, and [[SparkEntry.queries]] / [[SparkEntry.oracleSql]] are
  * views of [[SparkEntry.all]]. Pure metadata — no session needed. */
class RegistrySpec extends AnyFunSuite {

  test("the registry declares 221 distinct query names") {
    val names = SparkEntry.all.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
    assert(names.size == 221)
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("every Bench headline name is registered") {
    assert(Bench.headline.filterNot(SparkEntry.queries.contains).isEmpty)
  }

  test("no oracle is blank") {
    assert(SparkEntry.all.filter(_.oracle.trim.isEmpty).map(_.name).isEmpty)
  }

  test("batch/replay and per-call/persisted twins share one oracle") {
    val twins = Seq(
      "kp1_llm_curation" -> "kp2_stream_curation",
      "kp3_curation_pipeline" -> "kp4_stream_curate",
      "v17_filtered_ivf_pq" -> "v18_persisted_ivf_pq")
    for ((a, b) <- twins)
      assert(SparkEntry.oracleSql(a) == SparkEntry.oracleSql(b), s"$a vs $b")
  }
}
