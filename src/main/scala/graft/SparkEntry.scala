package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.board.{CoreQueries, EtlQueries, PipelineQueries, Query}
import graft.board.Shared.fact
import graft.series.Series

/** The query board's entry points (contract: SURVEY.md §7).
  *
  * Each board query is one operator from SURVEY.md §2, instantiated
  * over the test tables (TESTDATA.md) and declared ONCE in the
  * registry under `graft.board` as a [[graft.board.Query]]: its name,
  * its DuckDB oracle SQL and its Spark build side by side, split by
  * family into `CoreQueries`, `PipelineQueries` and `EtlQueries`, with
  * the fixtures and DuckDB helpers they share in `Shared`. [[queries]]
  * and [[oracleSql]] are views of [[all]], so a query cannot lose its
  * oracle or be shadowed by a second declaration of its name. The
  * `events` table plays the access-log role (ts ≈ datestamp,
  * user_id ≈ eprintid, event_type ≈ metric value); TPC-H tables play
  * fact/dimension roles for the join shapes.
  *
  * Determinism rules (hash-compared against DuckDB):
  *  - every query ends in a total ORDER BY (ties pinned — SURVEY §7.4.2);
  *  - SUMs of monetary doubles go through DECIMAL(18,2) then back to
  *    DOUBLE (associative, engine-order-independent);
  *  - SUMs of longs are CAST(... AS BIGINT) in SQL (DuckDB's SUM(BIGINT)
  *    is HUGEINT otherwise);
  *  - timestamps are only compared at second/day granularity (the
  *    parquet files carry nanos; Spark reads micros).
  */
object SparkEntry {

  // ===========================================================
  // Flagship: monthly event volume, densified (the reference's
  // "monthly downloads for one item" Graph, z_irstats2.pl:325-332).
  // ===========================================================
  def entry(spark: SparkSession): DataFrame = {
    val f = fact(spark, "/root/testdata/sf0.001")
    val daily = f.groupBy(col("date").as("d")).agg(sum("count").as("cnt"))
    Series.densify(daily).orderBy("d")
  }

  /** Every board query, in family then declaration order. */
  lazy val all: Seq[Query] = {
    val qs = CoreQueries.all ++ PipelineQueries.all ++ EtlQueries.all
    val twice = qs.groupBy(_.name).collect { case (n, v) if v.size > 1 => n }
    require(twice.isEmpty,
      s"query names declared twice: ${twice.toSeq.sorted.mkString(",")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracle).toMap
}
