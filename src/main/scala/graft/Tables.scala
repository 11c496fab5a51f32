package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * Column pruning + predicate pushdown reach the parquet scan because
  * these return plain lazy DataFrames. */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Some driver-generated parquet snapshots store event timestamps as
    * TIMESTAMP(NANOS), which Spark's vectorized parquet reader rejects;
    * newer snapshots store TIMESTAMP(MICROS), which reads natively.
    * Handle both: [[GraftSession]] sets nanosAsLong (harmless for
    * micros files), and this converts any column that actually
    * materialized as a long back to a micros timestamp — second/day
    * granularity is all the engine needs. */
  private def loadNanos(s: SparkSession, dir: String, name: String,
      tsCols: Seq[String]): DataFrame = {
    val df0 = load(s, dir, name)
    tsCols.foldLeft(df0) { (df, c) =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        case _ => df // already a timestamp — read natively
      }
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame =
    loadNanos(s, d, "events", Seq("ts"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
