package graft.processors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ETL-side metric processors (SURVEY.md §2.4 A1).
  *
  * The reference's defining design fact: queries never touch raw events —
  * every processor pre-aggregates to daily counts with grain
  * (day, id, value) (`Processor/Access/Downloads.pm:44-51` in-memory
  * `cache{date}{epid}{value}++`, flushed by `Handler.pm:708-754`).
  *
  * In Spark this is a single hash aggregate with map-side partial
  * aggregation; at 100 TB the output (the fact table) is ~10^4× smaller
  * than the input, so this is the one full pass over raw data.
  */
trait MetricProcessor {
  /** datatype(s) this processor provides (ref `Processor.pm:15-26`). */
  def provides: Seq[String]
  /** events → fact rows (date, id, value, count). */
  def process(events: DataFrame): DataFrame
}

object Processors {

  /** Generic daily pre-aggregation: grain (day, id, value).
    * Ref `Processor/Access/Downloads.pm:35-54` and analogs. */
  def dailyFact(events: DataFrame, tsCol: String = "ts",
      idCol: String = "user_id", valueCol: String = "event_type"): DataFrame =
    events
      .groupBy(
        to_date(col(tsCol)).as("date"),
        col(idCol).cast("long").as("id"),
        col(valueCol).as("value"))
      .agg(count(lit(1)).as("count"))

  /** S6 value truncation (ref `Handler.pm:682-690`: >767 bytes → 191
    * chars, the MySQL utf8mb4 index limit). */
  def truncateValue(df: DataFrame, col_ : String = "value"): DataFrame =
    df.withColumn(col_,
      when(octet_length(col(col_)) > 767, substring(col(col_), 1, 191))
        .otherwise(col(col_)))
}
