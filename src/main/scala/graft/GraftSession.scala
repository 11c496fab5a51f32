package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every main and spec uses, so every tool
  * plans and times the same thing (the reference runs every entry
  * point from one config file, `cfg.d/z_irstats2.pl`).
  *
  * Cores come from `SPARK_GRAFT_CPUS`, else the host's processor
  * count; the master from `SPARK_GRAFT_MASTER`, else `local[cores]`.
  * The SQL confs are the ones the benchmark pins:
  *  - GraftExtensions for the native expressions. They are part of
  *    the engine, not an option: the library calls `hash60`,
  *    `contains_any`, `cosine_sim`, `hyperplane_bucket` and
  *    `nfc_normalize` directly, so a session built without them fails
  *    at analysis with `UNRESOLVED_ROUTINE`;
  *  - AQE on, with shuffles STARTING at 8x cores so AQE coalesces them
  *    down to the advisory size. Coalescing is free, but AQE can never
  *    SPLIT an oversized non-skew-join partition: with a flat
  *    partition count at the 30x step every sort/join task carried 30x
  *    the state in one heap slice (the g2 OOM class);
  *  - UTC session time zone;
  *  - `parquet.nanosAsLong`, for parquet snapshots that carry
  *    TIMESTAMP(NANOS) (see [[Tables.events]]).
  * The UI is off, and the streaming parity queries' auto temp
  * checkpoints are deleted on success (that also keeps their INFO/WARN
  * chatter out of the tail Bench's contract line is read from). */
object GraftSession {
  def create(logLevel: String = "WARN"): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (8 * cores).toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
