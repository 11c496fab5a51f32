package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the local scaling rehearsal.
  *
  * Reads a driver-generated SF dir (TESTDATA.md) and writes an
  * N×-larger copy: each fact/dim row is replicated `copies` times with
  * every join key remapped `key * copies + copyIdx`, so referential
  * integrity holds within each copy and keys stay unique across
  * copies. `region`/`nation` stay fixed (TPC-H-style constant dims —
  * scaling them would change the join shape, not just the volume).
  *
  * Two deliberate deviations from straight duplication keep the
  * near-dup workloads non-degenerate:
  *  - `documents.text` gets a tiny per-copy prefix (copy 0 pristine),
  *    so MinHash/SimHash/Jaccard candidates grow ~linearly instead of
  *    every LSH bucket holding all N clones of every doc (which would
  *    quadratically inflate candidate pairs and measure a pathology,
  *    not scaling). `n_chars` is adjusted to stay consistent.
  *  - `embeddings.embedding` gets one element nudged per copy, for the
  *    same reason on the cosine/IVF paths.
  *
  * Output is written with multiple parquet files per table (sized so a
  * 32-thread scan has real parallelism) — the driver's SF dirs are
  * single-row-group files whose scans are one task by construction,
  * which masks everything downstream at sf0.1+.
  *
  * Usage: `sbt "runMain graft.ScaleGen [inDir] [outDir] [copies]"`.
  * All transforms are deterministic (no rand), so reruns are
  * byte-stable modulo parquet file ordering.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/sfgen/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10

    // events.ts is TIMESTAMP(NANOS) and reads as long under the
    // session's nanosAsLong, so the written long column round-trips
    val spark = GraftSession.create()

    /** Cross-join each row with copy indexes 0..copies-1 as `cp`. */
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("cp", explode(sequence(lit(0), lit(copies - 1))))

    def remap(keys: String*)(df: DataFrame): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) * copies + col("cp")))

    def write(df: DataFrame, name: String, files: Int): Unit = {
      val outDf = if (files <= 1) df.coalesce(1) else df.repartition(files)
      outDf.drop("cp").write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] wrote $name x$copies -> $out/$name.parquet ($files files)")
    }

    def table(name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")

    // fixed dims: straight copy
    write(table("region"), "region", 1)
    write(table("nation"), "nation", 1)

    write(remap("s_suppkey")(replicate(table("supplier"))), "supplier", 2)
    write(remap("p_partkey")(replicate(table("part"))), "part", 4)
    write(remap("c_custkey")(replicate(table("customer"))), "customer", 4)
    write(remap("o_orderkey", "o_custkey")(replicate(table("orders"))), "orders", 8)
    write(remap("l_orderkey", "l_partkey", "l_suppkey")(replicate(table("lineitem"))),
      "lineitem", 32)
    write(remap("event_id", "user_id")(replicate(table("events"))), "events", 16)

    val docs = remap("doc_id")(replicate(table("documents")))
      .withColumn("prefix",
        when(col("cp") === 0, lit("")).otherwise(concat(lit("c"), col("cp"), lit(" "))))
      .withColumn("text", concat(col("prefix"), col("text")))
      .withColumn("n_chars", col("n_chars") + length(col("prefix")))
      .drop("prefix")
    write(docs, "documents", 8)

    val embs = remap("vec_id")(replicate(table("embeddings")))
      .withColumn("embedding",
        expr(s"transform(embedding, (x, j) -> " +
          "CASE WHEN j = pmod(cp, size(embedding)) " +
          "THEN cast(x + 0.001d * cp AS float) ELSE x END)"))
    write(embs, "embeddings", 4)

    spark.stop()
  }
}
