package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-interval range join: attach to each row of `points` every
  * row of `intervals` whose half-open [lo, hi) contains the point's
  * value. The reference's closest shape is the GeoIP lookup (ip-range
  * dim, SURVEY §2.3 C1, `Processor/Access/Country.pm:18-105`), which
  * `classify/Geo` special-cases with an /8-octet equi-join; this is
  * the same idea generalized to any numeric axis (price bands, time
  * slots, size buckets).
  *
  * Spark has no native range join: `a.join(b, pt >= lo && pt < hi)`
  * compiles to BroadcastNestedLoopJoin — O(|points| × |intervals|)
  * comparisons, a non-starter when either side is large. The standard
  * scale-out rewrite (Databricks' range-join optimization, DuckDB's
  * IEJoin play the same trick engine-side) is bucketization:
  *
  *  1. pick a bucket width w; an interval [lo, hi) is replicated to
  *     every bucket floor(lo/w)..floor(hi/w) it touches;
  *  2. a point belongs to exactly ONE bucket floor(pt/w);
  *  3. equi-join on the bucket id — a broadcast of the replicated
  *     intervals in [[pointInInterval]], AQE-planned in
  *     [[intervalOverlap]];
  *  4. re-check the exact [lo, hi) predicate to discard same-bucket
  *     near-misses.
  *
  * Cost model: the interval side grows by avg(interval span / w)
  * replicas; the point side pays one extra column. Pick w near the
  * median interval width so replication stays O(1) per interval while
  * buckets stay selective. The join result is EXACT — bucketization
  * only prunes candidate pairs, the residual predicate decides.
  */
object RangeJoin {

  private def bucketOf(c: Column, w: Double): Column =
    floor(c / lit(w)).cast("long")

  /** Inner point-in-interval join, exact semantics
    * `points.pt ∈ [intervals.lo, intervals.hi)`.
    *
    * Output columns: all of `points` then all of `intervals` (minus
    * the internal bucket id). The *replicated* interval table is
    * broadcast (dims of up to a few hundred MB), so the join needs no
    * shuffle on the big point side at all; at 100 TB that is the
    * difference between a map-side join and repartitioning the fact
    * table.
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String, bucketWidth: Double,
      maxReplicasPerInterval: Long = 65536L): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(!points.columns.contains("__bucket") &&
      !intervals.columns.contains("__bucket"),
      "__bucket is reserved by RangeJoin; rename the input column")
    // Empty intervals (hi <= lo + same bucket) match nothing and are
    // dropped up front — without this, sequence() would generate a
    // DESCENDING bucket run for inverted (dirty) intervals and ship
    // junk replicas to the join. The replica cap fails LOUDLY instead
    // of letting one absurdly wide interval (dirty data / wrong
    // bucketWidth) materialize a multi-GB in-row array: replication
    // is the operator's cost knob and must stay O(span/width) small.
    val nReplicas = bucketOf(col(hiCol), bucketWidth) -
      bucketOf(col(loCol), bucketWidth) + lit(1L)
    val replicated = intervals
      .filter(col(loCol) < col(hiCol))
      .withColumn("__bucket", explode(
        when(nReplicas <= maxReplicasPerInterval,
          sequence(bucketOf(col(loCol), bucketWidth),
            bucketOf(col(hiCol), bucketWidth)))
          .otherwise(raise_error(concat(
            lit(s"RangeJoin: interval spans more than $maxReplicasPerInterval" +
              " buckets at bucketWidth="), lit(bucketWidth),
            lit(" — raise bucketWidth or maxReplicasPerInterval"))))))
    // sequence() is inclusive of floor(hi/w): when hi lands exactly on
    // a bucket boundary that last replica can never match (hi is
    // exclusive) — harmless, the residual predicate drops it.
    points.withColumn("__bucket", bucketOf(col(pointCol), bucketWidth))
      .join(broadcast(replicated), Seq("__bucket"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bucket")
  }

  /** Interval-OVERLAP join: every (a, b) pair with
    * `a.[aLo, aHi) ∩ b.[bLo, bHi) ≠ ∅` (and equal `keys`, if given —
    * co-presence within a user/session/device). Both sides replicate
    * to the buckets they touch and equi-join on (keys, bucket); the
    * exact overlap predicate decides, and each surviving pair is
    * emitted ONCE — from the single bucket containing the overlap's
    * start `max(aLo, bLo)` — so no distinct pass is needed (the
    * standard dedup trick of bucketized interval joins). Replication
    * cost is O(span/width) per interval, capped loudly like
    * [[pointInInterval]]. */
  def intervalOverlap(a: DataFrame, b: DataFrame, keys: Seq[String],
      aLo: String, aHi: String, bLo: String, bHi: String,
      bucketWidth: Double,
      maxReplicasPerInterval: Long = 65536L): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def replicate(df: DataFrame, lo: String, hi: String): DataFrame = {
      val n = bucketOf(col(hi), bucketWidth) - bucketOf(col(lo), bucketWidth) + lit(1L)
      df.filter(col(lo) < col(hi))
        .withColumn("__bucket", explode(
          when(n <= maxReplicasPerInterval,
            sequence(bucketOf(col(lo), bucketWidth),
              bucketOf(col(hi), bucketWidth)))
            .otherwise(raise_error(lit(
              s"RangeJoin: interval spans more than $maxReplicasPerInterval " +
                s"buckets at bucketWidth=$bucketWidth")))))
    }
    replicate(a, aLo, aHi)
      .join(replicate(b, bLo, bHi), keys :+ "__bucket")
      .filter(col(aLo) < col(bHi) && col(bLo) < col(aHi))
      .filter(bucketOf(greatest(col(aLo), col(bLo)), bucketWidth) === col("__bucket"))
      .drop("__bucket")
  }
}
