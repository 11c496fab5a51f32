package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.similarity.Similarity

/** The sf1 regression gate, inside `sbt test`.
  *
  * The sf0.1 → sf1 scale rehearsal (round 6) caught a class of bug the
  * small-SF oracle board cannot: index/training structures that grow
  * with the corpus (the PQ codebook's uncapped stride sample turned a
  * 1.6 s encode into 46 s at 10× data — O(n²/stride)). This spec pins
  * the invariants that rehearsal established, so `sbt test` fails if a
  * future change re-couples any of them to corpus size:
  *
  *  1. PQ codebook cardinality is exactly m·k at ANY corpus size.
  *  2. The IVF centroid cap yields exactly `maxCells` cells at any
  *     corpus size — including sparse/offset id spaces, where a
  *     value-bound (`id < stride·maxCells`) silently under-samples.
  *  3. LSH candidate generation under the bucket cap stays inside a
  *     linear envelope across a 2× scale-up of the driver's sf0.001
  *     documents (replicated the same way ScaleGen builds sf1), while
  *     the uncapped form demonstrably exceeds it — i.e. the 100 TB
  *     skew guard is load-bearing, not decorative.
  */
class Sf1RegressionSpec extends AnyFunSuite with SparkSpec {

  /** Deterministic synthetic 64-dim corpus; ids sparse and offset
    * (every id divisible by the 43 stride, so the sample filter keeps
    * all rows and the CAP is the only thing limiting the set). */
  private def synthEmbeddings(n: Int): DataFrame =
    spark.range(n).select(
      (col("id") * 301L + 43000000L).as("vec_id"),
      expr("transform(sequence(1, 64), " +
        "j -> cast(pmod(id * j, 97) / 97.0 as float))").as("embedding"))

  test("sf1 invariant: PQ codebook is m*k codewords at any corpus size") {
    val small = Similarity.pqCodebook(synthEmbeddings(500),
      m = 4, subDim = 16, stride = 43, k = 16)
    val big = Similarity.pqCodebook(synthEmbeddings(5000),
      m = 4, subDim = 16, stride = 43, k = 16)
    assert(small.count() == 64, "m*k codewords expected at 500 vectors")
    assert(big.count() == 64, "codebook grew with the corpus (the sf1 bug)")
  }

  test("sf1 invariant: IVF centroid cap is exact on sparse/offset id spaces") {
    // ids are 43000000 + i*301 — an id-VALUE bound (id < 43*maxCells)
    // would select zero of these; the rank-based cap must return
    // exactly maxCells at both corpus sizes.
    val small = Similarity.ivfCentroids(synthEmbeddings(2000), 43, maxCells = 32)
    val big = Similarity.ivfCentroids(synthEmbeddings(8000), 43, maxCells = 32)
    assert(small.count() == 32)
    assert(big.count() == 32, "cell count grew with the corpus (the sf1 bug)")
  }

  /** sf0.001 documents replicated ScaleGen-style: copy 0 pristine,
    * later copies get a tiny distinguishing prefix. */
  private def scaledDocs(copies: Int): DataFrame = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.withColumn("cp", explode(sequence(lit(0), lit(copies - 1))))
      .withColumn("doc_id", col("doc_id") * copies + col("cp"))
      .withColumn("text", concat(
        when(col("cp") === 0, lit(""))
          .otherwise(concat(lit("c"), col("cp"), lit(" "))),
        col("text")))
      .drop("cp")
  }

  test("sf1 rehearsal: LSH bucket cap holds candidates to a linear envelope") {
    def candidates(copies: Int, cap: Option[Int]): Long =
      Dedup.lshCandidates(
        Dedup.lshBands(Dedup.minhashSignatures(scaledDocs(copies))), cap).count()
    val cap = Some(8)
    val c8 = candidates(8, cap)
    val c16 = candidates(16, cap)
    val uncapped16 = candidates(16, None)
    // capped growth must be ~linear in the scale factor (2x data ->
    // well under the ~4x a quadratic clone-bucket blowup produces)
    assert(c8 > 0, "rehearsal corpus produced no candidates at 8 copies")
    assert(c16 <= 2.5 * c8 + 100,
      s"capped candidates grew super-linearly: $c8 -> $c16")
    // and the cap must actually be doing the bounding at 16 copies
    // (every doc has 16 near-identical clones, so uncapped buckets
    // exceed the cap and generate strictly more pairs)
    assert(uncapped16 > c16,
      s"bucket cap had no effect at 16 copies ($uncapped16 vs $c16)")
  }
}
