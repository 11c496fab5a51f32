package graft

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Similarity

/** Every ANN entry point answers queries that are not corpus members.
  * Two corpus vectors are held out of the searched corpus and asked
  * for under ids the corpus does not carry. Each such query must get
  * k neighbours, and exactly the ones the member query with the same
  * vector gets over the same searched vectors — so the answer comes
  * from the query's own vector, not from a corpus lookup of its id.
  * Neither held-out id is a multiple of a stride the index structures
  * sample (31, 43), so holding them out leaves every index unchanged. */
class SimilaritySpec extends AnyFunSuite with SparkSpec {

  // projected: a plan of its own, so the JVM's index cache holds
  // nothing for the board rows' corpus
  private lazy val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select("vec_id", "embedding", "label")
  private val heldOut = Seq(100L, 200L)
  private val newId = 1000000L
  private val k = 5

  private def without(ids: Seq[Long]): Column = !F.col("vec_id").isin(ids: _*)

  /** The trained artifacts the explicit-index search is handed. */
  private lazy val trained = (Similarity.trainedIvfCentroids(corpus),
    Similarity.pqCodebookTrained(corpus))

  /** name -> search(ids kept out of the searched corpus, queries) */
  private val searches: Seq[(String, (Seq[Long], DataFrame) => DataFrame)] = Seq(
    "annBruteForce" -> ((out, q) =>
      Similarity.annBruteForce(corpus.filter(without(out)), q, k)),
    // two planes: four buckets, so every bucket holds k candidates
    "annLsh" -> ((out, q) =>
      Similarity.annLsh(corpus.filter(without(out)), q, k, planes = 2)),
    "annIvf" -> ((out, q) =>
      Similarity.annIvf(corpus.filter(without(out)), q, k)),
    "annPqAdc" -> ((out, q) =>
      Similarity.annPqAdc(corpus.filter(without(out)), q, k)),
    // no Lloyd step: the codebook is its stride init, which the
    // held-out vectors do not reach
    "annPqAdcTrained" -> ((out, q) =>
      Similarity.annPqAdcTrained(corpus.filter(without(out)), q, k, iters = 0)),
    "annIvfPq" -> ((out, q) =>
      Similarity.annIvfPq(corpus.filter(without(out)), q, k)),
    "annIvfPqFilteredTrained" -> ((out, q) =>
      Similarity.annIvfPqFilteredTrained(corpus, q, without(out),
        trained._1, trained._2, k)),
    // one index over the full corpus; the predicate holds the ids out
    "annIvfPqPersisted" -> ((out, q) =>
      Similarity.annIvfPqPersisted(corpus, q, without(out), k)))

  /** query_id -> neighbours in rank order; ranks must run 1..n. */
  private def ranked(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().toSeq.groupBy(_.getAs[Long]("query_id")).map { case (q, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")) == (1 to rows.size))
      q -> byRank.map(_.getAs[Long]("neighbor"))
    }

  for ((name, search) <- searches)
    test(s"$name answers out-of-corpus queries from their own vectors") {
      val queries = corpus.filter(F.col("vec_id").isin(heldOut: _*))
        .withColumn("vec_id", F.col("vec_id") + newId)
      val got = ranked(search(heldOut, queries))
      assert(got.keySet == heldOut.map(_ + newId).toSet, s"$name answered $got")
      for (h <- heldOut) {
        val neighbours = got(h + newId)
        assert(neighbours.size == k, s"$name: ${h + newId} got $neighbours")
        assert(!neighbours.exists(heldOut.contains), s"$name: ${h + newId} got $neighbours")
        val asMember = ranked(search(heldOut.filterNot(_ == h),
          corpus.filter(F.col("vec_id") === h)))
        assert(neighbours == asMember(h),
          s"$name: ${h + newId} got $neighbours, member query $h got ${asMember(h)}")
      }
    }
}
