package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.processors.Processors
import graft.query.QueryCompiler.Catalog

/** One board query: its name, the DuckDB SQL that gates its result,
  * and the Spark build over (session, sfDir). Declaring all three
  * together keeps a query and its oracle from drifting apart. */
final case class Query(name: String, oracle: String)(
    val build: (SparkSession, String) => DataFrame)

/** Fixtures and DuckDB helpers used by more than one query family. */
private[graft] object Shared {

  def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** Session-level on-disk fixture cache. Queries that need a derived
    * directory (format round-trips, snapshot generations) materialize
    * it ONCE per (tag, sfDir) and reuse it for the rest of the JVM —
    * under the 3-run cold/warm bench protocol a per-invocation
    * createTempDirectory would otherwise rewrite the fixture 3× per
    * round, the timed "query" would be dominated by write I/O, and
    * /tmp would accumulate orphan dirs across rounds. A shutdown hook
    * removes each dir at JVM exit. */
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def fixtureDir(tag: String, sfDir: String)
      (build: String => Unit): String =
    fixtureCache.computeIfAbsent(s"$tag|$sfDir", { _ =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_$tag").toString
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(dir))
      }
      build(dir)
      dir
    })

  /** The shared daily fact (A1) as a DuckDB CTE — mirror of
    * [[Processors.dailyFact]]. */
  val factCte =
    """fact AS (
      |  SELECT CAST(ts AS DATE) AS date, user_id AS id,
      |         event_type AS value, COUNT(*) AS count
      |  FROM events GROUP BY 1, 2, 3
      |)""".stripMargin

  def fact(s: SparkSession, d: String): DataFrame =
    Processors.dailyFact(ev(s, d))

  def catalog(s: SparkSession, d: String): Catalog =
    Catalog(facts = Map("events" -> fact(s, d)))

  /** DuckDB mirror of [[Text.hash60]]: hex-prefix cast of md5. */
  def hex60(x: String): String =
    s"CAST('0x'||substr(md5($x),1,15) AS BIGINT)"

  val stopList = Text.stopwords.map(s => s"'$s'").mkString(",")

  def markerFilter(markers: Seq[String]): String =
    s"len(list_filter(toks, x -> x IN (${markers.map(m => s"'$m'").mkString(",")})))"

  /** MinHash+LSH near-dup pair pipeline as a reusable CTE chain
    * (ends in `pairs(a, b)`) — mirror of [[Dedup.minhashNearDup]],
    * shared by the d2 and d6 oracles. */
  val minhashPairsCtes: String = {
    val masks = graft.dedup.Dedup.minhashMasks(16)
    val minAggs = masks.zipWithIndex
      .map { case (m, i) => s"MIN(xor(h, ${m}::BIGINT)) AS m$i" }.mkString(", ")
    val bandRows = (0 until 4).map { b =>
      val ms = (b * 4 until (b + 1) * 4).map(i => s"m$i::VARCHAR").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($ms) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
       |  WHERE len(string_split(lower(text), ' ')) >= 3),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> ${hex60("array_to_string(list_slice(toks, i, i + 2), ' ')")}))) AS h
       |  FROM t),
       |sig AS (SELECT doc_id, $minAggs FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, COUNT(*) AS i
       |  FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y ON y.doc_id = c.b AND x.h = y.h
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a, b FROM inter
       |  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
       |  WHERE i * 2 >= (sa.n + sb.n - i) * 1)""".stripMargin
  }
}
