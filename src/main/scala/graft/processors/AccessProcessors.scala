package graft.processors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.classify.{Classify, Geo}
import graft.ingest.AccessLog
import graft.processors.Processors.dailyFact

/** Concrete metric processors over the parsed access-event stream
  * (SURVEY.md §1.3 datatype table): each turns enriched events into
  * daily fact rows (date, id, value, count) for its datatype.
  *
  * All of them run over ONE shared scan of the filtered events — the
  * orchestrator unions their outputs with a datatype tag, so the 100 TB
  * pass is paid once, not once per metric (the reference achieves the
  * same with its single-pass processor fan-out, `Access.pm:259-351`).
  */
object AccessProcessors {

  /** downloads/views (F5 split; ref `Processor/Access/Downloads.pm`). */
  object DownloadsViews extends MetricProcessor {
    val provides = Seq("downloads", "views")
    def process(events: DataFrame): DataFrame =
      dailyFact(AccessLog.withDownloadFlag(events),
        tsCol = "ts", idCol = "referent_id", valueCol = "value")
  }

  /** doc_downloads: downloads keyed by DOCUMENT id
    * (ref `Processor/Access/DocDownloads.pm:36-48`). */
  object DocDownloads extends MetricProcessor {
    val provides = Seq("doc_downloads")
    def process(events: DataFrame): DataFrame =
      dailyFact(
        events.filter(col("referent_docid").isNotNull)
          .withColumn("value", lit("doc_downloads")),
        tsCol = "ts", idCol = "referent_docid", valueCol = "value")
  }

  /** countries: GeoIP country of download hits
    * (ref `Processor/Access/Country.pm` — downloads only). */
  final case class Countries(ranges: DataFrame) extends MetricProcessor {
    val provides = Seq("countries")
    def process(events: DataFrame): DataFrame =
      dailyFact(
        Geo.classify(events.filter(col("referent_docid").isNotNull), ranges)
          .filter(col("country").isNotNull)
          .withColumn("value", col("country")),
        tsCol = "ts", idCol = "referent_id", valueCol = "value")
  }

  /** browsers (ref `Processor/Access/Browsers.pm`). */
  object Browsers extends MetricProcessor {
    val provides = Seq("browsers")
    def process(events: DataFrame): DataFrame =
      dailyFact(
        events.withColumn("value", Classify.browser(col("requester_user_agent"))),
        tsCol = "ts", idCol = "referent_id", valueCol = "value")
  }

  /** referrer labels (ref `Processor/Access/Referrer.pm`). */
  final case class Referrer(localHost: String) extends MetricProcessor {
    val provides = Seq("referrer")
    def process(events: DataFrame): DataFrame =
      dailyFact(
        events.withColumn("value",
          Classify.referrer(col("referring_entity_id"), localHost)),
        tsCol = "ts", idCol = "referent_id", valueCol = "value")
  }

  /** search_terms: one fact row per extracted term
    * (ref `Processor/Access/SearchTerms.pm` — the UDTF-shaped one). */
  object SearchTerms extends MetricProcessor {
    val provides = Seq("search_terms")
    def process(events: DataFrame): DataFrame =
      dailyFact(
        events.select(col("ts"), col("referent_id"),
          explode(Classify.searchTerms(
            Classify.searchQuery(col("referring_entity_id")))).as("value")),
        tsCol = "ts", idCol = "referent_id", valueCol = "value")
  }
}
