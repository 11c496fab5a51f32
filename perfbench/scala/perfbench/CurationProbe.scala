package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Curation
import graft.dedup.Dedup
import graft.functions.Text
import graft.streaming.Streaming

/** The curation layers' probe: the candidate corpus curated once in
  * batch (`Curation.curate`) and once replayed as a stream
  * (`Streaming.availableNowCurate`, fixed `maxFilesPerTrigger`), with the
  * `functions` (scrub + score) and `dedup` (exact canon + benchmark
  * contamination) stages forced on their own. The two reports must
  * agree row for row. It runs only in traced runs (see `Workload.probes`):
  * a curation workload of its own does not fit the run budget. */
final class CurationProbe(spark: SparkSession, in: String, work: String) {
  private val docs = s"$in/docs"
  private val bench = s"$in/benchmark"
  private val filesPerTrigger = 2
  private var mismatches = Vector.empty[String]

  private def batch(path: String): Seq[Row] =
    Curation.curate(spark.read.parquet(path), spark.read.parquet(bench)).orderBy("source").collect().toSeq

  private def stream(path: String, state: String, perTrigger: Int): Seq[Row] = {
    Main.rm(new File(state))
    try Streaming.availableNowCurate(spark, path, bench, maxFilesPerTrigger = Some(perTrigger),
      statePath = Some(state)).orderBy("source").collect().toSeq
    finally Main.rm(new File(state))
  }

  private def compare(b: Seq[Row], s: Seq[Row]): Boolean = {
    val ok = b.nonEmpty && b.map(_.toSeq) == s.map(_.toSeq)
    if (!ok) mismatches :+= s"batch=${b.mkString(";")} stream=${s.mkString(";")}"
    ok
  }

  private var scoreS, dedupS, staticS = Vector.empty[Double]

  def run(t: Trace): Unit = {
    val cand = spark.read.parquet(docs).withColumn("text", Text.scrubPii(col("text")))
    val benchDocs = spark.read.parquet(bench).withColumn("text", Text.scrubPii(col("text")))
    val (_, sc) = Main.timed(t.span("functions.score")(Curation.scored(cand).count()))
    val (_, dd) = Main.timed(t.span("dedup") {
      Curation.scored(cand).groupBy("key", "keep").agg(min("doc_id")).count() +
        Dedup.contamination(benchDocs, cand, 8).count()
    })
    val b = t.span("curation.batch")(batch(docs))
    val s0 = System.nanoTime()
    val s = t.span("streaming")(stream(docs, s"$work/stream", filesPerTrigger))
    t.drain()
    scoreS :+= sc; dedupS :+= dd
    if (t.streamStartedNs > s0) staticS :+= (t.streamStartedNs - s0) / 1e9
    compare(b, s): Unit
  }

  def checks(): Seq[Check] =
    Seq(Check("curation.stream_equals_batch", mismatches.isEmpty, mismatches.take(2).mkString(" | ")))

  private def mean(v: Seq[Double]) = if (v.isEmpty) 0.0 else v.sum / v.size

  def layers(t: Trace): Map[String, Double] = {
    val n = math.max(scoreS.size, 1).toDouble
    val bs = t.batches.asScala.toSeq
    def total(k: String) = bs.map(_.getOrElse(k, 0L)).sum / 1000.0 / n
    val trig = bs.map(_.getOrElse("triggerExecution", 0L) / 1000.0).sorted
    Map(
      "functions.score_busy_s" -> mean(scoreS),
      "dedup.busy_s" -> mean(dedupS),
      "dedup.shuffle_bytes" -> t.engine("dedup").shuffleWrite / n,
      "streaming.batches" -> bs.size / n,
      "streaming.batch_p50_s" -> (if (trig.isEmpty) 0.0 else trig(trig.size / 2)),
      "streaming.add_batch_s" -> total("addBatch"),
      "streaming.query_planning_s" -> total("queryPlanning"),
      "streaming.wal_commit_s" -> total("walCommit"),
      "streaming.commit_offsets_s" -> total("commitOffsets"),
      "streaming.static_build_s" -> mean(staticS))
  }

}
