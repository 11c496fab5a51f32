package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.store.{Durable, Materialize}

/** The LLM-curation pipeline as a public API surface — the
  * training-data composition the kp1/kp2 keystones exercise:
  * language-ID → Gopher quality gate → exact-dedup keep-first →
  * per-(source, lang) token accounting. A user curating a corpus
  * calls [[report]] (batch) or replays the same semantics
  * continuously through `Streaming.availableNowCuration`, which
  * builds its static canonical-owner index from [[scored]] so the
  * two paths cannot drift.
  *
  * Scale posture (100 TB): [[scored]] computes EVERY derived column
  * in the scan-side projection and drops the text payload, so no
  * downstream shuffle carries document bodies; the dedup window
  * partitions on a content hash (md5), uniform by construction, so
  * the shuffle cannot skew however duplicated the corpus is.
  */
object Curation {

  /** Scan-side projection: (source, doc_id, lang_pred, n_tok, keep,
    * key). `keep` folds through when/otherwise so an empty text's
    * NULL symbol ratio lands at 0, matching the oracle's CASE. */
  def scored(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.select(
      col("source"), col("doc_id"),
      Text.languageId(t).as("lang_pred"),
      Text.tokenCount(t).cast("long").as("n_tok"),
      when(Text.gopherKeep(t), 1).otherwise(0).as("keep"),
      md5(lower(t)).as("key"))
  }

  /** The canonical-owner index over `docs`: (key, owner_id), the
    * min doc_id among the quality survivors of each content key — the
    * static side every streaming curation path joins. */
  def owners(docs: DataFrame): DataFrame =
    scored(docs).filter(col("keep") === 1)
      .groupBy("key").agg(min("doc_id").as("owner_id"))

  /** Batch curation report: one row per (source, lang_pred) with
    * docs_in / docs_quality / docs_kept / tok_kept / keep_pm.
    * The canonical owner is elected AMONG the quality survivors of a
    * content key (window partitioned by (key, keep), so rejected
    * rows never shadow a surviving duplicate) — the same election
    * the streaming side runs ([[owners]] filters `keep === 1` before
    * its min-id aggregate). Today the quality gate is content-pure, so
    * `keep` is constant within a key and this collapses to the plain
    * first-survivor pick; the (key, keep) partition makes the
    * batch/stream agreement hold even for a future quality signal that
    * reads non-content columns (source reputation, fetch date). */
  def report(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("key", "keep").orderBy("doc_id")
    accounting(scored(docs)
        .withColumn("canon",
          (col("keep") === 1 && row_number().over(w) === 1).cast("int")))
      .orderBy("source", "lang_pred")
  }

  /** The per-(source, lang) accounting over a flagged frame (scored
    * columns + `canon`). ONE definition shared by [[report]] and the
    * streaming replay (`Streaming.availableNowCuration`) — the
    * aggregate list and the keep_pm rounding cannot drift between
    * the batch and continuous paths. */
  def accounting(flagged: DataFrame): DataFrame =
    flagged.groupBy("source", "lang_pred")
      .agg(count(lit(1)).as("docs_in"),
        sum("keep").cast("long").as("docs_quality"),
        sum("canon").cast("long").as("docs_kept"),
        sum(col("n_tok") * col("canon")).as("tok_kept"))
      .withColumn("keep_pm", expr("(1000 * docs_kept) div docs_in"))

  /** KP3: the FULL corpus-assembly pipeline as one declarative plan —
    * PII scrub → language-ID + quality gate → exact dedup →
    * benchmark decontamination → temperature-weighted source mix —
    * composing the stages the board pins individually (t7, kp1's
    * scoring, t16, t28). The corpus stages compose LAZILY into one
    * pass — no per-stage table lands anywhere — and that pass
    * materializes once as the narrow `gated` frame (see below); the
    * mix stages are cheap aggregates over it.
    *
    * `docs` is the candidate corpus; `benchmark` the eval set whose
    * n-gram content must not leak into training data. Returns one
    * row per source: docs_in / docs_quality (quality survivors) /
    * docs_kept (dedup canons) / docs_clean (canons free of benchmark
    * grams) / target (the source's temperature quota) / n_sampled /
    * tok_sampled.
    *
    * Scale posture: the scrub and scoring are scan-side projections
    * (text crosses no shuffle after the gram digesting); dedup and
    * decontamination shuffle 32-hex digests only; the mix's total
    * weight is a broadcast 1-row frame and its per-source quota
    * joins broadcast; the per-source hash-rank window spreads across
    * sources. Every stage keeps the individually-pinned operator's
    * plan shape — composition adds joins, never new scans of wide
    * columns.
    *
    * `materialize` pins the gated rows and the quota; `Files` is the
    * production setting, and PipelineSpec pins the report byte-equal
    * through both modes. The report reads the pins: the caller owns
    * them ([[Materialize]]). */
  def curate(docs: DataFrame, benchmark: DataFrame, gramN: Int = 8,
      totalTarget: Int = 200,
      materialize: Materialize.Mode = Materialize.Checkpoint): DataFrame =
    Materialize.scope(docs.sparkSession, "Curation.curate") { m =>
      import graft.dedup.Dedup
      def scrub(df: DataFrame): DataFrame = scrubText(df)
      val cand = scrub(docs)
      // stage 2+3: score on the SCRUBBED text; canon among survivors
      val w = Window.partitionBy("key", "keep").orderBy("doc_id")
      val flagged = scored(cand).withColumn("canon",
        (col("keep") === 1 && row_number().over(w) === 1).cast("int"))
      // stage 4: candidates sharing any scrubbed n-gram with the
      // benchmark are contaminated — only clean CANONS enter the mix
      val dirty = Dedup.contamination(scrub(benchmark), cand, gramN)
        .select(col("doc_id"), lit(1).as("__dirty"))
      // The gated frame feeds THREE consumers (per-source accounting,
      // quota weights, the sampled prefix) and Catalyst has no common-
      // subexpression materialization — without a checkpoint each
      // consumer re-runs the scrub + scoring + gram pipelines (the
      // whole corpus read three times over). Pin the NARROW row
      // instead: 8 thin columns, one per doc, text long gone — the
      // corpus-assembly pass pays its heavy stages exactly once.
      val gated = m("gated", materialize)(
        flagged.join(dirty, Seq("doc_id"), "left")
          .withColumn("clean",
            (col("canon") === 1 && col("__dirty").isNull).cast("int"))
          .drop("__dirty"))
      assemble(gated, totalTarget, materialize)
    }

  /** The mix + report tail over a gated frame (scored columns +
    * `canon` + `clean`): t28's temperature mix (alpha = 0.5) over the
    * clean survivors — deterministic hash-rank prefix per source,
    * quota proportional to floor(sqrt(n_clean)) — then the per-source
    * report. ONE definition shared by [[curate]] (batch, over the
    * narrow checkpoint) and the continuous gating replay
    * (`Streaming.availableNowCurate`, over the accumulated per-batch
    * sink) — the sampling rule and the report columns cannot drift
    * between the two paths. Callers pass an already-materialized
    * `gated` (checkpoint or files); this tail adds only bounded
    * aggregates and broadcast joins. The report reads the quota pin:
    * the caller owns it. */
  def assemble(gated: DataFrame, totalTarget: Int = 200,
      materialize: Materialize.Mode = Materialize.Checkpoint): DataFrame =
    Materialize.scope(gated.sparkSession, "Curation.assemble") { m =>
      val cleanDocs = gated.filter(col("clean") === 1)
        .withColumn("h", Text.hash60(concat(col("source"), lit("|"),
          col("doc_id").cast("string"))))
      val counts = cleanDocs.groupBy("source").agg(count(lit(1)).as("n_clean"))
        .withColumn("w", floor(sqrt(col("n_clean"))).cast("long"))
      val tot = counts.agg(sum("w").as("tot_w"))
      // quota is ONE ROW PER SOURCE and feeds two consumers (the
      // sampled prefix and the final report join) — materialize it so
      // the 1-row total's nested-loop attach and the clean-count
      // aggregate run once, not once per consumer (same mode as the
      // gated frame: the Files path keeps the whole assembly replayable
      // on executor loss)
      val quota = m("quota", materialize)(counts.crossJoin(broadcast(tot))
          .withColumn("target", expr(s"($totalTarget * w) div tot_w"))
          .select("source", "target"))
      val wnd = Window.partitionBy("source").orderBy("h", "doc_id")
      val sampled = cleanDocs.join(broadcast(quota), Seq("source"))
        .withColumn("rk", row_number().over(wnd))
        .filter(col("rk") <= col("target"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"), sum("n_tok").as("tok_sampled"))
      gated.groupBy("source")
        .agg(count(lit(1)).as("docs_in"),
          sum("keep").cast("long").as("docs_quality"),
          sum("canon").cast("long").as("docs_kept"),
          sum("clean").cast("long").as("docs_clean"))
        .join(quota, Seq("source"), "left")
        .join(sampled, Seq("source"), "left")
        .select(col("source"), col("docs_in"), col("docs_quality"),
          col("docs_kept"), col("docs_clean"),
          coalesce(col("target"), lit(0L)).as("target"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("tok_sampled"), lit(0L)).as("tok_sampled"))
    }

  /** Scrub helper shared with the continuous gating replay. */
  private[graft] def scrubText(df: DataFrame): DataFrame =
    df.withColumn("text", Text.scrubPii(col("text")))

  /** The md5 cache key params for a curation report/assembly — the
    * same canonical-params keying [[ReportCache]] uses for the irstats
    * report surface (ref `cgi/stats/get:80-99`): the corpus identity
    * (`Durable.corpusKey`, so an in-place data refresh is a miss) plus
    * every knob that changes the payload. */
  private def cacheParams(kind: String, docs: DataFrame,
      extra: Map[String, String]): Map[String, String] =
    Map("curation" -> kind, "corpus" -> Durable.corpusKey(docs)) ++ extra

  /** [[report]] through the report-level file cache — the
    * reference's dashboard-latency strategy applied to the curation
    * surface (`process_stats:144-159` pre-warms report payloads the
    * same way): the first audit of a corpus pays the Spark query and
    * publishes the JSON payload under `<cacheDir>/<md5>.ir2`; every
    * repeated audit of the SAME corpus is one file read, no cluster
    * touch. ApiSpec pins the warm hit. */
  def reportCached(cacheDir: String, docs: DataFrame): String =
    ReportCache.getOrCompute(cacheDir, cacheParams("report", docs, Map.empty))(
      graft.export.Export.toJson(report(docs),
        context = Map("report" -> "curation", "view" -> "report")))

  /** [[curate]] through the same md5-keyed payload cache: the full
    * corpus-assembly report is the expensive audit a team re-opens
    * most — benchmark identity and both mix knobs join the key, so
    * a different decontamination set or quota re-runs while the
    * repeat view is O(read). */
  def curateCached(cacheDir: String, docs: DataFrame, benchmark: DataFrame,
      gramN: Int = 8, totalTarget: Int = 200,
      materialize: Materialize.Mode = Materialize.Checkpoint): String =
    ReportCache.getOrCompute(cacheDir,
      cacheParams("curate", docs, Map(
        "benchmark" -> Durable.corpusKey(benchmark),
        "gram_n" -> gramN.toString,
        "total_target" -> totalTarget.toString)))(
      // the payload is rendered: nothing the assembly pinned is needed
      Materialize.scope(docs.sparkSession, "Curation.curateCached") { _ =>
        graft.export.Export.toJson(
          curate(docs, benchmark, gramN, totalTarget, materialize)
            .orderBy("source"),
          context = Map("report" -> "curation", "view" -> "curate"))
      })
}
