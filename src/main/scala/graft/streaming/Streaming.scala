package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.api.Curation
import graft.model.AccessEvent
import graft.store.{Durable, Materialize}

/** Structured-Streaming ingest (SURVEY.md §2.9): the streaming analog
  * of the batch daily-fact pipeline.
  *
  *  - St1 day-watermark: the reference skips today's live file; here
  *    a 1-day event-time watermark bounds state and admits the same
  *    late data window;
  *  - St2 checkpointing comes from the streaming checkpoint dir;
  *  - St5 sessionized repeat-filtering is `flatMapGroupsWithState`
  *    with per-key "last kept" state and event-time timeout = the
  *    repeat window, so state for idle keys is dropped exactly when
  *    it can no longer suppress anything.
  */
object Streaming {

  /** RocksDB state store provider class (bundled with Spark). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Session confs for the 100 TB streaming-state posture: per-key
    * state in [[repeatFilterStream]]/[[dedupStream]]/
    * [[attributionStream]] is tiny, but key CARDINALITY at scale
    * (every active requester/doc pair) exceeds executor heap — the
    * default in-memory HDFS-backed store OOMs exactly when traffic
    * peaks. RocksDB keeps state off-heap on local disk with block
    * cache, and changelog checkpointing (always on) ships per-batch
    * deltas instead of full SST snapshots, so checkpoint cost is
    * O(changed keys), not O(total state). Apply at session build
    * (`configs.foreach { case (k, v) => builder.config(k, v) }`) or
    * `spark.conf.set` before starting the query — the provider is
    * picked up at query start. */
  def rocksDbStateStoreConfs(): Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** File-source stream of access events (one day file at a time). */
  def readAccessStream(spark: SparkSession, root: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .option("sep", "\t")
      .option("mode", "DROPMALFORMED")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(AccessEvent.schema)
      .csv(root)
      .withColumn("ts", try_to_timestamp(col("datestamp"), lit("yyyy-MM-dd'T'HH:mm:ssX")))
      .filter(col("ts").isNotNull)

  /** Streaming daily fact: 1-day tumbling windows with a 1-day
    * watermark; append mode emits a day only once it is complete —
    * the St1 "closed days only" semantics. */
  def dailyFactStream(events: DataFrame, idCol: String = "referent_id",
      valueCol: String = "value"): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col(idCol).as("id"), col(valueCol).as("value"))
      .agg(count(lit(1)).as("count"))
      .select(to_date(col("window.start")).as("date"),
        col("id"), col("value"), col("count"))

  /** St4 streaming exactly-once-ish ingest: drop duplicate records
    * across micro-batches (e.g. a day file re-delivered, an upstream
    * producer retry). State is bounded by the watermark —
    * `dropDuplicatesWithinWatermark` expires a key once the watermark
    * passes it, so dedup state never grows beyond the late-data
    * horizon (the batch pipeline's full-file dropDuplicates has no
    * such bound and doesn't need one). */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermarkCol: String = "ts", lateness: String = "1 day"): DataFrame =
    events.withWatermark(watermarkCol, lateness)
      .dropDuplicatesWithinWatermark(idCols)

  /** One keyed click event for the streaming repeat filter. */
  case class Keyed(key: String, sec: Long)
  /** Kept (non-repeat) click. */
  case class Kept(key: String, sec: Long)

  /** Streaming F3 with faithful "since last KEPT" semantics: per-key
    * state holds the last kept epoch; events within `timeoutSec` of it
    * are suppressed. State expires `timeoutSec` after the last kept
    * hit (it can no longer suppress anything beyond that horizon).
    *
    * Note: within a micro-batch the group iterator is processed in
    * ascending `sec` order to make the sequential semantics
    * deterministic regardless of source ordering. */
  def repeatFilterStream(events: Dataset[Keyed], timeoutSec: Long,
      stateTimeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout())(
      implicit spark: SparkSession): Dataset[Kept] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Long, Kept](
        OutputMode.Append(), stateTimeout) {
        (key, it, state) => repeatStep(key, it.map(_.sec), timeoutSec,
          state, stateTimeout)
      }
  }

  /** One keyed click carrying the WATERMARKED event-time column —
    * Spark's unsupported-operation checker requires the watermark to
    * be visible at the stateful operator for event-time timeouts, so
    * the production form keeps the timestamp alongside `sec`. */
  case class KeyedEt(key: String, sec: Long, eventTime: java.sql.Timestamp)

  /** PRODUCTION form of [[repeatFilterStream]]: event-time timeout —
    * per-key state expires when the WATERMARK passes lastKept +
    * timeout, i.e. exactly when it can no longer suppress any
    * non-late event. Late stragglers are DROPPED by the engine's
    * pre-stateful late-row filter (they can neither be suppressed
    * nor kept, so expired state can never yield a wrong keep; the
    * batch form, which sees all data, arbitrates backfills). Input
    * must carry `withWatermark` on `eventTime`. */
  def repeatFilterStreamEt(events: Dataset[KeyedEt], timeoutSec: Long)(
      implicit spark: SparkSession): Dataset[Kept] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Long, Kept](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, it, state) => repeatStep(key, it.map(_.sec), timeoutSec,
          state, GroupStateTimeout.EventTimeTimeout())
      }
  }

  /** Shared "since last KEPT" state step (ref `Filter/Repeat.pm:39-102`). */
  private def repeatStep(key: String, secs: Iterator[Long],
      timeoutSec: Long, state: GroupState[Long],
      stateTimeout: GroupStateTimeout): Iterator[Kept] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      var lastKept = state.getOption.getOrElse(Long.MinValue)
      val kept = scala.collection.mutable.ArrayBuffer.empty[Kept]
      for (sec <- secs.toSeq.sorted) {
        if (lastKept == Long.MinValue || sec - lastKept > timeoutSec) {
          kept += Kept(key, sec)
          lastKept = sec
        }
      }
      if (lastKept != Long.MinValue) {
        state.update(lastKept)
        // The timeout API is mode-specific: duration for
        // processing time, absolute timestamp for event time.
        if (stateTimeout == GroupStateTimeout.ProcessingTimeTimeout())
          state.setTimeoutDuration(timeoutSec * 1000)
        else if (stateTimeout == GroupStateTimeout.EventTimeTimeout())
          // clamp above the watermark: setTimeoutTimestamp throws
          // if the timestamp is not strictly later than it
          state.setTimeoutTimestamp(
            math.max(state.getCurrentWatermarkMs() + 1,
              (lastKept + timeoutSec) * 1000))
      }
      kept.iterator
    }
  }

  /** Stream-stream interval join: attribute each purchase to the
    * views by the same user within the preceding `maxLagSec` — the
    * streaming twin of the batch as-of join (x1/x2), with the standard
    * streaming relaxation: ALL views in the window match (picking only
    * the latest would need unbounded per-key state; downstream dedup
    * or a windowed max gets "latest" when needed).
    *
    * Both sides carry watermarks and the join condition bounds event
    * time on BOTH ends, so Spark derives a state-retention horizon for
    * each side (watermark + lag) and evicts joined state — the state
    * store stays O(in-flight window), not O(history). Left-outer so
    * unattributed purchases still emit (with null view columns) once
    * the view-side watermark passes their window.
    *
    * Column contract: `purchases` has (user_id, ts, ...); `views` must
    * be pre-renamed to (v_user_id, v_ts, ...) — stream-stream joins
    * need disjoint names because both sides survive in the output. */
  def attributionStream(purchases: DataFrame, views: DataFrame,
      maxLagSec: Long, lateness: String = "10 minutes",
      joinType: String = "leftOuter"): DataFrame =
    purchases.withWatermark("ts", lateness)
      .join(views.withWatermark("v_ts", lateness),
        expr(s"""user_id = v_user_id AND
                 v_ts BETWEEN ts - INTERVAL $maxLagSec SECONDS AND ts"""),
        joinType)

  /** Batch-stream parity, executed: run the daily-count aggregation
    * THROUGH the streaming engine (parquet file source → complete-mode
    * aggregate → memory sink) with `Trigger.AvailableNow`, which
    * processes the table's current contents as a bounded backlog and
    * stops — then hand the sink's table back as a plain DataFrame.
    * Because Structured Streaming's incremental aggregation must
    * converge to the batch result on a bounded input, this query
    * hash-matching the batch SQL oracle PROVES the parity the
    * streaming docs promise — as a driver-gated query, not a claim.
    *
    * Scale posture: AvailableNow chops the backlog into rate-limited
    * micro-batches (unlike a one-shot `Trigger.Once`), so the same
    * call catches up a 100 TB backlog without building one giant
    * batch; the aggregate state is day-grain (tiny). */
  /** Streaming file-source path. The source needs a directory or a
    * glob: directories pass straight through; a bare single FILE (the
    * driver's sf0.x tables) is wrapped as a one-character glob class
    * on its last character, making the parent the stream base. Paths
    * ending in a glob metacharacter or separator are rejected instead
    * of silently mis-globbing. */
  private def streamablePath(p: String): String = {
    if (new java.io.File(p).isDirectory) p
    else {
      // reject glob metacharacters ANYWHERE in a file path, not just
      // the last char: '/data/day[1].parquet' would otherwise glob
      // '[1]' as a character class and silently match the wrong file
      // (or nothing); '^' as the wrapped char would emit the
      // malformed class '[^]'
      val metas = p.filter("*?[]{}\\^".contains(_)).distinct
      require(p.nonEmpty && metas.isEmpty && p.last != '/',
        s"cannot stream from file path containing glob " +
          s"metacharacter(s) '$metas' (or ending in '/'): $p")
      p.dropRight(1) + "[" + p.last + "]"
    }
  }

  /** Shared stream-side events reader: schema snapshot, directory/file
    * path handling, and the same nanos/micros adaptation as
    * `Tables.events`. */
  private def eventStream(s: SparkSession, eventsPath: String): DataFrame = {
    val schema = s.read.parquet(eventsPath).schema
    val raw = s.readStream.schema(schema).parquet(streamablePath(eventsPath))
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }

  def availableNowDaily(s: SparkSession, eventsPath: String): DataFrame = {
    val agg = eventStream(s, eventsPath)
      .groupBy(to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("n"))
    runToMemory(agg, "st1_parity")
  }

  /** [[availableNowDaily]]'s STATEFUL sibling: per-day distinct users
    * through the streaming engine's dedup state (`dropDuplicates` on
    * the (date, user) pair — exactly-once per key across micro-
    * batches — then the incremental count). Gates that cross-batch
    * dedup state composes with aggregation state and still converges
    * to the batch answer. Unbounded-state form is intentional here
    * (bounded input); the production watermark-bounded variant is
    * [[dedupStream]]. */
  def availableNowDistinctUsers(s: SparkSession,
      eventsPath: String): DataFrame = {
    val agg = eventStream(s, eventsPath)
      .select(to_date(col("ts")).as("date"), col("user_id"))
      .filter(col("user_id").isNotNull)
      .dropDuplicates("date", "user_id")
      .groupBy("date").agg(count(lit(1)).as("users"))
    runToMemory(agg, "st2_parity")
  }

  /** Windowed sibling of [[availableNowDaily]]: 6-hour tumbling
    * windows with a 1-hour event-time watermark in APPEND mode — the
    * canonical production streaming aggregate. Append emits a window
    * only once the watermark passes its end, so the result set is the
    * batch answer RESTRICTED to finalized windows: exactly the rows
    * with win_end <= max(ts) - 1h, which the batch DuckDB oracle
    * reproduces deterministically. Gates watermark finalization
    * semantics, not just incremental aggregation. */
  def availableNowWindowed(s: SparkSession, eventsPath: String): DataFrame = {
    // event-time columns must be TIMESTAMP (with local tz); newer
    // driver snapshots read as NTZ — cast is identity under the
    // engine's fixed UTC session timezone
    val agg = eventStream(s, eventsPath)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    runToMemory(agg, "st3_parity", OutputMode.Append())
  }

  /** St5 parity, executed (round-8 verdict item 4): the STREAMING
    * repeat filter ([[repeatFilterStream]], `flatMapGroupsWithState`
    * with "last kept" state — ref `Filter/Repeat.pm:39-102`) run over
    * the events table as a bounded backlog, then batch-aggregated to
    * the same (id, value, count) shape as the batch `f3_repeat_seq`
    * query — so the DuckDB recursive-CTE oracle gates the streaming
    * state op's semantics, not just a spec fixture.
    *
    * Determinism: kept output rows are (key, sec) only, and for
    * same-sec ties exactly one row is kept whichever is processed
    * first — the kept multiset is order-invariant, so no tie-break
    * column is needed (the batch form needs one only because it emits
    * whole rows). Null user_ids AND null event_types are excluded —
    * symmetrically with the oracle: the state key is a string, SQL
    * equality-joins can't follow null keys through the oracle's
    * recursive step, and `concat_ws` would otherwise silently DROP a
    * null component and merge those events into the bare-id group.
    * The decode splits with limit=2, so a '|' inside event_type stays
    * in the value instead of corrupting it (user_id, a number, can't
    * contain one). The backlog must land in ONE micro-batch for
    * strict sequential parity (per-group in-batch sort); AvailableNow
    * does that for up to 1000 source files — and `runToMemory`
    * ASSERTS it (`requireSingleBatch`), so a directory that ever
    * outgrows the default file cap fails loudly instead of silently
    * breaking cross-batch event order. NoTimeout: bounded input,
    * state dies with the query (the production form keeps the
    * event-time timeout). */
  def availableNowRepeat(s: SparkSession, eventsPath: String,
      timeoutSec: Long): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val keyed = eventStream(s, eventsPath)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(
        concat_ws("|", col("user_id"), col("event_type")).as("key"),
        unix_timestamp(col("ts").cast("timestamp")).as("sec"))
      .as[Keyed]
    val kept = repeatFilterStream(keyed, timeoutSec,
      GroupStateTimeout.NoTimeout())
    val keptRows = runToMemory(kept.toDF(), "st4_parity", OutputMode.Append(),
      requireSingleBatch = true)
    keptRows
      .select(split(col("key"), "\\|", 2).getItem(0).cast("long").as("id"),
        split(col("key"), "\\|", 2).getItem(1).as("value"))
      .groupBy("id", "value")
      .agg(count(lit(1)).as("count"))
      .orderBy("id", "value")
  }

  /** Stream-stream parity for [[attributionStream]], executed: the
    * interval join (purchases ⋈ views within `maxLagSec`, both sides
    * watermarked) runs THROUGH the streaming engine over the events
    * table as a bounded backlog, then the MATCHED pairs batch-
    * aggregate to per-user counts — the DuckDB interval-join oracle
    * gates the stream-stream join's state semantics, not a fixture.
    *
    * Determinism: inner matches emit as soon as both sides are in
    * state, independent of watermark finalization — but only within
    * a micro-batch horizon: across batches, state eviction could
    * drop a match a single-batch run would find, so the single-batch
    * assumption is ASSERTED (same contract as
    * [[availableNowRepeat]]). Outer (unattributed) rows are excluded
    * from the parity shape: their emission depends on where the
    * FINAL watermark lands on a bounded input — eviction mechanics,
    * not join semantics (StreamingSpec pins them on a controlled
    * MemoryStream). Null user_ids are excluded symmetrically with
    * the SQL oracle (equality joins never match null keys). The join
    * condition compares raw timestamps (micros), so the oracle's
    * INTERVAL arithmetic agrees exactly — no epoch flooring. */
  def availableNowAttribution(s: SparkSession, eventsPath: String,
      maxLagSec: Long): DataFrame = {
    val ev = eventStream(s, eventsPath)
      .withColumn("ts", col("ts").cast("timestamp"))
      .filter(col("user_id").isNotNull)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("ts").as("v_ts"))
    // INNER join here (guide §1.2: don't compute what you throw
    // away): this parity shape keeps only MATCHED pairs — the
    // leftOuter null-padded rows were filtered out below anyway, and
    // emitting them costs a whole extra micro-batch (outer rows only
    // release once the final watermark passes, i.e. in the no-data
    // batch) plus per-row matched-flag state tracking. Inner matches
    // emit eagerly in the data batch, so the watermark-finalization
    // no-data batch does nothing for this query and is skipped for
    // its duration (conf restored after) — measured 13.8s → ~7s warm
    // at sf0.1 (2 micro-batches + outer tracking → 1). The production
    // leftOuter operator itself is unchanged ([[attributionStream]]
    // default; StreamingSpec pins outer-row emission on a controlled
    // MemoryStream).
    val joined = attributionStream(purchases, views, maxLagSec,
      joinType = "inner")
    val noDataConf = "spark.sql.streaming.noDataMicroBatches.enabled"
    // The flip is session-global BY NECESSITY: the parity frames are
    // bound to `s` and running them through s.newSession() would mix
    // sessions in one plan (undefined). It is safe because callers
    // run streaming queries sequentially (bench/oracle harnesses do);
    // a streaming query running CONCURRENTLY on this session would
    // silently skip its watermark-finalization batch until the
    // restore below (round-17 advisory, documented trade).
    val prior = s.conf.getOption(noDataConf)
    s.conf.set(noDataConf, "false")
    val rows = try runToMemory(joined, "st5_parity", OutputMode.Append(),
      requireSingleBatch = true)
    finally prior match {
      case Some(v) => s.conf.set(noDataConf, v)
      case None => s.conf.unset(noDataConf)
    }
    rows.filter(col("v_user_id").isNotNull)
      .groupBy(col("user_id").as("id"))
      .agg(count(lit(1)).as("pairs"))
      .orderBy("id")
  }

  /** STREAMING NEAR-DUP — the production LLM-ingestion shape: a
    * stream of documents is MinHash-banded row-locally and LSH-joined
    * against a static corpus index, then candidates are exact-verified
    * in batch. With the stream replaying the same corpus as a bounded
    * backlog, the result must equal the batch `Dedup.minhashNearDup`
    * EXACTLY (same shingles, same masks, same band keys, same
    * verify), so d2's DuckDB oracle gates the streaming path too.
    *
    * The streaming-compatibility trick: the batch signature pipeline
    * explodes grams and takes a per-doc groupBy-MIN over them, which
    * does not stream in append mode. Per-doc signatures are instead
    * computed ROW-LOCALLY with array lambdas (shingles via
    * `transform(sequence(...))`, each min-hash via
    * `array_min(transform(sh, _ xor mask))`), which
    * is also the right production shape: a new document's bands are a
    * pure projection, so the stream side never shuffles — the only
    * shuffle is the bucket join against the (pre-partitioned, reused)
    * index. Stream-static joins are stateless, so no watermark and no
    * single-batch assumption is needed; cross-batch duplicate
    * candidates collapse in the batch distinct.
    *
    * Docs under 3 tokens carry no shingles and are excluded on both
    * sides (the batch gram builder filters them out). The caller owns
    * the materialized pairs ([[Materialize]]). */
  def availableNowNearDup(s: SparkSession, docsPath: String,
      k: Int = 16, rowsPerBand: Int = 4,
      num: Int = 1, den: Int = 2): DataFrame = {
    import graft.dedup.Dedup
    import graft.functions.Text
    val batchDocs = s.read.parquet(docsPath)
    Materialize.scope(s, "Streaming.availableNowNearDup") { m =>
      // static index: the batch band table + the exact-verify features
      val features = m("features")(Dedup.shingleHashes(batchDocs)
        .select(col("id"), col("sh").as("h")))
      val index = Dedup.lshBands(Dedup.minhashSignaturesFrom(features, k),
          rowsPerBand)
        .select(col("id").as("b"), col("band"), col("bkey"))
      // stream side: row-local 3-gram shingle hashes -> k masked minima
      // tokens computed ONCE per row: the old filter-then-project form
      // ran the tokenizer split twice per document (once in the filter,
      // once in the projection) — measured 1.15 -> 0.70 s cold on the
      // batch-equivalent projection (round 18). Same row set: docs
      // under 3 tokens carry no shingles either way.
      val stream = s.readStream.schema(batchDocs.schema)
        .parquet(streamablePath(docsPath))
        .withColumn("toks", Text.tokens(col("text")))
        .filter(size(col("toks")) >= 3)
        .withColumn("sh", transform(
          sequence(lit(0), size(col("toks")) - 3),
          i => Text.hash60(concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3)))))
      val sigCols = Dedup.minhashMasks(k).zipWithIndex.map { case (m, i) =>
        array_min(transform(col("sh"), x => x.bitwiseXOR(lit(m)))).as(s"m$i")
      }
      val streamBands = Dedup.lshBands(
        stream.select(col("doc_id").as("id") +: sigCols: _*), rowsPerBand)
      // every unordered pair (a < b) surfaces once with the stream row
      // as the smaller id (the stream replays every id)
      val cands = streamBands.select(col("id").as("a"), col("band"), col("bkey"))
        .join(index, Seq("band", "bkey"))
        .filter(col("a") < col("b"))
        .select("a", "b")
      // candidate pairs land in a PARQUET sink, not the driver-memory
      // sink: the LSH candidate set grows with corpus density (d3's
      // batch form emitted ~2.2M pairs at the 30x step and driver
      // materialization OOM'd the harness there) — the file sink keeps
      // the pair stream distributed end-to-end, and the follow-on batch
      // verify reads it back as an ordinary scan
      val sunk = runToParquet(cands, "st6_parity")
      // the verified pairs escape to the caller; the features are freed
      m("pairs")(Dedup.verifyJaccardOn(sunk.distinct(), features, num, den))
    }
  }

  /** Canon election over scored rows left-joined to an owner index
    * (kp2, kp4): a surviving doc whose key HAS an owner is canonical
    * only if it IS the owner; a surviving doc with a NOVEL key (no owner
    * in the static index — content the batch snapshot never saw) elects
    * ITSELF, so new material is counted kept rather than silently
    * dropped. Within-backlog duplicates of the same novel key each
    * self-elect — exact-once for novel keys needs cross-batch state
    * ([[availableNowCurationExactOnce]]), a trade documented rather
    * than paid: the index refresh cycle re-canonicalizes them. Rejected
    * docs (keep = 0) land in the otherwise-0 branch regardless of owner. */
  private val selfElectCanon =
    when(col("keep") === 1 &&
        (col("owner_id").isNull || col("doc_id") === col("owner_id")), 1)
      .otherwise(0)

  /** KP2: the LLM-curation keystone as a CONTINUOUS pipeline —
    * language-ID, the Gopher quality gate and the content key are
    * row-local projections on the stream (no stream-side shuffle
    * before the join); exact dedup consults a STATIC canonical-owner
    * index (batch min-id per content key among quality survivors)
    * through a stateless stream-static equi-join instead of keeping
    * cross-batch dedup state; the per-(source, lang) accounting is
    * the engine's Complete-mode streaming aggregate. Replaying the
    * corpus as the backlog must reproduce kp1's batch report
    * EXACTLY → kp2 shares kp1's oracle. Scale posture: the owner
    * index is (key, owner_id) only — two narrow columns however wide
    * the corpus — and in production lives bucketed on `key`
    * (Bucketing.writeBucketed) so each micro-batch joins co-located. */
  def availableNowCuration(s: SparkSession, docsPath: String,
      indexPath: Option[String] = None): DataFrame =
    Materialize.scope(s, "Streaming.availableNowCuration") { m =>
      import graft.api.Curation.scored
      val batchDocs = s.read.parquet(docsPath)
      // the canonical-owner index defaults to the stream's own corpus
      // (the replay-parity form kp2 gates); production passes the
      // last SNAPSHOT as indexPath and keeps streaming past it — docs
      // with keys the snapshot never saw take the novel-key election
      // path below
      // snapshot-mode (indexPath defined) consumes the owner index
      // TWICE — the per-batch stream-static join and the novel-dup
      // audit below — and each consumer otherwise re-scores the whole
      // index snapshot. Materialize the narrow (key, owner_id) rows
      // for the query's duration (freed when the call returns or
      // throws); replay-parity mode (one consumer) keeps the plain
      // lazy frame.
      val owners0 = Curation.owners(indexPath.fold(batchDocs)(s.read.parquet(_)))
      val owners = if (indexPath.isDefined) m("owners")(owners0) else owners0
      val stream = s.readStream.schema(batchDocs.schema)
        .parquet(streamablePath(docsPath))
      // left join keeps every stream doc in docs_in
      val flagged = scored(stream)
        .join(owners, Seq("key"), "left")
        .withColumn("canon", selfElectCanon)
      val out = runToMemory(Curation.accounting(flagged), "kp2_curation")
      // Snapshot-mode observability (the self-elect overcount is silent
      // at runtime otherwise): ONE bounded batch aggregate over the
      // already-scanned backlog counts how many kept docs were
      // within-backlog duplicates of the same novel key — the exact
      // inflation of docs_kept vs batch semantics. Logged, not failed:
      // the trade is documented (the index refresh re-canonicalizes);
      // [[availableNowCurationExactOnce]] is the bounded-variant path.
      indexPath.foreach { _ =>
        val novelDups = scored(s.read.parquet(docsPath))
          .filter(col("keep") === 1)
          .join(owners.select("key"), Seq("key"), "left_anti")
          .groupBy("key").agg(count(lit(1)).as("copies"))
          .agg(coalesce(sum(col("copies") - 1), lit(0L))).head().getLong(0)
        if (novelDups > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"availableNowCuration: $novelDups within-backlog duplicate(s) " +
              "of novel content keys self-elected canonical — docs_kept / " +
              "tok_kept overcount them vs batch semantics until the next " +
              "index refresh (use availableNowCurationExactOnce to bound this)")
      }
      out
    }

  /** KP2b: [[availableNowCuration]] with EXACT-ONCE novel-key
    * election — the stateful variant of the documented self-elect
    * trade. Cross-batch state is a tiny (key, owner_id, batch_id)
    * parquet ledger of already-elected novel keys, kept per micro-batch
    * through `foreachBatch` (the engine's recommended seam for custom
    * stateful sinks): each batch
    *  1. reads the ledger, unions it with the static snapshot owners;
    *  2. elects min-doc_id winners for this batch's still-unseen
    *     novel keys (one bounded aggregate over the batch);
    *  3. appends the winners to the ledger — idempotently: the write
    *     OVERWRITES a per-batch subdirectory, and ledger rows carry
    *     their batch id so step 1 reads STRICTLY EARLIER batches
    *     only. Both halves matter for replay (checkpoint recovery):
    *     without the batch-id filter, a replayed batch would see its
    *     own previous winners in the ledger, elect nothing, and the
    *     overwrite would ERASE them; with it, the replay re-derives
    *     the identical winner set (min-id over the same batch
    *     content) and rewrites it in place;
    *  4. lands the flagged rows in a per-batch parquet sink the final
    *     accounting reads back (same batch-id overwrite idempotence).
    * A novel key therefore elects exactly one canonical doc across
    * the whole backlog, however the files split into micro-batches —
    * matching batch semantics whenever the key's minimum doc_id
    * arrives in its first batch (single-backlog replays always do;
    * later batches can only LOSE the min-id race, never double-elect).
    * Scale posture: the ledger holds three narrow columns for novel
    * keys only; the per-batch election shuffles 32-hex keys, never
    * text; accounting stays the shared [[graft.api.Curation]]
    * aggregate so the three curation paths cannot drift.
    * `maxFilesPerTrigger` forces a multi-batch backlog in tests so
    * the cross-batch ledger is genuinely exercised.
    *
    * `statePath` is the DURABLE home for the call's state (ledger,
    * owner index, flagged sink, stream checkpoint). Default None =
    * a temp dir swept at JVM exit — the oracle-harness mode. A real
    * deployment passes a persistent path; a LATER CALL with the same
    * `statePath` (and the same `indexPath` snapshot) RESUMES the
    * backlog: the stream checkpoint skips already-processed files,
    * the ledger carries the earlier calls' novel-key elections
    * forward, and the returned accounting covers the WHOLE corpus
    * seen so far — the "index refresh cycle" the self-elect docs
    * invoke, as an actual API contract (StreamingSpec pins the
    * two-call resume equal to the one-call run). Eviction story:
    * the owner index is rebuilt (overwritten) every call, so
    * retiring ledger rows is exactly re-snapshotting — point
    * `indexPath` at a corpus snapshot that now CONTAINS the
    * previously-novel keys and clear the ledger/sink dirs. A given
    * `statePath` resumes ONE (docsPath, indexPath) configuration: its
    * [[Durable]] params sidecar fails a resume against another corpus
    * fast, rather than merging inconsistent elections. */
  def availableNowCurationExactOnce(s: SparkSession, docsPath: String,
      indexPath: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None,
      statePath: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.api.Curation.scored
    val batchDocs = s.read.parquet(docsPath)
    val dir = statePath.fold(graft.store.TempSweep.tempDir("kp2b")) { p =>
      val f = new java.io.File(p); f.mkdirs(); f
    }
    statePath.foreach(Durable.resume(s, _, Durable.params(
        "docsPath" -> docsPath, "indexPath" -> indexPath.getOrElse("")),
      "availableNowCurationExactOnce", "statePath"))
    val ledgerDir = new java.io.File(dir, "ledger"); ledgerDir.mkdirs()
    val sinkDir = new java.io.File(dir, "flagged"); sinkDir.mkdirs()
    val ledgerSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("owner_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    // Score the snapshot ONCE per call, not once per micro-batch:
    // building the owner index is the corpus-scale part of every
    // batch's work (full index scan + scoring + aggregate), and the
    // backlog may split into many batches. Materialized as parquet in
    // the call's state dir — file-based state crosses the foreachBatch
    // session boundary safely, same device as the ledger itself.
    // mode overwrite: a resumed call (same statePath) refreshes the
    // index rather than failing on the existing directory.
    val ownersDir = new java.io.File(dir, "owners").getAbsolutePath
    Curation.owners(indexPath.fold(batchDocs)(s.read.parquet(_)))
      .write.mode("overwrite").parquet(ownersDir)
    val ownersSchema = org.apache.spark.sql.types.StructType(
      ledgerSchema.fields.filter(_.name != "batch_id"))
    val reader = s.readStream.schema(batchDocs.schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val stream = reader.parquet(streamablePath(docsPath))
    // Ledger-delta write parallelism, sized ONCE per call from how
    // many backlog files one micro-batch can consume (metadata only;
    // the micro-batch frame itself exposes neither files nor useful
    // partitioning inside foreachBatch). Novel keys are tiny in
    // STEADY state — a resumed trickle reads few files per trigger
    // and this floors at ONE delta file, which beats 32 near-empty
    // ones every later batch (and the final read-back) must open —
    // but the cold-start batch of a fresh backlog is ALL-novel: the
    // old unconditional coalesce(1) serialized that corpus-scale
    // delta write into a single task (round-17 verdict item).
    val deltaSlots = math.min(32, math.max(1,
      maxFilesPerTrigger.getOrElse(batchDocs.inputFiles.length) / 8))
    val q = scored(stream).writeStream
      .option("checkpointLocation", new java.io.File(dir, "ckpt").getAbsolutePath)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // rebuild frames on the BATCH's session (foreachBatch hands a
        // micro-batch-bound session; mixing sessions in one plan is
        // undefined) — reads of the call's materialized state only.
        // PERSIST the scored batch first: it feeds the novel-key
        // election AND the flagged-sink join, and each foreachBatch
        // action otherwise re-reads the micro-batch's source files
        // and re-runs the scoring projections (measured: 3 scans of
        // the backlog slice per batch; guide §1.2 step 1 — don't
        // recompute what you already hold). Narrow rows (text is
        // gone after scored()), serialized level, released before
        // the batch returns. Not graft.store.Materialize: no shuffle for
        // AQE to coalesce, and its extra eager job per batch measured
        // slower (warm 1.83 -> 1.92 s, 6 of 8 sf0.1 pairs, 4 cores).
        val batch = batch0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        try {
          val bs = batch.sparkSession
          val snapOwners = bs.read.schema(ownersSchema).parquet(ownersDir)
          // recursiveFileLookup: the per-batch subdirs are an idempotence
          // device, not partition columns — don't let discovery add one.
          // STRICTLY-EARLIER filter: a replayed batch must not read its
          // own previous winners (it would elect nothing and the
          // overwrite below would erase them)
          val ledger = bs.read.schema(ledgerSchema)
            .option("recursiveFileLookup", "true")
            .parquet(ledgerDir.getAbsolutePath)
            .filter(col("batch_id") < batchId)
            .drop("batch_id")
          val known = snapOwners.unionByName(ledger)
          val batchLedgerDir =
            new java.io.File(ledgerDir, s"batch=$batchId").getAbsolutePath
          batch.filter(col("keep") === 1)
            .join(known.select("key"), Seq("key"), "left_anti")
            .groupBy("key").agg(min("doc_id").as("owner_id"))
            .withColumn("batch_id", lit(batchId))
            .coalesce(deltaSlots)
            .write.mode("overwrite").parquet(batchLedgerDir)
          // read this batch's winners BACK from the just-committed
          // ledger delta instead of re-deriving them: the flagged
          // join then consumes exactly what the ledger recorded (one
          // source of truth) and skips a second anti-join + election
          val novel = bs.read.schema(ledgerSchema).parquet(batchLedgerDir)
            .drop("batch_id")
          batch.join(known.unionByName(novel), Seq("key"), "left")
            .withColumn("canon",
              when(col("keep") === 1 && col("doc_id") === col("owner_id"), 1)
                .otherwise(0))
            .drop("owner_id")
            .write.mode("overwrite")
            .parquet(new java.io.File(sinkDir, s"batch=$batchId").getAbsolutePath)
        } finally { batch.unpersist(); () }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val flaggedSchema = org.apache.spark.sql.types.StructType(
      scored(batchDocs).schema.fields :+
        org.apache.spark.sql.types.StructField("canon",
          org.apache.spark.sql.types.IntegerType))
    Curation.accounting(
      s.read.schema(flaggedSchema).option("recursiveFileLookup", "true")
        .parquet(sinkDir.getAbsolutePath))
  }

  /** KP4: the FULL corpus-assembly pipeline (kp3's
    * `Curation.curate`) as a CONTINUOUS run — the production shape is
    * "continuous gating, periodic mix": every micro-batch scrubs,
    * scores, dedup-flags and decontaminates its documents and lands
    * the narrow gated rows in a per-batch sink; the temperature mix
    * and the report are the periodic batch step over the accumulated
    * sink (they need global per-source counts, which no append-mode
    * stream can know mid-flight — running them per batch would emit
    * quotas that churn with every arrival).
    *
    * Static state, materialized once per call (file-based, crossing
    * the foreachBatch session boundary like kp2b's ledger): the
    * canonical-owner index over the SCRUBBED corpus (or `indexPath`
    * snapshot) and the benchmark's distinct scrubbed-gram digest set.
    * Per batch: scrub + score are row-local; canon is the
    * stream-static owner join (self-elect rule for novel keys — the
    * kp2 default); the contamination flag is a gram-digest semi-join
    * against the static set (32-hex keys shuffle, never text).
    * Replaying the corpus as the backlog reproduces the batch
    * `curate` report EXACTLY → kp4 shares kp3's oracle, as kp2
    * shares kp1's. The mix/report tail is [[graft.api.Curation]]
    * `.assemble` — one definition, no drift.
    *
    * `statePath`: durable home for the owner index, benchmark-gram
    * set, gated sink and stream checkpoint — kp2b's contract: None
    * (default) = swept temp dir; a later call with the same path
    * resumes the backlog (checkpoint skips seen files, the sink
    * accumulates) and re-reports over everything gated so far. */
  def availableNowCurate(s: SparkSession, docsPath: String,
      benchmarkPath: String, indexPath: Option[String] = None,
      gramN: Int = 8, totalTarget: Int = 200,
      maxFilesPerTrigger: Option[Int] = None,
      statePath: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.dedup.Dedup
    val batchDocs = s.read.parquet(docsPath)
    val dir = statePath.fold(graft.store.TempSweep.tempDir("kp4")) { p =>
      val f = new java.io.File(p); f.mkdirs(); f
    }
    // benchmarkPath/gramN join the sidecar: the accumulated sink's
    // `clean` flags were computed against ONE benchmark gram set —
    // resuming with another would mix decontamination regimes
    statePath.foreach(Durable.resume(s, _, Durable.params(
        "docsPath" -> docsPath, "indexPath" -> indexPath.getOrElse(""),
        "benchmarkPath" -> benchmarkPath, "gramN" -> gramN),
      "availableNowCurate", "statePath"))
    val ownersDir = new java.io.File(dir, "owners").getAbsolutePath
    val gramsDir = new java.io.File(dir, "grams").getAbsolutePath
    val sinkDir = new java.io.File(dir, "gated"); sinkDir.mkdirs()
    Curation.owners(Curation.scrubText(indexPath.fold(batchDocs)(s.read.parquet(_))))
      .write.mode("overwrite").parquet(ownersDir)
    Dedup.slidingGramHashes(
        Curation.scrubText(s.read.parquet(benchmarkPath)), gramN)
      .select(col("key").as("gkey")).distinct()
      .write.mode("overwrite").parquet(gramsDir)
    val lt = org.apache.spark.sql.types.LongType
    val st = org.apache.spark.sql.types.StringType
    val ownersSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", st),
      org.apache.spark.sql.types.StructField("owner_id", lt)))
    val gramsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("gkey", st)))
    val reader = s.readStream.schema(batchDocs.schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    // the raw stream carries text INTO foreachBatch (the gram stage
    // needs it); the scrub/score projections run batch-side, and the
    // sink rows are the narrow gated schema — text never lands
    val q = reader.parquet(streamablePath(docsPath)).writeStream
      .option("checkpointLocation", new java.io.File(dir, "ckpt").getAbsolutePath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        // MATERIALIZE the scrubbed batch: it feeds the gram-digest
        // contamination branch AND the scored/canon projection, and
        // without a pin each consumer re-reads the micro-batch's
        // source files and re-runs the PII scrub regexes (measured:
        // 2 full scrub passes per batch). Bounded by the micro-batch
        // size, released before the batch returns.
        Materialize.scope(bs, "kp4 batch") { m =>
          val scrubbed = m("scrubbed batch")(Curation.scrubText(batch))
          val owners = bs.read.schema(ownersSchema).parquet(ownersDir)
          val grams = bs.read.schema(gramsSchema).parquet(gramsDir)
          // raw gramDigests, NOT slidingGramHashes: the contamination
          // flag only needs "any gram hits", so the per-(id, key)
          // distinct slidingGramHashes pays — a full shuffle of every
          // batch gram BEFORE the semi-join — is wasted here; the
          // post-join doc_id distinct is the only dedup needed and it
          // runs on the (tiny) hit set (round 18, guide §2.3)
          val dirty = graft.dedup.Dedup
            .gramDigests(scrubbed, gramN, stride = 1, "text", "doc_id")
            .join(grams.withColumnRenamed("gkey", "key"), Seq("key"), "left_semi")
            .select(col("id").as("doc_id")).distinct()
            .withColumn("__dirty", lit(1))
          Curation.scored(scrubbed)
            .join(owners, Seq("key"), "left")
            .withColumn("canon", selfElectCanon)
            .drop("owner_id")
            .join(dirty, Seq("doc_id"), "left")
            .withColumn("clean",
              (col("canon") === 1 && col("__dirty").isNull).cast("int"))
            .drop("__dirty")
            .write.mode("overwrite")
            .parquet(new java.io.File(sinkDir, s"batch=$batchId").getAbsolutePath)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val gatedSchema = org.apache.spark.sql.types.StructType(
      Curation.scored(batchDocs).schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("canon",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("clean",
          org.apache.spark.sql.types.IntegerType)))
    Curation.assemble(
      s.read.schema(gatedSchema).option("recursiveFileLookup", "true")
        .parquet(sinkDir.getAbsolutePath), totalTarget)
  }

  /** Run a (bounded) append-mode stream to a throwaway PARQUET sink
    * with `Trigger.AvailableNow` and read the result back — the
    * scale-safe alternative to [[runToMemory]] for outputs that grow
    * with the corpus (candidate-pair streams): rows are written by
    * the executors where they are produced and never transit the
    * driver. The sink directory lives under java.io.tmpdir and is
    * deleted on JVM exit; the read-back carries an explicit schema so
    * an empty result (zero files) still returns a well-formed frame. */
  private def runToParquet(df: DataFrame, prefix: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val s = df.sparkSession
    // recursive removal at JVM exit (TempSweep): File.deleteOnExit
    // only deletes the one registered path and only if EMPTY — with
    // the parquet data/, _spark_metadata and ckpt/ children inside,
    // it was a no-op and every invocation leaked its full pair dump
    // into /tmp
    val dir = graft.store.TempSweep.tempDir(prefix)
    val data = new java.io.File(dir, "data").getAbsolutePath
    val q = df.writeStream.format("parquet")
      .option("path", data)
      .option("checkpointLocation", new java.io.File(dir, "ckpt").getAbsolutePath)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.schema(df.schema).parquet(data)
  }

  /** Run a (bounded) streaming aggregate to a memory sink with
    * `Trigger.AvailableNow` and return the sink table. Sink names are
    * uniqued per call — the memory table is session-global.
    * `requireSingleBatch` asserts (from the query's own progress
    * feed) that the whole backlog landed in ONE data-bearing
    * micro-batch — callers whose semantics assume in-batch ordering
    * ([[availableNowRepeat]]) pass true so a violated assumption
    * fails loudly rather than producing subtly wrong state. */
  private def runToMemory(agg: DataFrame, prefix: String,
      mode: OutputMode = OutputMode.Complete(),
      requireSingleBatch: Boolean = false): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val s = agg.sparkSession
    val sink = prefix + "_" + java.lang.Long.toHexString(System.nanoTime())
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (requireSingleBatch) {
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"$prefix: backlog split across $dataBatches micro-batches — " +
          "single-batch sequential-parity assumption violated")
    }
    s.table(sink)
  }
}
