package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming
import graft.streaming.Streaming.{Keyed, Kept}

/** Structured-Streaming specs (SURVEY.md §2.9): sessionized repeat
  * filtering with state, via MemoryStream micro-batches. */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  test("St5: streaming repeat filter keeps state across micro-batches") {
    implicit val s: SparkSession = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[Keyed]
    // NoTimeout in the test: ProcessingTimeTimeout schedules continuous
    // empty batches (state-expiry checks), which never settle under
    // processAllAvailable.
    val q = Streaming.repeatFilterStream(input.toDS(), timeoutSec = 3600,
        stateTimeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      .writeStream.format("memory").queryName("kept").outputMode("append").start()

    // batch 1: t=0 kept, t=1000 suppressed (within 3600 of t=0)
    input.addData(Keyed("k1", 0L), Keyed("k1", 1000L))
    q.processAllAvailable()
    // batch 2: t=2000 still suppressed BY STATE from batch 1; t=5000 kept
    input.addData(Keyed("k1", 2000L), Keyed("k1", 5000L))
    q.processAllAvailable()

    val kept = spark.table("kept").as[Kept].collect().map(_.sec).sorted
    q.stop()
    assert(kept.toSeq == Seq(0L, 5000L))
  }

  test("St5 production form: event-time timeout expires idle state at the watermark") {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[Keyed]
    // watermark rides an event-time column derived from sec (0s delay
    // keeps the arithmetic readable); the column stays in the Dataset
    // — Spark's checker requires the watermark visible at the
    // stateful operator for event-time timeouts
    val withWm = input.toDF()
      .withColumn("eventTime", timestamp_seconds(col("sec")))
      .withWatermark("eventTime", "0 seconds")
      .as[Streaming.KeyedEt]
    val q = Streaming.repeatFilterStreamEt(withWm, timeoutSec = 60)
      .writeStream.format("memory").queryName("kept_et")
      .outputMode("append").start()

    // batch 1: k kept at 100, suppressed at 130 (gap 30 <= 60);
    // watermark after the batch = 130
    input.addData(Keyed("k", 100L), Keyed("k", 130L))
    q.processAllAvailable()
    // batch 2: still suppressed BY LIVE STATE (gap 40); state timeout
    // stamp stays lastKept+60 = 160
    input.addData(Keyed("k", 140L))
    q.processAllAvailable()
    // batch 3: another key drives the watermark to 400 > 160 — k's
    // state times out and is REMOVED (expiry emits nothing)
    input.addData(Keyed("w", 400L))
    q.processAllAvailable()
    // batch 4: a LATE straggler (150 < watermark) is DROPPED by the
    // engine's pre-stateful late-row filter — it can neither be
    // suppressed nor kept, so expired state can never produce a
    // wrong keep (the batch form, which sees all data, arbitrates
    // backfills); z advances the query one more data batch
    input.addData(Keyed("k", 150L), Keyed("z", 500L))
    q.processAllAvailable()

    val keptK = spark.table("kept_et").as[Kept].collect()
      .filter(_.key == "k").map(_.sec).sorted
    // state EXPIRY is invisible in the output by design (anything far
    // enough past lastKept to outlive the state is kept anyway) —
    // prove it from the state-store metrics: keys seen = k, w, z; if
    // nothing ever expired the store would hold 3 rows
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    assert(keptK.toSeq == Seq(100L), s"late row leaked into output: $keptK")
    assert(stateRows <= 2, s"no state expired: $stateRows rows for 3 keys")
  }

  test("St5 under RocksDB state store: same semantics, bounded-heap posture") {
    implicit val s: SparkSession = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Streaming.rocksDbStateStoreConfs().foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val input = MemoryStream[Keyed]
      val q = Streaming.repeatFilterStream(input.toDS(), timeoutSec = 3600,
          stateTimeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
        .writeStream.format("memory").queryName("kept_rocks")
        .outputMode("append").start()
      input.addData(Keyed("k1", 0L), Keyed("k1", 1000L))
      q.processAllAvailable()
      // state written by batch 1 must survive INTO batch 2 through the
      // RocksDB provider for 2000 to be suppressed
      input.addData(Keyed("k1", 2000L), Keyed("k1", 5000L))
      q.processAllAvailable()
      val kept = spark.table("kept_rocks").as[Kept].collect().map(_.sec).sorted
      // the query really ran on RocksDB: its progress carries the
      // provider's custom metrics (rocksdb*), absent under the default
      val progressJson = q.lastProgress.json
      q.stop()
      assert(kept.toSeq == Seq(0L, 5000L))
      assert(progressJson.contains("rocksdb"))
    } finally {
      prev match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("St4: streaming dedup drops re-delivered records across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = Streaming.dedupStream(
        input.toDF().toDF("event_id", "ts"), Seq("event_id"))
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    input.addData((1L, t0), (2L, t0))
    q.processAllAvailable()
    // batch 2 re-delivers event 1 (producer retry) and adds event 3
    input.addData((1L, t0), (3L, t0))
    q.processAllAvailable()
    val ids = spark.table("deduped").select("event_id")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-stream interval join attributes purchases to windowed views") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime + sec * 1000L)
    val purchases = MemoryStream[(Long, java.sql.Timestamp, String)]
    val views = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Streaming.attributionStream(
        purchases.toDF().toDF("user_id", "ts", "pid"),
        views.toDF().toDF("v_user_id", "v_ts", "vid"),
        maxLagSec = 60, lateness = "5 seconds")
      .select("pid", "vid")
      .writeStream.format("memory").queryName("attr").outputMode("append").start()

    // user 1: two views inside the 60s window, one outside; user 2: none
    views.addData((1L, ts(0), "v-old"), (1L, ts(100), "v1"), (1L, ts(110), "v2"))
    purchases.addData((1L, ts(120), "p1"), (2L, ts(125), "p2"))
    q.processAllAvailable()
    // advance both watermarks far past the window so p2's outer (null)
    // row is emitted and v-old's state is evicted
    views.addData((9L, ts(1000), "v-z"))
    purchases.addData((9L, ts(1000), "p-z"))
    q.processAllAvailable()
    views.addData((8L, ts(2000), "v-y"))
    purchases.addData((8L, ts(2000), "p-y"))
    q.processAllAvailable()

    val rows = spark.table("attr").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    q.stop()
    // p1 matched v1 and v2 (inside window), NOT v-old (outside);
    // p2 emitted unattributed after the watermark passed
    assert(rows.contains(("p1", Some("v1"))))
    assert(rows.contains(("p1", Some("v2"))))
    assert(!rows.contains(("p1", Some("v-old"))))
    assert(rows.contains(("p2", None)))
  }

  test("file-source stream ingests TSV day files end-to-end") {
    import java.util.zip.GZIPOutputStream
    val dir = java.nio.file.Files.createTempDirectory("stream-access").toFile
    val day = new java.io.File(dir, "2024/2024-03-01.log.gz")
    day.getParentFile.mkdirs()
    val out = new GZIPOutputStream(new java.io.FileOutputStream(day))
    out.write(("2024-03-01T10:00:00Z\t1.2.3.4\tUA\tref\tsvc\t12\t7\n" +
      "not a valid line\n" +
      "2024-03-01T11:00:00Z\t1.2.3.4\tUA\tref\tsvc\t12\t\n").getBytes("UTF-8"))
    out.close()
    val q = Streaming.readAccessStream(spark, dir.getAbsolutePath + "/*/*.log.gz")
      .writeStream.format("memory").queryName("ingested").outputMode("append").start()
    q.processAllAvailable()
    val rows = spark.table("ingested").collect()
    q.stop()
    assert(rows.length == 2) // malformed line dropped
    assert(rows.forall(_.getAs[java.sql.Timestamp]("ts") != null))
  }

  test("streaming daily fact emits closed days under watermark") {
    implicit val s: SparkSession = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Int, String)]
    val events = input.toDS()
      .toDF("ts", "referent_id", "value")
    val q = Streaming.dailyFactStream(events)
      .writeStream.format("memory").queryName("fact").outputMode("append").start()

    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    input.addData((ts("2024-03-01 10:00:00"), 1, "downloads"),
      (ts("2024-03-01 11:00:00"), 1, "downloads"))
    q.processAllAvailable()
    // advance watermark past day 1: new event two days later
    input.addData((ts("2024-03-03 01:00:00"), 2, "views"))
    q.processAllAvailable()
    input.addData((ts("2024-03-05 01:00:00"), 3, "views"))
    q.processAllAvailable()

    val rows = spark.table("fact").collect()
      .map(r => (r.getAs[java.sql.Date]("date").toString,
        r.getAs[Int]("id"), r.getAs[String]("value"), r.getAs[Long]("count")))
    q.stop()
    assert(rows.contains(("2024-03-01", 1, "downloads", 2L)))
  }

  test("ST3: append-mode windowed aggregate emits only watermark-finalized windows") {
    val s = spark; import s.implicits._
    // three 6h windows; max ts 13:30 -> watermark 12:30 finalizes the
    // 00-06 and 06-12 windows, the 12-18 window must NOT appear
    val dir = java.nio.file.Files.createTempDirectory("st3spec").toString
    Seq(
      ("2024-03-01 01:00:00", "a"), ("2024-03-01 05:00:00", "a"),
      ("2024-03-01 07:00:00", "b"), ("2024-03-01 13:30:00", "a"))
      .map { case (t, e) => (java.sql.Timestamp.valueOf(t), 1L, e, 0.0, "{}", 0L) }
      .toDF("ts", "user_id", "event_type", "value", "props", "event_id")
      .write.parquet(s"$dir/events.parquet")
    val rows = Streaming.availableNowWindowed(spark, s"$dir/events.parquet")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("win_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    assert(rows == Set(
      ("2024-03-01 00:00:00.0", "a", 2L),
      ("2024-03-01 06:00:00.0", "b", 1L)),
      s"unexpected finalized-window set: $rows")
  }

  test("KP2: streaming curation replay reproduces the batch kp1 report exactly") {
    // differential gate: the continuous pipeline (row-local gate +
    // stream-static owner join + Complete-mode aggregate) must emit
    // byte-identical accounting to the batch keystone on the same
    // corpus — the property the shared kp1/kp2 oracle pins again at
    // the driver's verify scale; this differential runs at sf0.001
    val dir = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("kp1_llm_curation")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val stream = SparkEntry.queries("kp2_stream_curation")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty, "kp1 returned no rows at sf0.001")
    assert(stream == batch,
      s"streaming curation diverged from batch:\nbatch=$batch\nstream=$stream")
  }

  test("KP2: a quality-surviving doc with a novel content key elects itself kept") {
    // the production shape: the owner index is a SNAPSHOT, the stream
    // continues past it. A surviving doc whose key the snapshot never
    // saw must be counted kept (self-elected canonical), not silently
    // dropped through a NULL owner comparison — the regression a
    // review caught in the first cut of this operator.
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kp2novel").toString
    // 25 tokens incl. >=2 stopwords, mean len in range, no symbols:
    // passes all four gates
    def text(tag: String) =
      s"the corpus carries a $tag document and the tokens flow onward " +
        "with plain words that keep the quality gate satisfied along " +
        "this line of prose"
    val snapshot = Seq((1L, text("seen"), "en", "srcA", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val streamed = Seq(
      (1L, text("seen"), "en", "srcA", 0L),   // owner exists: kept
      (2L, text("seen"), "en", "srcA", 0L),   // dup of owned key: dropped
      (3L, text("novel"), "en", "srcA", 0L))  // novel key: self-elected
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    snapshot.write.parquet(s"$dir/index/documents.parquet")
    streamed.write.parquet(s"$dir/stream/documents.parquet")
    val out = Streaming.availableNowCuration(
        s, s"$dir/stream/documents.parquet",
        indexPath = Some(s"$dir/index/documents.parquet"))
      .select("docs_in", "docs_quality", "docs_kept").collect()
    assert(out.length == 1, s"expected one (source, lang) row: ${out.toSeq}")
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 3L, 2L)),
      s"novel-key election broken: in/quality/kept = $r")
  }

  test("KP4: continuous curate replay reproduces the batch kp3 report exactly") {
    // the curate analog of the kp1/kp2 differential: per-batch
    // gating (scrub/score/canon/decontaminate) + the periodic mix
    // over the accumulated sink must emit byte-identical report rows
    // to the one-plan batch composition on the same fixture
    val dir = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("kp3_curation_pipeline")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val stream = SparkEntry.queries("kp4_stream_curate")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty, "kp3 returned no rows at sf0.001")
    assert(stream == batch,
      s"continuous curate diverged from batch:\nbatch=$batch\nstream=$stream")
  }

  test("KP2b: exact-once novel election holds ACROSS micro-batches") {
    // The copies of each novel key are split across two FILES and
    // maxFilesPerTrigger = 1 forces one file per micro-batch — so a
    // double election can only be prevented by the cross-batch
    // ledger, not by within-batch dedup. Expected: the owned key
    // keeps its snapshot owner (1 canon, the duplicate dropped), the
    // novel key elects exactly ONE copy across the two batches.
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kp2bledger").toString
    def text(tag: String) =
      s"the corpus carries a $tag document and the tokens flow onward " +
        "with plain words that keep the quality gate satisfied along " +
        "this line of prose"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    Seq((1L, text("seen"), "en", "srcA", 0L))
      .toDF(cols: _*).write.parquet(s"$dir/index/documents.parquet")
    val backlog = s"$dir/stream/documents.parquet"
    Seq((1L, text("seen"), "en", "srcA", 0L),
        (3L, text("novel"), "en", "srcA", 0L))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(backlog)
    Seq((2L, text("seen"), "en", "srcA", 0L),   // dup of owned key
        (4L, text("novel"), "en", "srcA", 0L))  // dup of NOVEL key
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(backlog)
    val out = Streaming.availableNowCurationExactOnce(
        s, backlog, indexPath = Some(s"$dir/index/documents.parquet"),
        maxFilesPerTrigger = Some(1))
      .select("docs_in", "docs_quality", "docs_kept").collect()
    assert(out.length == 1, s"expected one (source, lang) row: ${out.toSeq}")
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 2L)),
      s"exact-once cross-batch election broken: in/quality/kept = $r " +
        "(kept = 3 means the novel key double-elected — ledger not consulted)")
  }

  test("KP2b: a durable statePath resumes the backlog across CALLS") {
    // The true "index refresh cycle": call 1 processes the first
    // half of the corpus into a persistent ledger/sink/checkpoint;
    // new files arrive; call 2 with the SAME statePath must (a) skip
    // the already-processed files via the stream checkpoint, (b)
    // carry call 1's novel-key elections forward through the ledger
    // — the late duplicate of a novel key must NOT re-elect — and
    // (c) report over the whole corpus seen so far, byte-equal to a
    // single fresh call over the full backlog.
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kp2bresume").toString
    def text(tag: String) =
      s"the corpus carries a $tag document and the tokens flow onward " +
        "with plain words that keep the quality gate satisfied along " +
        "this line of prose"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val index = s"$dir/index/documents.parquet"
    Seq((1L, text("seen"), "en", "srcA", 0L)).toDF(cols: _*)
      .write.parquet(index)
    val backlog = s"$dir/stream/documents.parquet"
    Seq((1L, text("seen"), "en", "srcA", 0L),
        (3L, text("novel"), "en", "srcA", 0L))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(backlog)
    val statePath = s"$dir/state"
    val first = Streaming.availableNowCurationExactOnce(
        s, backlog, indexPath = Some(index), statePath = Some(statePath))
      .select("docs_in", "docs_quality", "docs_kept").collect()
    assert(first.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        == Seq((2L, 2L, 2L)), s"first leg wrong: ${first.toSeq}")
    // the refresh: two more docs land, one a duplicate of the
    // already-elected novel key 3
    Seq((2L, text("seen"), "en", "srcA", 0L),
        (4L, text("novel"), "en", "srcA", 0L))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(backlog)
    val resumed = Streaming.availableNowCurationExactOnce(
        s, backlog, indexPath = Some(index), statePath = Some(statePath))
      .select("docs_in", "docs_quality", "docs_kept").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fresh = Streaming.availableNowCurationExactOnce(
        s, backlog, indexPath = Some(index),
        maxFilesPerTrigger = Some(1))
      .select("docs_in", "docs_quality", "docs_kept").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(resumed == Seq((4L, 4L, 2L)),
      s"resumed leg wrong: $resumed (kept = 3 means the ledger did not " +
        "survive the call boundary; docs_in = 2 means the checkpoint " +
        "reprocessed or dropped the first leg's files)")
    assert(resumed == fresh,
      s"resume diverged from the one-shot run: resumed=$resumed fresh=$fresh")
    // the statePath is manifest-guarded: resuming the SAME path
    // against a DIFFERENT corpus/index must fail fast, not silently
    // merge inconsistent elections into the accounting
    val otherIndex = s"$dir/index2/documents.parquet"
    Seq((9L, text("seen"), "en", "srcA", 0L)).toDF(cols: _*)
      .write.parquet(otherIndex)
    val e = intercept[IllegalArgumentException] {
      Streaming.availableNowCurationExactOnce(
        s, backlog, indexPath = Some(otherIndex),
        statePath = Some(statePath))
    }
    assert(e.getMessage.contains("statePath"),
      s"wrong failure for a cross-corpus resume: ${e.getMessage}")
  }

  test("Kp2b: an all-novel cold-start batch keeps a parallel ledger write") {
    // round-18 guard for the unconditional coalesce(1): the FIRST
    // batch of a fresh backlog can be all-novel, and its ledger delta
    // (corpus-scale there) must not funnel through one task. The
    // delta's write parallelism scales with the micro-batch's
    // input-file count, so a 64-file backlog consumed in one
    // cold-start batch must fan the delta write out. AQE partition
    // coalescing is disabled on the isolated session: at test scale
    // it folds ANY tiny shuffle to one partition (a size decision,
    // fine), which would mask the specific bound under test — that
    // the explicit coalesce cap no longer forces a single task.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val dir = java.nio.file.Files.createTempDirectory("kp2b_cold").toString
    // every doc novel (unique key), every doc passing the gopher gate
    s.range(2000).selectExpr("'srcA' AS source", "id AS doc_id",
        "concat('doc ', id, ' the of ', repeat('words ', 22)) AS text")
      .repartition(64)
      .write.parquet(s"$dir/docs")
    // a DISJOINT snapshot index: every backlog key is novel (with the
    // default owners-from-backlog parity mode nothing ever is)
    s.range(1).selectExpr("'srcB' AS source", "(id + 90000) AS doc_id",
        "concat('other ', id, ' the of ', repeat('words ', 22)) AS text")
      .write.parquet(s"$dir/index")
    Streaming.availableNowCurationExactOnce(s, s"$dir/docs",
      indexPath = Some(s"$dir/index"),
      statePath = Some(s"$dir/state")).collect()
    val delta = new java.io.File(s"$dir/state/ledger/batch=0")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(delta.length > 1,
      s"all-novel cold-start ledger delta was written by a single task " +
        s"(${delta.length} parquet file)")
  }
}
