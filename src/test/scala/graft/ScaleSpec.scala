package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.series.Series
import graft.store.Bucketing

/** Scale-lever specs: bucketed shuffle-free joins, salted skew joins,
  * bounded densification. */
class ScaleSpec extends AnyFunSuite with SparkSpec {

  /** The single-partition reference window of the GlobalRank specs,
    * keyed by a constant that is not constant-foldable (a `lit` key
    * folds back to an empty spec and Spark logs "No Partition Defined"
    * on every run), the way `Series` keys its series windows. */
  private def onePartition =
    org.apache.spark.sql.expressions.Window.partitionBy(pmod(col("id"), lit(1)))

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.SpecBus.listening(spark.sparkContext, listener)(body)
    jobs.get
  }

  test("fact-store scans prune partitions, push filters, and prune columns") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("prune").toString
    val days = (1 to 9).map(d => java.sql.Date.valueOf(f"2024-03-0$d"))
    graft.store.FactStore.append(
      days.flatMap(d => (1L to 20L).map(i => (d, i, "downloads", i)))
        .toDF("date", "id", "value", "count"), dir)
    val q = graft.store.FactStore.read(spark, dir)
      .filter(col("date") === java.sql.Date.valueOf("2024-03-04") &&
        col("count") > 5L)
      .select("id", "count")
    val plan = q.queryExecution.executedPlan.toString
    // date is a partition column: the predicate must prune at the
    // directory level, never reach row filtering
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("date"), s"date not in PartitionFilters:\n$plan")
    // the count predicate must reach the parquet reader
    assert(plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
      .contains("GreaterThan(count"), s"count filter not pushed:\n$plan")
    // a 2-column projection must not read the value column
    assert(plan.replaceAll("(?s).*ReadSchema: ([^\\n]*).*", "$1")
      .split("\\n").head.split("value").length == 1,
      s"value column read for a 2-column projection:\n$plan")
    // and the pruned scan actually reads 1/9th of the partitions
    assert(q.count() == 15L)
  }

  test("bucketed tables join without a shuffle exchange") {
    val s = spark; import s.implicits._
    val facts = (1 to 1000).map(i => (i.toLong % 50, s"v$i", i.toLong))
      .toDF("id", "value", "count")
    val dims = (0L until 50L).map(i => (i, s"set${i % 5}")).toDF("id", "set_value")
    val dir = Files.createTempDirectory("bucketed")
    Bucketing.writeBucketed(facts, "b_facts", "id", buckets = 8,
      path = Some(dir.resolve("b_facts").toString))
    Bucketing.writeBucketed(dims, "b_dims", "id", buckets = 8,
      path = Some(dir.resolve("b_dims").toString))
    // Force the sort-merge path: broadcast would win on this tiny dim
    // and hide the bucketing effect under a BroadcastExchange.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scan not used:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("salted join splits a hot key and preserves results") {
    val s = spark; import s.implicits._
    // 90% of rows hit key 1 (the hot item)
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong % 7, i.toLong))
      .toDF("key", "payload")
    val small = (0L until 10L).map(i => (i, s"dim$i")).toDF("key", "name")
    val plain = big.join(small, "key")
    val salted = Bucketing.saltedJoin(big, small, "key",
      saltFactor = 4, saltSource = "payload")
    assert(salted.count() == plain.count())
    assert(salted.columns.toSet == plain.columns.toSet)
    assert(salted.agg(sum("payload")).head().getLong(0) ==
      plain.agg(sum("payload")).head().getLong(0))
  }

  test("fingerprints plan pays exactly one shuffle (window; agg reuses it)") {
    val s = spark; import s.implicits._
    val docs = (1L to 50L).map(i => (i, s"w$i x$i y$i z$i q$i"))
      .toDF("doc_id", "text")
    val plan = graft.dedup.Dedup.fingerprints(docs)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n$plan")
  }

  test("range join matches the naive range predicate and avoids the nested loop") {
    val s = spark; import s.implicits._
    // deliberately overlapping, non-bucket-aligned intervals,
    // including boundary-exact points (pt == lo and pt == hi)
    val intervals = Seq((0L, 5.0, 30.0), (1L, 25.0, 47.5), (2L, 30.0, 31.0))
      .toDF("band", "lo", "hi")
    val points = (0 to 100).map(i => (i.toLong, i / 2.0)).toDF("pid", "pt")
    val got = graft.operators.RangeJoin.pointInInterval(
      points, intervals, "pt", "lo", "hi", bucketWidth = 7.0)
    val naive = points.join(intervals,
      col("pt") >= col("lo") && col("pt") < col("hi"))
    assert(got.select("pid", "band").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .sameElements(naive.select("pid", "band").collect().map(r => (r.getLong(0), r.getLong(1))).sorted))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), s"bucketized join fell back to nested loop:\n$plan")
    assert(naive.queryExecution.executedPlan.toString.contains("NestedLoopJoin"),
      "naive formulation should exercise the nested-loop path this operator replaces")
  }

  test("range join drops inverted intervals and fails loudly past the replica cap") {
    val s = spark; import s.implicits._
    val points = Seq((1L, 10.0)).toDF("pid", "pt")
    // inverted interval (hi < lo): zero matches, no junk replicas
    val inverted = Seq((0L, 30.0, 5.0)).toDF("band", "lo", "hi")
    assert(graft.operators.RangeJoin.pointInInterval(
      points, inverted, "pt", "lo", "hi", bucketWidth = 1.0).count() == 0L)
    // one absurdly wide interval must raise, not OOM
    val wide = Seq((0L, 0.0, 1e9)).toDF("band", "lo", "hi")
    val ex = intercept[Exception] {
      graft.operators.RangeJoin.pointInInterval(
        points, wide, "pt", "lo", "hi", bucketWidth = 1.0,
        maxReplicasPerInterval = 1000L).count()
    }
    assert(ex.getMessage != null)
  }

  test("bloom-prefiltered semi-join is exact (false positives removed)") {
    val s = spark; import s.implicits._
    val fact = (1L to 5000L).map(k => (k % 1000, k)).toDF("key", "payload")
    val dim = (0L until 1000L by 7L).toDF("dkey")
    // fpp cranked high so false positives certainly occur pre-join
    val got = graft.operators.BloomJoin.semiJoinLong(
      fact, dim, "key", "dkey", expectedDimKeys = 150, fpp = 0.3)
    val want = fact.join(dim, col("key") === col("dkey"), "left_semi")
    assert(got.count() == want.count())
    assert(got.agg(sum("payload")).head().getLong(0) ==
      want.agg(sum("payload")).head().getLong(0))
    // empty dim: zero rows, not the sketch-build NPE Spark throws on
    // a zero-row bloomFilter (an over-filtered dim is a normal state)
    val emptyDim = dim.filter(lit(false))
    assert(graft.operators.BloomJoin.semiJoinLong(
      fact, emptyDim, "key", "dkey", expectedDimKeys = 150).count() == 0L)
  }

  test("lifetime MV incremental merge equals full recompute; refresh is crash-safe") {
    val s = spark; import s.implicits._
    import graft.store.{FactStore, LifetimeMv}
    val root = Files.createTempDirectory("mv").toString
    val factDir = s"$root/fact"
    val mvDir = s"$root/mv"
    def day(d: String, rows: (Long, String, Long)*) =
      rows.toSeq.map { case (id, v, c) => (java.sql.Date.valueOf(d), id, v, c) }
        .toDF("date", "id", "value", "count")

    FactStore.append(day("2024-01-01", (1L, "dl", 3L), (2L, "vw", 1L)), factDir)
    FactStore.append(day("2024-01-02", (1L, "dl", 2L)), factDir)
    assert(LifetimeMv.update(spark, mvDir, factDir) == 2L) // two days merged
    FactStore.append(day("2024-01-03", (1L, "dl", 5L), (3L, "dl", 7L)), factDir)
    assert(LifetimeMv.update(spark, mvDir, factDir) == 1L) // only the new day
    assert(LifetimeMv.update(spark, mvDir, factDir) == 0L) // already fresh

    def totals(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(r.fieldIndex("id")),
        r.getString(r.fieldIndex("value")),
        r.getLong(r.fieldIndex("count")))).toSet
    val full = FactStore.read(spark, factDir)
      .groupBy("id", "value").agg(sum("count").as("count"))
    assert(totals(LifetimeMv.read(spark, mvDir).get) == totals(full))

    // crash between version write and pointer flip: fake an orphan
    // v99 dir; the pointer still names the committed version, so the
    // next update merges from it and the orphan is garbage-collected
    val orphan = new java.io.File(s"$mvDir/v99")
    orphan.mkdirs()
    FactStore.append(day("2024-01-04", (2L, "vw", 10L)), factDir)
    assert(LifetimeMv.update(spark, mvDir, factDir) == 1L)
    val full2 = FactStore.read(spark, factDir)
      .groupBy("id", "value").agg(sum("count").as("count"))
    assert(totals(LifetimeMv.read(spark, mvDir).get) == totals(full2))
  }

  test("lifetime MV update with no new partition starts no Spark job") {
    val s = spark; import s.implicits._
    import graft.store.{FactStore, LifetimeMv}
    val root = Files.createTempDirectory("mv-fresh").toString
    val factDir = s"$root/fact"
    val mvDir = s"$root/mv"
    FactStore.append(Seq((java.sql.Date.valueOf("2024-01-01"), 1L, "dl", 3L))
      .toDF("date", "id", "value", "count"), factDir)
    assert(LifetimeMv.update(spark, mvDir, factDir) == 1L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    val merged = org.apache.spark.SpecBus.listening(spark.sparkContext, listener)(
      LifetimeMv.update(spark, mvDir, factDir))
    assert(merged == 0L)
    assert(jobs.get == 0)
  }

  test("opening a fact table or the lifetime MV starts no Spark job") {
    val s = spark; import s.implicits._
    import graft.store.{FactStore, LifetimeMv}
    val root = Files.createTempDirectory("store-open").toString
    val factDir = s"$root/fact"
    val mvDir = s"$root/mv"
    FactStore.append(Seq((java.sql.Date.valueOf("2024-01-01"), 1L, "dl", 3L),
        (java.sql.Date.valueOf("2024-01-02"), 2L, "dl", 4L))
      .toDF("date", "id", "value", "count"), factDir)
    assert(LifetimeMv.update(spark, mvDir, factDir) == 2L)
    var fact, mv: org.apache.spark.sql.DataFrame = null
    // the store fixes both schemas: nothing is inferred from the files
    assert(jobsOf {
      fact = FactStore.read(spark, factDir)
      mv = LifetimeMv.read(spark, mvDir).get
    } == 0)
    assert(fact.schema.fieldNames.toSeq == Seq("id", "value", "count", "date"))
    assert(mv.schema.fieldNames.toSeq == Seq("id", "value", "count"))
    assert(fact.select("date", "id", "value", "count").as[(java.sql.Date, Long, String, Long)]
      .collect().map(_._4).sum == 7L)
    assert(mv.as[(Long, String, Long)].collect().toSet == Set((1L, "dl", 3L), (2L, "dl", 4L)))
  }

  test("opening a fact table above Spark's parallel-listing threshold starts no Spark job") {
    val s = spark; import s.implicits._
    import graft.store.FactStore
    val dir = Files.createTempDirectory("store-open-40").toString + "/fact"
    val start = java.time.LocalDate.parse("2024-01-01")
    FactStore.append((0 until 40).flatMap { d =>
        val day = java.sql.Date.valueOf(start.plusDays(d.toLong))
        (1L to 3L).map(i => (day, i, s"v$i", 10L * d + i))
      }.toDF("date", "id", "value", "count"), dir)
    // Spark lists this many partition directories with a distributed job
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt < 40)
    val names = {
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator.asScala.map(_.getFileName.toString).toSeq finally walk.close()
    }
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    var fact: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { fact = FactStore.read(spark, dir) } == 0)
    val ref = spark.read.schema(graft.model.FactRow.schema).parquet(dir)
    assert(fact.schema == ref.schema)
    assert(fact.schema.fieldNames.toSeq == Seq("id", "value", "count", "date"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, java.sql.Date)].collect().map(_.toString).sorted.toSeq
    assert(rows(fact) == rows(ref) && rows(fact).size == 120)
    // a 7-day window prunes to the same files: 7 days, one file each
    val week = col("date").between(java.sql.Date.valueOf("2024-01-10"),
      java.sql.Date.valueOf("2024-01-16"))
    def scanned(df: org.apache.spark.sql.DataFrame): (Long, Seq[String]) = {
      val q = df.filter(week).select(input_file_name())
      val files = q.collect().map(_.getString(0)).distinct.sorted.toSeq
      val scan = q.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      (scan.metrics("numFiles").value, files)
    }
    assert(scanned(fact) == scanned(ref))
    assert(scanned(fact)._1 == 7L)
  }

  test("Sets.ancestorClosure's Spark jobs do not grow with the tree's depth") {
    // one scan of the tree and one materialized broadcast join, however
    // deep the tree: at most 6 jobs
    val s = spark; import s.implicits._
    val asn = Seq(("c", 1L)).toDF("set_value", "id")
    val tree = Seq(("c", "b"), ("b", "a")).toDF("child", "parent")
    var closure: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf { closure = graft.sets.Sets.ancestorClosure(asn, tree) }
    assert(jobs <= 6, s"ancestorClosure ran $jobs Spark jobs on a 3-level tree")
    assert(closure.as[(String, Long)].collect().toSet == Set(("c", 1L), ("b", 1L), ("a", 1L)))
  }

  test("salted aggregation equals direct groupBy on a hot-key table") {
    val s = spark; import s.implicits._
    // one key holds 90% of rows — the aggregation-skew pathology
    val rows = (1 to 1000).map(i =>
      (if (i <= 900) "hot" else s"k${i % 13}", i.toLong))
    val df = rows.toDF("key", "v")
    assert(graft.operators.Skew.skewRatio(df, "key") > 10.0)
    val direct = df.groupBy("key").agg(sum("v").as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.operators.Skew
      .saltedSum(df, Seq("key"), "v", "total", nSalts = 7)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }

  test("interpolate fills interior gaps linearly, flags filled rows") {
    val s = spark; import s.implicits._
    val sparse = Seq(("2024-03-01", 10L), ("2024-03-04", 40L),
        ("2024-03-06", 30L))
      .map { case (d, v) => (java.sql.Date.valueOf(d), v) }.toDF("d", "v")
    val out = graft.series.Series.interpolate(sparse, "d", "v")
      .orderBy("d").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq(
      ("2024-03-01", 10L, 0), ("2024-03-02", 20L, 1), ("2024-03-03", 30L, 1),
      ("2024-03-04", 40L, 0), ("2024-03-05", 35L, 1), ("2024-03-06", 30L, 0)))
  }

  test("interpolate enforces the span cap on the single-series path") {
    val s = spark; import s.implicits._
    val wide = Seq(("1990-01-01", 1L), ("2024-01-01", 2L))
      .map { case (d, v) => (java.sql.Date.valueOf(d), v) }.toDF("d", "v")
    val e = intercept[Exception] {
      graft.series.Series.interpolate(wide, "d", "v").collect()
    }
    assert(e.getMessage.contains("maxSpanDays") ||
      Option(e.getCause).exists(_.getMessage.contains("maxSpanDays")))
    // a raised cap lets the same range through
    assert(graft.series.Series
      .interpolate(wide, "d", "v", maxSpanDays = 13000).count() > 12000)
  }

  test("interpolate partitions by series key independently") {
    val s = spark; import s.implicits._
    val sparse = Seq(("a", "2024-03-01", 0L), ("a", "2024-03-03", 10L),
        ("b", "2024-03-02", 4L), ("b", "2024-03-05", 1L))
      .map { case (k, d, v) => (k, java.sql.Date.valueOf(d), v) }
      .toDF("k", "d", "v")
    val out = graft.series.Series.interpolate(sparse, "d", "v", Seq("k"))
      .orderBy("k", "d").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    assert(out.toSeq == Seq(
      ("a", "2024-03-01", 0L), ("a", "2024-03-02", 5L), ("a", "2024-03-03", 10L),
      ("b", "2024-03-02", 4L), ("b", "2024-03-03", 3L), ("b", "2024-03-04", 2L),
      ("b", "2024-03-05", 1L)))
  }

  test("densify honors an explicit requested range") {
    val s = spark; import s.implicits._
    val series = Seq((java.sql.Date.valueOf("2024-03-10"), 5L))
      .toDF("d", "cnt")
    val out = Series.densify(series,
      from = Some(java.time.LocalDate.of(2024, 3, 8)),
      to = Some(java.time.LocalDate.of(2024, 3, 12)))
      .orderBy("d").collect()
    assert(out.length == 5)
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 0L, 5L, 0L, 0L))
  }

  test("GlobalRank matches the single-partition window rank and ntile") {
    val s = spark; import s.implicits._
    import graft.operators.GlobalRank
    // 103 rows (not divisible by 4), duplicate sort values (ties
    // broken by id), spread over many range partitions
    val df = (1 to 103).map(i => (i.toLong, (i * 7 % 13).toLong))
      .toDF("id", "v")
    val order = Seq(col("v").desc, col("id"))
    val viaOp = GlobalRank.withNtile(
        GlobalRank.withRowNumber(df, order, "rn", partitions = 8),
        4, order, "q", partitions = 8)
      .select("id", "rn", "q")
    val w = onePartition.orderBy(order: _*)
    val viaWindow = df
      .withColumn("rn", row_number().over(w))
      .withColumn("q", ntile(4).over(w))
      .select("id", "rn", "q")
    assert(viaOp.except(viaWindow).isEmpty && viaWindow.except(viaOp).isEmpty)
    // and every row_number window in the operator's plan is
    // partitioned by the range-partition id (no global window)
    val plan = viaOp.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__pid"),
      s"expected __pid-partitioned window:\n$plan")
  }

  test("GlobalRank ntile with fewer rows than buckets") {
    val s = spark; import s.implicits._
    import graft.operators.GlobalRank
    val df = Seq((1L, 5L), (2L, 3L)).toDF("id", "v")
    val out = GlobalRank.withNtile(df, 4, Seq(col("v").desc, col("id")), "q")
      .select("id", "q").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // NTILE(4) over 2 rows: buckets 1 and 2
    assert(out.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("GlobalRank ranks stable and unstable inputs alike (nulls, mixed directions)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.GlobalRank
    import graft.store.Materialize
    // nulls in the sort value + every direction/null-order combination;
    // ids unique so the rank is total-order exact for both inputs
    val df = (1 to 211).map { i =>
      val v = if (i % 17 == 0) None else Some((i * 7 % 13).toLong)
      (i.toLong, v)
    }.toDF("id", "v")
    // the unstable input's checkpoints escape to this scope
    Materialize.scope(s, "ScaleSpec.GlobalRank") { _ =>
      val inputs = Seq("stable" -> df, "unstable" -> df.withColumn("noise", rand(7)))
      val orders = Seq(
        Seq(col("v").asc_nulls_first, col("id")),
        Seq(col("v").asc_nulls_last, col("id")),
        Seq(col("v").desc_nulls_first, col("id")),
        Seq(col("v").desc_nulls_last, col("id")),
        Seq(col("v").desc, col("id").desc))
      for (order <- orders; (nm, in) <- inputs) {
        val got = GlobalRank.withRowNumber(in, order, "rn", partitions = 8)
          .select("id", "rn")
        val window = df.withColumn("rn", row_number().over(onePartition.orderBy(order: _*)))
          .select("id", "rn")
        assert(got.except(window).isEmpty && window.except(got).isEmpty,
          s"$nm rank diverged for order $order")
      }
      // prefix sum + ntile, both inputs, one mixed order
      val order = Seq(col("v").desc_nulls_last, col("id"))
      val wSum = df.withColumn("cum", sum("id").over(onePartition.orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, 0))).select("id", "cum")
      val wNt = df.withColumn("q", ntile(7).over(onePartition.orderBy(order: _*)))
        .select("id", "q")
      for ((nm, in) <- inputs) {
        val cum = GlobalRank.withPrefixSum(in, col("id"), order, "cum", 8)
          .select("id", "cum")
        assert(cum.except(wSum).isEmpty && wSum.except(cum).isEmpty,
          s"$nm prefix sum diverged")
        val q = GlobalRank.withNtile(in, 7, order, "q", 8).select("id", "q")
        assert(q.except(wNt).isEmpty && wNt.except(q).isEmpty, s"$nm ntile diverged")
      }
    }
  }

  test("GlobalRank prefix sum matches the single-partition window sum") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.GlobalRank
    // weights with duplicates in the sort value, ties broken by id
    val df = (1 to 97).map(i => (i.toLong, (i * 5 % 11 + 1).toLong))
      .toDF("id", "w")
    val order = Seq(col("id"))
    val viaOp = GlobalRank.withPrefixSum(df, col("w"), order, "cum",
        partitions = 8)
      .select("id", "cum")
    val viaWindow = df.withColumn("cum", sum("w").over(
        onePartition.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select("id", "cum")
    assert(viaOp.except(viaWindow).isEmpty && viaWindow.except(viaOp).isEmpty)
    // row-level window partitioned by range-partition id, not global
    val plan = viaOp.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__pid"),
      s"expected __pid-partitioned window:\n$plan")
  }
}
