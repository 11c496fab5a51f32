package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, GraftBridge, functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sets.Sets
import graft.similarity.Similarity
import graft.store.{FactStore, Materialize}
import graft.streaming.Streaming

/** The one materialization primitive and the APIs built on it: what a
  * call leaves in `SparkContext.getPersistentRDDs` after it returns
  * (only what the returned frame reads) and after it throws (nothing it
  * made), and the task counts of the stages over its materialized
  * frames (never AQE's uncoalesced `initialPartitionNum`). */
class MaterializeSpec extends AnyFunSuite with SparkSpec {

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** The RDDs made since `before` are exactly those `out` reads. */
  private def onlyReturned(before: Set[Int], out: DataFrame): Unit = {
    val made = persistent -- before
    assert(made == (GraftBridge.rddsRead(out) -- before),
      spark.sparkContext.getPersistentRDDs.filter(r => made(r._1)).values.mkString("; "))
    assert(cacheManagerEmpty)
  }

  /** `call` throws and leaves nothing it made behind. */
  private def releasedOnThrow(call: => Any): Unit = {
    val before = persistent
    intercept[Exception](call)
    assert((persistent -- before).isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString("; "))
    assert(cacheManagerEmpty)
  }

  /** Near-duplicate documents: 1-3 share their text, 4 and 5 stand alone. */
  private def docs: DataFrame = {
    val s = spark; import s.implicits._
    def text(i: Int) = (0 until 30).map(j => s"w${i}x$j").mkString(" ")
    Seq((1L, text(1)), (2L, text(1)), (3L, text(1) + " extra"),
      (4L, text(9)), (5L, text(20))).toDF("doc_id", "text")
  }

  test("GlobalRank: an unstable input's checkpoint is freed with the caller's scope") {
    import graft.operators.GlobalRank
    val before = persistent
    val noisy = spark.range(200).toDF("id").withColumn("noise", F.rand(7))
    val order = Seq(F.col("id"))
    val counts = Materialize.scope(spark, "caller") { _ =>
      Seq(GlobalRank.withRowNumber(noisy, order).count(),
        GlobalRank.withNtile(noisy, 4, order).count())
    }
    assert(counts == Seq(200L, 200L))
    assert((persistent -- before).isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString("; "))
    assert(cacheManagerEmpty)
  }

  test("Materialize.scope frees what it made; a returned frame's checkpoint escapes") {
    val before = persistent
    Materialize.scope(spark, "outer") { _ =>
      val kept = Materialize.scope(spark, "inner") { m =>
        m("dropped")(spark.range(10).toDF("id"))
        m("kept")(spark.range(5).toDF("id"))
      }
      assert((persistent -- before) == GraftBridge.rddsRead(kept))
      assert(kept.count() == 5L)
    }
    // the enclosing scope adopted the escaped checkpoint and freed it
    assert((persistent -- before).isEmpty)

    // a checkpoint whose eager job failed is found by its call site
    releasedOnThrow(Materialize.scope(spark, "throws") { m =>
      m("ok")(spark.range(3).toDF("id"))
      m("fails")(spark.range(3).select(F.raise_error(F.lit("boom")).as("x")))
    })

    val root = Files.createTempDirectory("materialize_files").toString
    val files = Materialize.scope(spark, "files") { m =>
      m("pin", Materialize.Files(root))(spark.range(4).toDF("id"))
    }
    assert(files.count() == 4L && files.inputFiles.forall(_.contains(root)))
    assert((persistent -- before).isEmpty)
  }

  test("freeing a local checkpoint logs no lineage WARN and drops it from the persistent RDDs") {
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("rdd-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val rddLoggers = LogManager.getLogger("org.apache.spark.rdd").asInstanceOf[CoreLogger]
    rddLoggers.addAppender(capture)
    var freed = Set.empty[Int]
    try Materialize.scope(spark, "warn-free") { m =>
      val df = m("freed")(spark.range(10).toDF("id"))
      freed = GraftBridge.rddsRead(df)
      assert(df.count() == 10L)
    } finally {
      rddLoggers.removeAppender(capture)
      capture.stop()
    }
    assert(freed.nonEmpty && (freed & persistent).isEmpty)
    assert(logged.isEmpty, logged)
  }

  /** 40 four-dim vectors in a fresh parquet table: a new corpus plan, so
    * the in-JVM index cache never serves another test's index. */
  private def vectorTable(): DataFrame = {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("ivfpq_release").toString + "/vectors"
    (0L until 40L).map(i => (i, Array(math.sin(i.toDouble).toFloat,
        math.cos(i.toDouble).toFloat, (i % 7).toFloat / 7, (i % 3).toFloat / 3)))
      .toDF("vec_id", "embedding").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def ivfPqIndex(path: Option[String]) =
    Similarity.ivfPqIndexTable(vectorTable(), dim = 4, cells = 2, cellStride = 3,
      m = 2, subDim = 2, cbStride = 3, cbK = 4, indexPath = path)

  test("Similarity.ivfPqIndexTable frees its training checkpoints (temp-dir index)") {
    val before = persistent
    val (centroids, codebook, postings) = ivfPqIndex(None)
    for (table <- Seq(centroids, codebook, postings)) onlyReturned(before, table)
    assert(postings.count() == 80L)
  }

  test("Similarity.ivfPqIndexTable frees its training checkpoints (indexPath)") {
    val dir = Files.createTempDirectory("ivfpq_release_path").toString + "/index"
    val before = persistent
    val (centroids, codebook, postings) = ivfPqIndex(Some(dir))
    for (table <- Seq(centroids, codebook, postings)) onlyReturned(before, table)
    assert(postings.count() == 80L)
  }

  test("Similarity.ivfPqIndexTable frees its training checkpoints when the build throws") {
    // the index path sits under a regular file: training runs, the
    // first table write cannot create its directory
    val file = Files.createTempFile("ivfpq_release", ".file").toString
    releasedOnThrow(ivfPqIndex(Some(s"$file/index")))
  }

  test("Similarity.ivfPqIndexTable frees its checkpoints and claim when a claimed build throws") {
    // the index path is a regular file: the claim beside it lands,
    // training runs, the first table write cannot create its directory
    val dir = Files.createTempDirectory("ivfpq_release_claim")
    val file = Files.createFile(dir.resolve("index")).toString
    releasedOnThrow(ivfPqIndex(Some(file)))
    assert(!Files.exists(dir.resolve(".index._graft_building")),
      "a failed index build left its claim marker behind")
  }

  test("vector family: a board row leaves only the checkpoints its result reads") {
    val sf = "/root/testdata/sf0.001"
    val rows = Seq("d9_semantic_dedup", "v1_ann_bruteforce", "v4_ann_lsh",
      "v5_ann_ivf", "v8_pq_adc", "v9_ivf_pq", "v10_pq_trained",
      "v11_kmeans_cluster", "v12_diversity_medoid", "v13_knn_classify",
      "v15_recall_eval", "v16_filtered_ann", "v16b_filtered_ivf",
      "v16c_trained_filtered_ivf", "v17_filtered_ivf_pq", "v18_persisted_ivf_pq")
    val strays = rows.flatMap { name =>
      // the enclosing scope is the caller: it adopts and frees what
      // the row's result reads once the row is checked
      Materialize.scope(spark, s"sweep $name") { _ =>
        val before = persistent
        val out = SparkEntry.queries(name)(spark, sf)
        // also looked at before the write: Spark's ContextCleaner frees
        // a leaked RDD once a driver GC finds it unreachable
        val built = persistent
        out.write.mode("overwrite").format("noop").save()
        val stray = (built ++ persistent) -- before -- GraftBridge.rddsRead(out)
        if (stray.isEmpty) None
        else Some(s"$name: ${stray.toSeq.sorted.mkString(",")}")
      }
    }
    assert(strays.isEmpty, strays.mkString("; "))
  }

  test("FactStore.compact releases its snapshot when it throws and when it returns") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("compact_release").toString + "/facts"
    def day(d: String) = java.sql.Date.valueOf(d)
    Seq((day("2024-01-01"), 1L, "a", 1L), (day("2024-01-02"), 2L, "b", 2L))
      .toDF("date", "id", "value", "count")
      .write.partitionBy("date").parquet(dir)
    val before = persistent
    val stats = FactStore.compact(spark, dir, targetRows = 10)
    assert(stats.collect().length == 2)
    onlyReturned(before, stats)

    // a day whose file types disagree with the table's fails the read.
    // With AQE off the read runs in the snapshot's own eager job, after
    // Spark has persisted the snapshot RDD.
    Seq((3L, "c", "three")).toDF("id", "value", "count")
      .write.parquet(s"$dir/date=2024-01-03")
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    releasedOnThrow(FactStore.compact(noAqe, dir, targetRows = 10))
  }

  test("Dedup.minhashNearDup releases its features when it throws and when it returns") {
    val before = persistent
    val pairs = Dedup.minhashNearDup(docs)
    assert(pairs.count() == 3L)
    onlyReturned(before, pairs)
    // k = 16 is not a multiple of 3 bands: fails after the features exist
    releasedOnThrow(Dedup.minhashNearDup(docs, rowsPerBand = 3))
  }

  test("Dedup.nearDupClusters releases its intermediates when it throws and when it returns") {
    val pairs = Dedup.minhashNearDup(docs)
    val before = persistent
    val clusters = Dedup.nearDupClusters(pairs, docs)
    assert(clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
    onlyReturned(before, clusters)
    // the edge list fails in its own eager job
    val bad = spark.range(1, 3).select(
      F.raise_error(F.lit("bad pair")).cast("long").as("a"), F.col("id").as("b"))
    releasedOnThrow(Dedup.nearDupClusters(bad, docs))
  }

  test("Sets.ancestorClosure frees superseded rounds, keeps the returned accumulator") {
    val s = spark; import s.implicits._
    val assignments = Seq(("c", 1L), ("c", 2L), ("b", 3L)).toDF("set_value", "id")
    val tree = Seq(("c", "b"), ("b", "a")).toDF("child", "parent")
    val before = persistent
    val closure = Sets.ancestorClosure(assignments, tree)
    onlyReturned(before, closure)
    assert((persistent -- before).nonEmpty, "the returned accumulator was freed")
    assert(closure.collect().map(r => r.getString(0) -> r.getLong(1)).toSet ==
      Set("c" -> 1L, "c" -> 2L, "b" -> 1L, "b" -> 2L, "b" -> 3L,
        "a" -> 1L, "a" -> 2L, "a" -> 3L))
    // the depositability dim lacks its column: fails after the loop
    releasedOnThrow(Sets.ancestorClosure(assignments, tree,
      depositable = Some(Seq("a").toDF("subjectid"))))
  }

  /** Repository metadata: multi-valued divisions, a type, and compound
    * creators whose ids lowercase to 12 author keys. A local relation,
    * not `spark.range`: a range's partitioning on `id` satisfies the
    * dims' dedup on (set_value, id), which then plans no shuffle. */
  private def meta: DataFrame = {
    val s = spark; import s.implicits._
    (1L to 200L).toDF("id").select(F.col("id"),
      F.array(F.concat(F.lit("div"), (F.col("id") % 12).cast("string")),
        F.concat(F.lit("div"), (F.col("id") % 5).cast("string"))).as("divisions"),
      F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).as("type"),
      F.array(F.struct(
        F.struct(F.lit("smith").as("family"), F.lit("j").as("given")).as("name"),
        F.concat(F.lit("A"), (F.col("id") % 12).cast("string")).as("id"))).as("creators"))
  }

  /** One dim per builder over `from`. */
  private def setDims(from: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "materialize(multiple)" ->
      (() => Sets.materialize(from, Sets.SetDef("divisions", "divisions", multiple = true))),
    "materialize" -> (() => Sets.materialize(from, Sets.SetDef("type", "type"))),
    "materializeCompound" ->
      (() => Sets.materializeCompound(from, Sets.CompoundSetDef("authors", "creators"))))

  test("Sets.materialize and materializeCompound return one checkpoint; a throw leaves nothing") {
    for ((name, build) <- setDims(meta)) {
      val before = persistent
      val dim = build()
      onlyReturned(before, dim)
      assert((persistent -- before).size == 1, s"$name does not read exactly one checkpoint")
      assert(dim.count() > 0L, name)
      GraftBridge.unpersist(spark.sparkContext.getPersistentRDDs((persistent -- before).head))
    }
    // the metadata fails inside the dim's eager job
    val bad = F.raise_error(F.lit("bad metadata"))
    releasedOnThrow(Sets.materialize(meta.withColumn("type", bad.cast("string")),
      Sets.SetDef("type", "type")))
    releasedOnThrow(Sets.materializeCompound(meta.withColumn("creators",
        bad.cast("array<struct<name:struct<family:string,given:string>,id:string>>")),
      Sets.CompoundSetDef("authors", "creators")))
  }

  test("set dims: a caller that caches and counts a dim runs no stage at initialPartitionNum tasks") {
    val initial = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
    // the metadata cached too, as a dashboard set-up caches it
    val cachedMeta = meta.cache()
    for ((name, build) <- setDims(cachedMeta)) {
      val tasks = mutable.ArrayBuffer.empty[Int]
      val listener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          tasks.synchronized(tasks += e.stageInfo.numTasks)
      }
      // the enclosing scope is the caller: it adopts and frees the dim
      Materialize.scope(spark, s"cache $name") { _ =>
        val dim = SpecBus.listening(spark.sparkContext, listener) {
          val d = build().cache()
          assert(d.count() > 0L, name)
          d
        }
        dim.unpersist(blocking = true)
      }
      assert(tasks.nonEmpty && !tasks.contains(initial),
        s"$name: stage task counts $tasks, initialPartitionNum $initial")
    }
    cachedMeta.unpersist(blocking = true)
  }

  test("Streaming.availableNowCuration snapshot mode releases its owner index") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("kp2_release").toString
    def text(tag: String) =
      s"the corpus carries a $tag document and the tokens flow onward " +
        "with plain words that keep the quality gate satisfied along " +
        "this line of prose"
    Seq((1L, text("seen"), "srcA")).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/index")
    Seq((1L, text("seen"), "srcA"), (2L, text("novel"), "srcA"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/docs1.parquet")
    val before = persistent
    val out = Streaming.availableNowCuration(s, s"$dir/docs1.parquet",
      indexPath = Some(s"$dir/index"))
    assert(out.collect().length == 1)
    onlyReturned(before, out)
    // the batch read globs `docs[1]` to docs1, the stream side refuses
    // the glob — after the owner index is materialized
    releasedOnThrow(Streaming.availableNowCuration(s, s"$dir/docs[1].parquet",
      indexPath = Some(s"$dir/index")))
  }

  test("dedup family: no stage after the first shuffle runs initialPartitionNum tasks") {
    val initial = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sf)
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "minhashNearDup" -> (() => Dedup.minhashNearDup(corpus)),
      "simhashNearDup" -> (() => Dedup.simhashNearDup(corpus)),
      "ngramJaccardNearDup" -> (() => Dedup.ngramJaccardNearDup(corpus)),
      "containmentPairs" -> (() => Dedup.containmentPairs(corpus)),
      "availableNowNearDup" ->
        (() => Streaming.availableNowNearDup(spark, s"$sf/documents.parquet")))
    for ((name, op) <- ops) {
      // (tasks, wrote shuffle output)
      val stages = mutable.ArrayBuffer.empty[(Int, Boolean)]
      val listener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          stages.synchronized {
            stages += ((e.stageInfo.numTasks,
              e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0))
          }
      }
      SpecBus.listening(spark.sparkContext, listener)(
        op().write.mode("overwrite").format("noop").save())
      val firstShuffle = stages.indexWhere(_._2)
      assert(firstShuffle >= 0, name)
      val after = stages.drop(firstShuffle + 1).map(_._1)
      assert(after.nonEmpty && !after.contains(initial),
        s"$name: task counts after the first shuffle $after, initialPartitionNum $initial")
    }
  }
}
