package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.store.{Durable, Materialize}

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup.
  *
  * Scale posture (100 TB):
  *  - exact dedup is one hash-groupBy on a digest — the digest (16
  *    bytes) shuffles, never the document body;
  *  - MinHash: per-doc signatures are built by a single
  *    explode(tokens) x seeds aggregation with map-side partial MIN;
  *    candidate generation shuffles only (doc_id, band_key) pairs;
  *  - SimHash: 60 conditional SUMs in ONE aggregation pass (no
  *    bit-explosion join), then pigeonhole blocking on 15-bit quarters
  *    so the pair join never goes quadratic;
  *  - n-gram Jaccard: inverted-index join on shingle hashes (shuffle
  *    is bounded by posting-list sizes, not n^2);
  *  - every verify step re-checks candidates with exact integer
  *    arithmetic (a*inter >= b*union), so LSH recall/precision issues
  *    only ever ADD candidate pairs to verify, never wrong results;
  *  - the bounded pair OUTPUT of the near-dup ops is materialized
  *    before it is returned and the op's feature table freed: the
  *    caller owns the pairs ([[Materialize]]). Without it every caller
  *    action re-shingles both self-join sides (round-10 A/B,
  *    COVERAGE.md checkpoint-trade table).
  *
  * All hashes are md5-derived ([[Text.hash60]]) — deterministic and
  * reproducible in any SQL engine, unlike JVM murmur variants.
  */
object Dedup {

  /** Shared skew guard: drop rows whose group (by `cols`) exceeds
    * `cap` members. The sizing window rides the same shuffle the
    * downstream per-group join/aggregate needs. None = no-op. */
  private def capGroupSize(df: DataFrame, cols: Seq[String],
      cap: Option[Int]): DataFrame = cap match {
    case None => df
    case Some(c) =>
      import org.apache.spark.sql.expressions.Window
      df.withColumn("__n",
          count(lit(1)).over(Window.partitionBy(cols.map(col): _*)))
        .filter(col("__n") <= c).drop("__n")
  }


  /** Exact dedup on the md5 digest of lowercased text.
    * Returns one row per distinct content: (key, copies, canonical_id)
    * where canonical is the smallest id — the row a dedup pass keeps. */
  def exact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(md5(lower(col(textCol))).as("key"), col(idCol).as("id"))
      .groupBy("key")
      .agg(count(lit(1)).as("copies"), min("id").as("canonical"))

  /** Incremental (cross-corpus) exact dedup: classify every `batch`
    * document against an already-ingested `corpus` by content digest —
    * the op an append-only training pipeline runs on each new crawl
    * drop before ingesting it. One row per batch doc:
    * (id, key, status) with status
    *  - `dup_corpus`: content already present in the corpus (wins
    *    even when the batch also repeats it internally);
    *  - `dup_batch`:  content new to the corpus, but a smaller-id
    *    batch doc carries the same bytes (within-batch duplicate);
    *  - `new`:        first occurrence anywhere — the rows to ingest.
    *
    * Scale posture: the corpus collapses to a DISTINCT digest set
    * before the join, so only 16-byte keys shuffle from the 100 TB
    * side — and an ingest pipeline keeps that digest set as its own
    * compact table, paying the corpus scan once ever, not per batch.
    * The within-batch canonical window and the corpus join both hash
    * on `key`, so the exchange is reused across the two steps. For
    * extreme corpus/batch asymmetry, prefilter the batch with
    * [[graft.operators.BloomJoin]] over the corpus digests; the exact
    * join after it keeps the result exact. */
  def incrementalExact(corpus: DataFrame, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null text gets a sentinel key: md5(null) is null, and an
    // equi-join never matches null = null — two null-text batch docs
    // classified as dups of each other while NEITHER matched a
    // null-text corpus doc. The sentinel makes the corpus check agree
    // with exact()'s groupBy (all null keys in one group); the d10
    // oracle carries the same COALESCE.
    val digest = coalesce(md5(lower(col(textCol))), lit("__null_text__"))
    val corpusKeys = corpus.select(digest.as("key")).distinct()
      .withColumn("__in", lit(1))
    batch.select(col(idCol).as("id"), digest.as("key"))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("key").orderBy("id")))
      .join(corpusKeys, Seq("key"), "left")
      .select(col("id"), col("key"),
        when(col("__in") === 1, "dup_corpus")
          .when(col("__rn") > 1, "dup_batch")
          .otherwise("new").as("status"))
  }

  /** XOR masks for the k min-hash functions: h_i(tok) =
    * hash60(tok) XOR mask_i. XOR by a fixed mask is a bijection on
    * the hash space, so MIN over masked hashes is a valid min-hash
    * family — at 1/k-th the md5 cost of hashing (seed||token) k
    * times. Masks are md5-derived literals, reproducible anywhere. */
  def minhashMasks(k: Int): Seq[Long] =
    (0 until k).map(i => Text.hash60Literal(s"minhash-seed-$i"))

  /** Per-doc MinHash signature from a feature table (id, h), wide
    * form: (id, m0..m{k-1}). ONE md5 upstream per feature — the k
    * per-seed minima are k MIN aggregates over the same exploded rows
    * (single shuffle, map-side partial MIN). */
  def minhashSignaturesFrom(features: DataFrame, k: Int = 16): DataFrame = {
    val masks = minhashMasks(k)
    val aggs = masks.zipWithIndex.map { case (m, i) =>
      min(col("h").bitwiseXOR(lit(m))).as(s"m$i")
    }
    features.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Token-level signatures (kept for set-similarity use). */
  def minhashSignatures(docs: DataFrame, k: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    minhashSignaturesFrom(
      docs.select(col(idCol).as("id"),
        explode(Text.tokenSet(col(textCol))).as("tok"))
        .select(col("id"), Text.hash60(col("tok")).as("h")), k)

  /** LSH band keys from the wide signature: band key = md5 of the
    * comma-joined band minima. Emits (id, band, bkey). */
  def lshBands(sig: DataFrame, rowsPerBand: Int = 4): DataFrame = {
    val k = sig.columns.count(_.startsWith("m"))
    // fail loudly instead of silently discarding the trailing minima:
    // k=10, rowsPerBand=4 would band only m0..m7 and quietly run
    // below the (k, rowsPerBand) LSH recall curve the caller sized
    require(k % rowsPerBand == 0,
      s"signature width $k is not a multiple of rowsPerBand=$rowsPerBand")
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val ms = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"m$i").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", ms: _*)).as("bkey"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bkey"))
  }

  /** Candidate pairs: ids sharing any (band, bkey); a < b, distinct.
    *
    * `maxBucketSize` is the 100 TB skew guard: a degenerate bucket
    * (e.g. a boilerplate band shared by millions of docs) makes the
    * self-join quadratic IN THAT BUCKET. Capping drops buckets larger
    * than the threshold before the join — the standard LSH trade
    * (those pairs are usually re-found through their other, more
    * selective bands; exact-duplicate floods are better handled by
    * [[exact]] dedup first). The sizing window rides the same
    * (band, bkey) shuffle the join needs anyway. */
  def lshCandidates(bands: DataFrame,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val pruned = capGroupSize(bands, Seq("band", "bkey"), maxBucketSize)
    val x = pruned.as("x"); val y = pruned.as("y")
    x.join(y, col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** Exact Jaccard verify on a feature table (id, h): intersections
    * are computed ONLY for the candidate pairs, via two joins and a
    * count — never materializing per-doc arrays. Integer threshold. */
  def verifyJaccardOn(pairs: DataFrame, features: DataFrame,
      num: Int, den: Int): DataFrame = {
    val sizes = features.groupBy("id").agg(count(lit(1)).as("n"))
    val fa = features.select(col("id").as("a"), col("h"))
    val fb = features.select(col("id").as("b"), col("h"))
    val inter = pairs.join(fa, "a").join(fb, Seq("b", "h"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("id").as("b"), col("n").as("nb")), "b")
      .filter(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
      .select(col("a"), col("b"))
  }

  /** MinHash+LSH near-dup: the canonical document pipeline
    * shingle -> minhash -> band -> bucket-join -> exact verify at
    * shingle-jaccard >= num/den.
    *
    * SHINGLE-level hashing matters at scale: token-level similarity
    * saturates on natural corpora (everything shares common words),
    * making token-LSH buckets giant; the 3-gram shingle space keeps
    * background similarity near zero, so buckets stay tiny and the
    * candidate join never goes quadratic (measured here: 7M candidate
    * pairs token-level vs 256 shingle-level on the same 5k docs). */
  def minhashNearDup(docs: DataFrame, num: Int = 1, den: Int = 2,
      k: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Option[Int] = None): DataFrame = {
    // The feature table feeds both the signature build and the verify
    // join — materialized so the shingle pipeline runs once, not twice,
    // and freed on return.
    Materialize.scope(docs.sparkSession, "Dedup.minhashNearDup") { m =>
      val features = m("features")(
        shingleHashes(docs).select(col("id"), col("sh").as("h")))
      val cands = lshCandidates(
        lshBands(minhashSignaturesFrom(features, k), rowsPerBand), maxBucketSize)
      m("pairs")(verifyJaccardOn(cands, features, num, den))
    }
  }

  /** 60-bit SimHash per doc, computed as 60 conditional sums in one
    * aggregation (no per-bit row blowup). Majority vote per bit;
    * exact ties (2*ones == ntokens) set the bit. */
  def simhash(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(Text.tokenSet(col(textCol))).as("tok"))
      .withColumn("h", Text.hash60(col("tok")))
    val bitSums = (0 until 60).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1)).as(s"b$j"))
    val aggCols = count(lit(1)).as("n") +: bitSums
    val agg = toks.groupBy("id").agg(aggCols.head, aggCols.tail: _*)
    val sh = (0 until 60).map(j =>
      when(col(s"b$j") * 2 >= col("n"), shiftleft(lit(1L), j)).otherwise(0L))
      .reduce(_ + _)
    agg.select(col("id"), sh.as("simhash"))
  }

  /** SimHash near-dup: pairs with hamming distance <= maxDist.
    * Pigeonhole blocking: 60 bits in 4 blocks of 15; any pair at
    * distance <= 3 shares at least one exact block. Pairs are joined
    * per block and deduped, never the full n^2.
    *
    * `maxBlockSize` is the skew guard: a degenerate block value
    * (e.g. near-identical boilerplate collapsing to one simhash
    * region) would make its self-join quadratic; capping drops such
    * blocks — pairs may still meet through their other three blocks
    * (recall trade, None = exact blocking). */
  def simhashNearDup(docs: DataFrame, maxDist: Int = 3,
      maxBlockSize: Option[Int] = None): DataFrame = {
    // One row per doc — materialized so the token explode + 60-sum agg
    // runs once instead of once per self-join side, and freed on return.
    Materialize.scope(docs.sparkSession, "Dedup.simhashNearDup") { m =>
      val sh = m("simhash")(simhash(docs))
      val allBlocks = sh.select(col("id"), col("simhash"),
        explode(array((0 until 4).map(q =>
          struct(lit(q).as("q"),
            shiftright(col("simhash"), q * 15).bitwiseAND(0x7FFF).as("bk"))): _*)).as("blk"))
        .select(col("id"), col("simhash"), col("blk.q"), col("blk.bk"))
      val blocks = capGroupSize(allBlocks, Seq("q", "bk"), maxBlockSize)
      val x = blocks.as("x"); val y = blocks.as("y")
      m("pairs")(x.join(y, col("x.q") === col("y.q") && col("x.bk") === col("y.bk") &&
          col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxDist))
    }
  }

  /** Connected components over a near-dup pair list: every document
    * gets the MINIMUM doc id reachable through the pair graph as its
    * cluster id — the assignment a dedup pass uses to keep exactly one
    * representative per near-dup cluster. Documents in no pair are
    * their own cluster.
    *
    * Min-label propagation with path halving: each round ships every
    * vertex's current label across its edges, PLUS a pointer jump
    * (my label's current label — still a member of my component, so
    * the min stays component-local), and takes the per-vertex MIN.
    * The jump makes label trees halve in depth each round, so the
    * loop converges in O(log diameter) rounds rather than
    * O(diameter) — the standard shortcutting trick of the
    * large-star/small-star family.
    *
    * Only vertices that appear in a pair enter the loop: isolated
    * documents (the overwhelming majority of a corpus after LSH) are
    * their own cluster by definition and join back AFTER the
    * fixpoint, so the corpus-sized table is scanned once, never
    * shuffled per round.
    *
    * Convergence costs no join: per-vertex labels are monotonically
    * non-increasing (the union includes each vertex's own label), so
    * the global label sum strictly decreases until fixpoint — one
    * tiny agg over the round's already-checkpointed blocks decides
    * termination. Bounded by `maxIters`. The returned assignment reads
    * the final labels: the caller owns them ([[Materialize]]). */
  /** Lazily-created PER-PARENT-SESSION child session for the
    * clustering loop (AQE off). Building a fresh `newSession()` per
    * call was measured at ~0.25-0.3 s fixed cost at sf0.1 (a fresh
    * SessionState instantiates the whole analyzer/optimizer stack on
    * first use, plus the dynamic-conf copy) — a real tax on repeated
    * incremental-dedup calls, so the child is created ONCE per parent
    * and reused; calls are isolated from each other by the uniquely
    * named global temp views, not by the session. WeakHashMap: the
    * child holds the SparkContext/sharedState, NOT the parent session
    * object, so a discarded parent stays collectible. Caveat (by
    * design): the parent's dynamic conf is snapshotted at FIRST use —
    * later parent-side conf changes don't re-propagate; the loop's
    * parallelism is explicit (`repartition(p, ...)` with p computed
    * from the parent's live conf), so the only child-conf dependence
    * that matters is the AQE toggle this session exists to pin. */
  private val loopSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
        org.apache.spark.sql.SparkSession]())
  private[graft] def loopSession(sess: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    loopSessions.synchronized {
      var c = loopSessions.get(sess)
      if (c == null) {
        c = sess.newSession()
        // newSession starts from the builder conf, not runtime-set
        // values: copy the parent's dynamic SQL conf so the loop plans
        // under the same shuffle sizing / thresholds (static and core
        // keys are shared already, and setting them throws; skip)
        for ((k, v) <- sess.conf.getAll)
          try c.conf.set(k, v)
          catch { case _: org.apache.spark.sql.AnalysisException => () }
        c.conf.set("spark.sql.adaptive.enabled", "false")
        loopSessions.put(sess, c)
      }
      c
    }

  def nearDupClusters(pairs: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", maxIters: Int = 20): DataFrame =
    Materialize.scope(docs.sparkSession, "Dedup.nearDupClusters") { m =>
      val raw = m("edges")(pairs.select(col("a").as("x"), col("b").as("y"))
        .unionByName(pairs.select(col("b").as("x"), col("a").as("y"))))
      val ecnt = raw.count()
      if (ecnt == 0) docs.select(col(idCol), col(idCol).as("cluster"))
      else propagate(m, raw, ecnt, docs, idCol, maxIters)
    }

  /** [[nearDupClusters]]'s label loop over the materialized edge list
    * `raw` (`ecnt` > 0 rows), in `m`'s scope. */
  private def propagate(m: Materialize.Scope, raw: DataFrame, ecnt: Long,
      docs: DataFrame, idCol: String, maxIters: Int): DataFrame = {
    // Loop parallelism sized to the GRAPH, not the session default:
    // the pair graph after LSH is orders of magnitude smaller than the
    // corpus, and running a 500-vertex round across 32 (or a cluster's
    // 2000) shuffle partitions is pure scheduling overhead — measured
    // here at sf0.1: 0.95 s/round at 32 partitions vs 0.45 s at the
    // sized value. ~1M edges per partition, capped at the session
    // shuffle parallelism for genuinely large graphs.
    val sess = docs.sparkSession
    val maxP = sess.conf.get("spark.sql.shuffle.partitions").toInt
    val p = math.max(1L, math.min(maxP.toLong, ecnt / 1000000L + 1)).toInt
    // AQE re-plans every exchange as its own query-stage job — the
    // right trade on real data, pure scheduling latency on the loop's
    // already-sized p-partition rounds. Disable it for the LOOP ONLY
    // by running every round in a CHILD SESSION (`newSession()`:
    // isolated SQL conf, shared SparkContext + block/cache manager).
    // The parent session's conf is never touched, so concurrent
    // unrelated queries keep AQE and there is no restore race — the
    // former session-global toggle (serialized on a lock, with a
    // documented plan-latency caveat for concurrent callers) is
    // retired. Frames cross the session boundary through UNIQUELY
    // NAMED global temp views (dropped in the finally): a view stores
    // the LOGICAL plan, so the checkpointed LogicalRDD — with its
    // HashPartitioning — re-analyzes identically in the child.
    val child = loopSession(sess)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val rawView = s"graft_cc_raw_$tag"
    val outView = s"graft_cc_labels_$tag"
    val gtDb = sess.conf.get("spark.sql.globalTempDatabase", "global_temp")
    // try begins BEFORE view registration and the eager edge/label
    // checkpoints: those jobs run real corpus-scale work, and a
    // failure there must not leak the global temp view (app-lifetime
    // scope) — the finally below covers them all.
    try {
      raw.createOrReplaceGlobalTempView(rawView)
      // Pre-partition edges by source ONCE: the checkpointed LogicalRDD
      // keeps HashPartitioning(x, p) — when labels outgrow broadcast and
      // the message join goes sort-merge, edges never re-shuffle — AND
      // it truncates the pair-generation lineage (a full LSH pipeline),
      // so every round's plan sees a leaf table instead of re-analyzing
      // that pipeline's plan tree. The re-analysis was measured at sf0.1
      // as the dominant per-round cost of the loop, dwarfing its actual
      // 256-edge data movement.
      val edges = m("partitioned edges")(
        child.table(s"$gtDb.$rawView").repartition(p, col("x")))
      m.release(raw)
      var labels = m("labels")(edges.select(col("x").as("id")).distinct()
        .withColumn("label", col("id")))
      var prevSum: Option[java.math.BigDecimal] = None
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        // messages: my label, delivered to each neighbor; plus the
        // pointer jump label(label(id)) — path halving; the jumped-to
        // label belongs to a reachable vertex, so the min stays
        // component-local. Round 0's labels are the identity map, so
        // both joins collapse to a projection of the edge list itself
        // (and the jump to a no-op) — no join stages at all.
        val delivered =
          if (i == 0) edges.select(col("y").as("id"), col("x").as("label"))
          else {
            val msgs = edges.join(labels, edges("x") === labels("id"))
              .select(col("y").as("id"), col("label"))
            val jump = labels.as("l1").join(labels.as("l2"),
                col("l1.label") === col("l2.id"))
              .select(col("l1.id").as("id"), col("l2.label").as("label"))
            msgs.unionByName(jump)
          }
        // each round's labels are materialized, which also truncates
        // the lineage, and the superseded round is freed
        val next = m("labels")(labels.unionByName(delivered)
          .repartition(p, col("id"))
          .groupBy("id").agg(min("label").as("label")))
        m.release(labels)
        labels = next
        // Convergence costs no join: per-vertex labels are monotonically
        // non-increasing (each vertex's own label rides the union), so
        // the global sum strictly decreases until fixpoint.
        // decimal(38,0) is exact at any vertex count (no Long overflow).
        val sumNow = Option(labels
          .agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        // compareTo, not equals: BigDecimal.equals is scale-sensitive
        converged = (prevSum, sumNow) match {
          case (Some(a), Some(b)) => a.compareTo(b) == 0
          case (a, b) => a == b
        }
        prevSum = sumNow
        i += 1
      }
      m.release(edges)
      // The final labels cross back to the PARENT session through the
      // second global temp view, so the returned plan (and the corpus
      // join below) is planned under the caller's conf — AQE on. The
      // returned frame reads them: the caller owns that checkpoint.
      labels.createOrReplaceGlobalTempView(outView)
      val finalLabels = sess.table(s"$gtDb.$outView")
      // isolated docs: their own cluster; the paired-vertex label table
      // is tiny relative to the corpus, so AQE broadcasts it and the
      // corpus side joins without a shuffle.
      docs.select(col(idCol).as("id"))
        .join(finalLabels, Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("label"), col("id")).as("cluster"))
    } finally {
      // analysis is eager, so the returned frame holds the RESOLVED
      // checkpoint plan — the views are only needed until here.
      // dropGlobalTempView is a silent no-op for a never-created view
      // (early failure paths).
      sess.catalog.dropGlobalTempView(rawView)
      sess.catalog.dropGlobalTempView(outView)
    }
  }

  /** Write-once materialization of the near-dup cluster assignment —
    * the d-family's analog of `store/LifetimeMv` and the o19/o20
    * bucket-layout trade: the minhash → LSH → verify → connected-
    * components chain is the most expensive computation the dedup
    * family runs, and several consumers (d6's assignment, d13's
    * survivorship, d14's soft weights — or any downstream curation
    * step) need the SAME (doc_id, cluster) table. Paying the chain
    * once per consumer (worse: once per consumer per action) is the
    * mistake; a production pipeline writes the assignment ONCE per
    * corpus generation as a curated table and every report joins it.
    *
    * The table is a [[Durable]] artifact with Spark's `_SUCCESS` as its
    * commit marker. Without `tablePath` the first caller per (corpus,
    * parameters) runs the chain and every later call in the JVM reads
    * the files back; the corpus key folds in the input files, so a
    * corpus rewritten in place builds its own table. With `tablePath`
    * (the curated table location a production corpus generation
    * writes) the FILES are the authority across JVMs: a committed
    * table is served after its params sidecar check, anything else is
    * rebuilt in place under a claim. */
  def clustersTable(docs: DataFrame, num: Int = 1, den: Int = 2,
      k: Int = 16, rowsPerBand: Int = 4,
      idCol: String = "doc_id", tablePath: Option[String] = None): DataFrame = {
    val params = Durable.params("num" -> num, "den" -> den, "k" -> k,
      "rowsPerBand" -> rowsPerBand, "idCol" -> idCol)
    // the pairs and labels the chain hands back are freed once written
    val path = Durable(docs, tablePath, params, "clustersTable", "tablePath") { dir =>
      Materialize.scope(docs.sparkSession, "Dedup.clustersTable") { _ =>
        nearDupClusters(
            minhashNearDup(docs, num, den, k, rowsPerBand), docs, idCol)
          .write.mode("overwrite").parquet(dir)
      }
    }
    docs.sparkSession.read.parquet(path)
  }

  /** n-gram (3-token shingle) Jaccard near-dup via an inverted-index
    * join on shingle hashes: only docs sharing a shingle ever meet.
    * Shared-shingle counts give |intersection| directly; set sizes
    * come from per-doc distinct-shingle counts. Integer threshold. */
  /** Distinct 3-gram shingle hashes per doc: explode the shingle
    * STRINGS first so md5 evaluates in whole-stage codegen (inside a
    * `transform` lambda it runs interpreted, ~10x slower); the final
    * distinct mirrors the oracle's distinct-over-hashes exactly even
    * under (improbable) hash collisions. */
  def shingleHashes(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", dedupe: Boolean = true): DataFrame = {
    // posexplode + lead windows: every step (split, explode, lead,
    // concat, md5) is codegen'd; the alternative — building shingle
    // strings inside a transform() lambda — evaluates interpreted per
    // element. The per-doc window sort rides the same shuffle the
    // downstream per-doc aggregate needs anyway. (Measured at sf0.1:
    // the lambda build is ~3x slower wall-clock on the fingerprint and
    // minhash pipelines even though it avoids this shuffle — the
    // interpreted per-element cost dominates. Don't switch back.)
    //
    // `dedupe = false` skips the distinct exchange for consumers whose
    // aggregate is multiset-invariant (MIN for fingerprints): the
    // window already hash-partitioned by id, so a following
    // groupBy("id") is exchange-free.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("pos")
    val hashes = docs.select(col(idCol).as("id"),
        posexplode(Text.tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("t1", lead("tok", 1).over(w))
      .withColumn("t2", lead("tok", 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("id"),
        Text.hash60(concat_ws(" ", col("tok"), col("t1"), col("t2"))).as("sh"))
    if (dedupe) hashes.distinct() else hashes
  }

  /** Document fingerprints, bulk form (same math as
    * [[Text.fingerprint]] but explode-then-hash, codegen-friendly):
    * (id, fp) where fp = min shingle hash, or hash of the whole text
    * for docs under 3 tokens. */
  def fingerprints(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val n = Text.tokenCount(col(textCol))
    // min over the shingle SET equals min over the multiset, so the
    // distinct exchange is skipped: the only shuffle is the per-doc
    // window sort, and the MIN aggregate reuses its partitioning.
    val long = shingleHashes(docs.filter(n >= 3), textCol, idCol, dedupe = false)
      .groupBy("id").agg(min("sh").as("fp"))
    val short = docs.filter(n < 3)
      .select(col(idCol).as("id"),
        Text.hash60(lower(col(textCol))).as("fp"))
    long.unionByName(short)
  }

  /** Line-level dedup (boilerplate removal): segment each document
    * into fixed non-overlapping `chunkTokens`-token "lines" and report
    * every line occurring more than once across the corpus, with its
    * occurrence count and canonical (minimum) doc id — the rows a
    * boilerplate-strip pass would drop.
    *
    * Chunking rides the shared row-local gram pipeline
    * ([[gramDigests]] with stride = n: non-overlapping windows) —
    * no shuffle before the digest aggregate, and only
    * (chunk-string-hash) pairs ever shuffle. */
  def lineDedup(docs: DataFrame, chunkTokens: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    // stride == n: non-overlapping chunks of the shared gram pipeline
    gramDigests(docs, chunkTokens, stride = chunkTokens, textCol, idCol)
      .groupBy("key")
      .agg(count(lit(1)).as("copies"), min("id").as("canonical"))
      .filter(col("copies") > 1)

  /** Boilerplate detection — [[lineDedup]]'s per-GROUP twin: chunks
    * whose distinct-document frequency within one group (domain /
    * source / template family) reaches `minDf` are boilerplate
    * (headers, footers, navigation), to be stripped rather than
    * deduped. The distinction matters: a chunk repeated across the
    * whole corpus is a clone signal (d5), one repeated across a
    * single source's documents is the source's template.
    *
    * Same digest pipeline (chunk text never shuffles — 32-hex keys
    * do); the group label joins in from the corpus's (id, group) dim
    * and the count is DISTINCT docs, so in-document repetition can't
    * promote a chunk to boilerplate. */
  def boilerplateChunks(docs: DataFrame, chunkTokens: Int = 8,
      minDf: Int = 2, textCol: String = "text", idCol: String = "doc_id",
      groupCol: String = "source"): DataFrame = {
    val dim = docs.select(col(idCol).as("id"), col(groupCol))
    gramDigests(docs, chunkTokens, stride = chunkTokens, textCol, idCol)
      .join(dim, "id")
      .groupBy(col(groupCol), col("key"))
      .agg(countDistinct(col("id")).as("df"), min("id").as("canonical"))
      .filter(col("df") >= minDf)
  }

  /** The gram pipeline shared by [[lineDedup]] (stride = n chunks),
    * [[slidingGramHashes]] (stride 1), and [[substringSpans]]
    * (stride 1, positions kept). ROW-LOCAL (round 18): explode the
    * gram-start position sequence (the stride is its step) and build
    * each gram by element_at off the document's token array — every
    * step (split, sequence, explode, element_at, concat, md5) is
    * codegen'd and the array is never copied per gram row (pruned in
    * the same stage). The old posexplode + (n-1) lead-window form
    * paid a per-doc window sort that shuffled EVERY TOKEN ROW of the
    * corpus before a single digest existed (guide §2.4 "remove
    * shuffles outright") — and unlike [[shingleHashes]]' window
    * (whose id-shuffle the minhash aggregate reuses), no gram
    * consumer reuses id-partitioning: they all reshuffle by digest.
    * The md5-per-gram dominates compute either way, so sf0.1 is
    * flat-to-better (grams build 1.6 -> 0.9 s cold, parity
    * exceptAll 0/0 — plans/r18/kp4_gram_stage_evidence.txt); the
    * removed shuffle is the part that grew with corpus size.
    * Output is exactly the old (id, pos, key) row set: pos ranges
    * over multiples of `stride` up to size-n, 0-based. NOT distinct:
    * callers choose (lineDedup counts copies; decontamination
    * distincts). */
  private[graft] def gramDigests(docs: DataFrame, n: Int, stride: Int,
      textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("id"), col("toks"), explode(
        sequence(lit(0), size(col("toks")) - n, lit(stride))).as("pos"))
      .select(col("id"), col("pos"), md5(concat_ws(" ",
        (0 until n).map(j => element_at(col("toks"), col("pos") + j + 1)): _*))
        .as("key"))

  /** Exact-substring dedup spans (the Lee et al. 2022 "Deduplicating
    * Training Data" pass, re-expressed relationally): for every
    * document, the maximal token spans every position of which starts
    * an n-token gram that occurs AT LEAST TWICE in the corpus —
    * including a second time in the same document, matching the
    * suffix-array formulation (any repeated substring is a dup, not
    * just cross-document ones). Downstream consumers cut or count
    * these spans.
    *
    * The suffix-array machinery dissolves into two shuffles:
    *  1. duplicate marking — a COUNT window keyed on the gram digest
    *     (one shuffle on the 32-hex key; no self-join, and map-side
    *     the digest rows are all that move, never gram text);
    *  2. span assembly — per-document gaps-and-islands: overlapping
    *     hit windows (consecutive start positions) merge via a
    *     running gap-count, then one aggregate per island (one
    *     shuffle on doc id, which also serves the final window).
    * Output: (doc_id, span_id, start_pos, end_pos, n_tok), positions
    * 0-based token indices, end inclusive. */
  def substringSpans(docs: DataFrame, n: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wk = Window.partitionBy("key")
    val wd = Window.partitionBy("id").orderBy("pos")
    val hits = gramDigests(docs, n, stride = 1, textCol, idCol)
      .withColumn("copies", count(lit(1)).over(wk))
      .filter(col("copies") >= 2)
    val islands = hits
      .withColumn("gap",
        when(col("pos") - lag("pos", 1).over(wd) === 1, 0).otherwise(1))
      .withColumn("island", sum("gap").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("island"))
      .agg(min("pos").as("start_pos"),
        (max("pos") + (n - 1)).as("end_pos"))
    islands
      .withColumn("span_id", row_number().over(
        Window.partitionBy("id").orderBy("start_pos")))
      .select(col("id").as(idCol), col("span_id"),
        col("start_pos").cast("long"), col("end_pos").cast("long"),
        (col("end_pos") - col("start_pos") + 1).cast("long").as("n_tok"))
  }

  /** Distinct sliding n-token-gram digests per document — the
    * stride-1 instantiation of the shared gram pipeline (see
    * [[lineDedup]] for the stride-n chunk form). */
  def slidingGramHashes(docs: DataFrame, n: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    gramDigests(docs, n, stride = 1, textCol, idCol)
      .select("id", "key").distinct()

  /** Benchmark decontamination: which EVAL documents share at least
    * one sliding n-token gram with ANY train document, and how many
    * distinct grams hit. The standard pre-training hygiene check (an
    * eval answer memorized verbatim in the corpus shows up as long
    * n-gram overlap; n=8..13 is the usual window).
    *
    * Scale: both sides reduce to distinct (id, digest) pairs; the
    * train side further collapses to a distinct digest set, and the
    * join is a plain hash equi-join on the digest — shuffle carries
    * 32-hex keys only. At extreme train sizes, prefilter the eval
    * side with [[graft.operators.BloomJoin]] over the train digests
    * (same exactness argument: bloom pass, exact join after). */
  def contamination(train: DataFrame, evalDocs: DataFrame, n: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // gramDigests directly: the train side only needs the distinct
    // DIGEST set, so slidingGramHashes' per-(id, key) distinct was a
    // second full shuffle of the train grams for nothing (round 18)
    val trainKeys = gramDigests(train, n, stride = 1, textCol, idCol)
      .select("key").distinct()
    slidingGramHashes(evalDocs, n, textCol, idCol)
      .join(trainKeys, "key")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("hit_grams"))
  }

  /** Exact n-gram-Jaccard near-dup: pairs with Jaccard >= num/den,
    * via inverted-index equi-join + per-pair overlap count, with the
    * LENGTH FILTER embedded in the join (J >= t implies
    * den·min(na,nb) >= num·max(na,nb), since inter <= min and
    * union >= max — size-mismatched pairs never leave the join).
    * Per-doc profile sizes ride the join rows and `first()` through
    * the pair aggregation, so no size-table joins afterwards.
    *
    * Scale analysis (measured on the sf0.1→sf1 rehearsal,
    * COVERAGE.md): join volume is Σ df(sh)², so cost tracks the
    * squared posting lists — and on a near-dup-heavy corpus the
    * OUTPUT grows the same way (10 copies/doc → 25 pairs became
    * 250,600: every within-family pair is a true result). The
    * AllPairs/PPJoin prefix-filter family was implemented and
    * benchmarked here and REJECTED for this operator: with a fixed
    * shingle vocabulary (df̄ ≈ 75) the df-ordered prefix index only
    * shed 2.9× of the join (48M vs 138M rows) while the exact verify
    * had to shuffle two full profiles per surviving candidate (~36 GB
    * at sf1) — strictly worse than counting overlap on the equi-join
    * the shuffle already pays for. A vectorized single-node engine
    * (DuckDB) runs the same full-join plan in comparable wall time,
    * i.e. the equi-join+count IS the right exact plan; sub-quadratic
    * behavior comes from semantics, not plan shape:
    * `maxPostingList` (below) for boilerplate-dominated corpora, or
    * [[minhashNearDup]] as the approximate path at corpus scale.
    *
    * `maxPostingList` is the skew guard for the inverted index: a
    * shingle occurring in k documents contributes k² join rows, so a
    * boilerplate shingle shared by millions would dominate the
    * shuffle. When set, shingles with document frequency above the
    * cap are removed from BOTH the index and the per-doc sizes —
    * the result is then the exact Jaccard over each document's
    * RARE-shingle profile (stop-shingle removal), a well-defined
    * approximation of full-profile Jaccard. None = exact. */
  def ngramJaccardNearDup(docs: DataFrame, num: Int = 1, den: Int = 2,
      textCol: String = "text", idCol: String = "doc_id",
      maxPostingList: Option[Int] = None): DataFrame = {
    // capped profile sizes attach by a join against the tiny per-doc
    // size aggregate (one row per doc): AQE broadcasts it while it
    // fits and falls back to a shuffle join at corpus scale — cheaper
    // at BOTH ends than an always-shuffling id window. Persisted:
    // both join sides consume the same shingle pipeline.
    val capped =
      capGroupSize(shingleHashes(docs, textCol, idCol), Seq("sh"), maxPostingList)
    val sizes = capped.groupBy("id").agg(count(lit(1)).as("nsh"))
    // materialized: both self-join sides consume the same shingle
    // pipeline; freed on return
    Materialize.scope(docs.sparkSession, "Dedup.ngramJaccardNearDup") { m =>
      val shingles = m("shingles")(capped.join(sizes, "id"))
      val x = shingles.as("x"); val y = shingles.as("y")
      m("pairs")(x.join(y, col("x.sh") === col("y.sh") && col("x.id") < col("y.id") &&
          col("x.nsh") * den >= col("y.nsh") * num &&
          col("y.nsh") * den >= col("x.nsh") * num)
        .groupBy(col("x.id").as("a"), col("y.id").as("b"))
        .agg(count(lit(1)).as("inter"),
          first(col("x.nsh")).as("na"), first(col("y.nsh")).as("nb"))
        .filter(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
        .select(col("a"), col("b")))
    }
  }

  /** Asymmetric containment near-dup: pairs where the SMALLER
    * document's shingle profile is ≥ thresholdPm/1000 contained in
    * the other's — `C = |A∩B| / min(|A|, |B|)`. This is the web-scrape
    * case Jaccard structurally misses: a page embedded verbatim in a
    * boilerplate wrapper has tiny J (union ≈ the wrapper) but
    * containment ≈ 1 (cf. Broder 1997's resemblance vs containment).
    *
    * Same inverted-index equi-join + overlap count as
    * [[ngramJaccardNearDup]], with two deliberate differences:
    * containment admits NO symmetric length filter (size-mismatched
    * pairs are exactly the signal), so the join carries no size
    * pruning — `maxPostingList` (stop-shingle removal) is the skew
    * guard that matters; and the emitted score is an integer permille
    * (`1000·inter div min`), engine-exact. Output (a, b, cont_pm). */
  def containmentPairs(docs: DataFrame, thresholdPm: Int = 800,
      textCol: String = "text", idCol: String = "doc_id",
      maxPostingList: Option[Int] = None): DataFrame = {
    val capped =
      capGroupSize(shingleHashes(docs, textCol, idCol), Seq("sh"), maxPostingList)
    val sizes = capped.groupBy("id").agg(count(lit(1)).as("nsh"))
    // same lifecycle as [[ngramJaccardNearDup]]: the shingles feed
    // both self-join sides once and are freed on return
    Materialize.scope(docs.sparkSession, "Dedup.containmentPairs") { m =>
      val shingles = m("shingles")(capped.join(sizes, "id"))
      val x = shingles.as("x"); val y = shingles.as("y")
      m("pairs")(x.join(y, col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
        .groupBy(col("x.id").as("a"), col("y.id").as("b"))
        .agg(count(lit(1)).as("inter"),
          first(col("x.nsh")).as("na"), first(col("y.nsh")).as("nb"))
        .select(col("a"), col("b"),
          expr("(1000 * inter) div least(na, nb)").as("cont_pm"))
        .filter(col("cont_pm") >= thresholdPm))
    }
  }
}
