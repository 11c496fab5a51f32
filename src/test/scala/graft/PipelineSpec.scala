package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.functions.Text
import graft.multimodal.Multimodal
import graft.similarity.Similarity

/** Unit specs for the training-data pipeline operators, on tiny
  * hand-computed fixtures (the DuckDB oracle gate covers the driver
  * tables; these pin the semantics with known answers). */
class PipelineSpec extends AnyFunSuite with SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("tokenCount / stopwordPermille / meanTokenLenX100") {
    val d = docs((1L, "the cat sat on the mat"))
    val r = d.select(
      Text.tokenCount(col("text")).as("n"),
      Text.stopwordPermille(col("text")).as("sp"),
      Text.meanTokenLenX100(col("text")).as("ml")).head()
    assert(r.getInt(0) == 6)
    // stopwords: the, on, the = 3 of 6 -> 500 permille
    assert(r.getLong(1) == 500L)
    // lengths 3+3+3+2+3+3 = 17 -> 1700/6 = 283
    assert(r.getLong(2) == 283L)
  }

  test("subwordCount splits alpha/digit/symbol runs") {
    val d = docs((1L, "ab12 cd-ef!"))
    // ab, 12, cd, -, ef, ! -> 6
    assert(d.select(Text.subwordCount(col("text"))).head().getInt(0) == 6)
  }

  test("languageId argmax with tie to lexicographic first") {
    val d = docs(
      (1L, "the cat of doom"),     // en markers: the, of = 2
      (2L, "der hund und die"),    // de markers: 3
      (3L, "xyz qrs"),             // none -> und
      (4L, "the der"))             // tie 1-1 -> de (lex first)
    val r = d.select(col("doc_id"), Text.languageId(col("text")).as("l"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(r.toSeq == Seq("en", "de", "und", "de"))
  }

  test("exact dedup groups identical normalized text") {
    val d = docs((1L, "Hello World"), (2L, "hello world"), (3L, "other"))
    val r = Dedup.exact(d).orderBy("canonical").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("canonical") == 1L && r(0).getAs[Long]("copies") == 2L)
    assert(r(1).getAs[Long]("canonical") == 3L && r(1).getAs[Long]("copies") == 1L)
  }

  test("incremental dedup classifies batch docs vs corpus and within-batch") {
    val corpus = docs((1L, "alpha"), (2L, "beta"))
    // 10: already in corpus (case-insensitive); 11/12: new content
    // duplicated within the batch; 13: genuinely new; 14: dup of a
    // corpus doc AND of batch doc 10 — dup_corpus must win
    val batch = docs((10L, "ALPHA"), (11L, "gamma"), (12L, "gamma"),
      (13L, "delta"), (14L, "alpha"))
    val r = Dedup.incrementalExact(corpus, batch)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[String]("status")).toMap
    assert(r == Map(10L -> "dup_corpus", 11L -> "new", 12L -> "dup_batch",
      13L -> "new", 14L -> "dup_corpus"))
  }

  test("minhash LSH finds identical and near-identical docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(
      (1L, base),
      (2L, base),                      // identical -> jaccard 1
      (3L, "completely different words here nothing shared at all extra"))
    val pairs = Dedup.minhashNearDup(d, num = 19, den = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("lshCandidates bucket cap drops hot buckets, keeps selective ones") {
    val s = spark; import s.implicits._
    // bucket "hot" holds 4 ids (6 pairs); bucket "cold" holds 2 (1 pair)
    val bands = (Seq((1L, 0, "hot"), (2L, 0, "hot"), (3L, 0, "hot"),
      (4L, 0, "hot"), (10L, 1, "cold"), (11L, 1, "cold")))
      .toDF("id", "band", "bkey")
    val all = Dedup.lshCandidates(bands).count()
    val capped = Dedup.lshCandidates(bands, maxBucketSize = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == 7)
    assert(capped == Set((10L, 11L)))
  }

  test("ngram jaccard posting-list cap computes rare-shingle jaccard") {
    // docs 1,2 share ONLY a boilerplate shingle ("x y z", in all 3
    // docs); docs 1,3 also share rare ones. With the cap at 2 the
    // boilerplate posting list (df=3) is dropped from index AND
    // sizes, so only the rare-shingle pair (1,3) survives.
    val d = docs(
      (1L, "x y z a b c"),
      (2L, "x y z q r s"),
      (3L, "x y z a b c t"))
    val exact = Dedup.ngramJaccardNearDup(d, 1, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rare = Dedup.ngramJaccardNearDup(d, 1, 7, maxPostingList = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains(1L -> 2L))
    assert(!rare.contains(1L -> 2L) && rare.contains(1L -> 3L))
  }

  test("simhash: identical docs at hamming 0; blocking finds them") {
    val d = docs(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight"),
      (3L, "nine ten eleven twelve thirteen fourteen"))
    val r = Dedup.simhashNearDup(d, maxDist = 3).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSet == Set((1L, 2L)))
    assert(r.head.getInt(2) == 0)
  }

  test("ngram jaccard: shifted copy shares most shingles") {
    val d = docs(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h i"),   // shingle sets differ by 1
      (3L, "z y x w v u t s"))
    val pairs = Dedup.ngramJaccardNearDup(d, num = 1, den = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("cosine and brute-force ANN ranks") {
    val s = spark; import s.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.annBruteForce(e, e.filter(col("vec_id") === 0), k = 2)
      .orderBy("rank").collect()
    assert(r.map(_.getAs[Long]("neighbor")).toSeq == Seq(1L, 2L))
  }

  test("cosineNearDup threshold with integer pair output") {
    val s = spark; import s.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDup(e, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L)))
    // the all-pairs guard: exceeding maxRows fails at execution time
    val err = intercept[Exception] {
      Similarity.cosineNearDup(e, 0.99, maxRows = 2L).collect()
    }
    assert(err.getMessage.contains("maxRows") ||
      Option(err.getCause).exists(_.getMessage.contains("maxRows")))
  }

  test("hyperplane buckets put identical vectors together") {
    val s = spark; import s.implicits._
    val e = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-5.0f, 1.0f, -2.0f))).toDF("vec_id", "embedding")
    val b = Similarity.hyperplaneBuckets(e, planes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(b(0L) == b(1L))
  }

  test("native hash60 matches the composable md5-prefix chain bit-for-bit") {
    val s = spark; import s.implicits._
    assert(spark.catalog.functionExists("hash60"))
    val samples = Seq("", "a", "hello world", "ü🙂 multi-byte",
      "the quick brown fox", "0123456789abcdef" * 8)
    val df = samples.toDF("s")
    val rows = df.select(
      call_function("hash60", col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("composed"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // and against the driver-side literal mirror
    assert(df.select(call_function("hash60", col("s"))).collect().map(_.getLong(0)).toSeq
      == samples.map(graft.functions.Text.hash60Literal))
    // null in, null out
    assert(Seq[Option[String]](None).toDF("s")
      .select(call_function("hash60", col("s"))).head().isNullAt(0))
  }

  test("native cosine_sim expression matches the HOF formulation bit-for-bit") {
    val s = spark; import s.implicits._
    assert(spark.catalog.functionExists("cosine_sim"))
    val df = Seq((Array(0.3f, -1.2f, 2.7f, 0.0f), Array(1.1f, 0.4f, -0.9f, 2.2f)))
      .toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val native = df.select(call_function("cosine_sim", col("a"), col("b"))).head().getDouble(0)
    val hof = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(native == hof)
    // length mismatch -> null, not an exception
    val bad = Seq((Array(1.0), Array(1.0, 2.0))).toDF("a", "b")
      .select(call_function("cosine_sim", col("a"), col("b")))
    assert(bad.head().isNullAt(0))
    // zero-norm vectors -> NULL through BOTH paths (round-11):
    // unguarded, the HOF path THREW under Spark 4 ANSI (DIVIDE_BY_ZERO)
    // while the native expression returned NaN — which Spark sorts
    // ABOVE every value, making a padding vector everyone's rank-1
    // neighbor. NULL matches DuckDB's null-on-0/0 double division
    // (oracle parity), sorts last in desc rankings, and fails every
    // threshold filter.
    val zdf = Seq((Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b")
    assert(zdf.select(call_function("cosine_sim", col("a"), col("b")))
      .head().isNullAt(0))
    assert(zdf.select(Similarity.cosine(col("a"), col("b")))
      .head().isNullAt(0))
  }

  /** The composable form `hyperplane_bucket` replaced: planes x maxDim
    * unrolled `try_element_at` terms over the same weights. */
  private def unrolledBucket(vec: Column, planes: Int, maxDim: Int): Column = {
    val w = graft.plans.HyperplaneBucket.weights(planes, maxDim)
    val bits = (0 until planes).map { p =>
      val dot = (0 until maxDim).map { j =>
        coalesce(try_element_at(vec, lit(j + 1)) * lit(w(p * maxDim + j)),
          lit(0.0))
      }.reduce(_ + _)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    when(assert_true(size(vec) <= maxDim,
      lit(s"hyperplaneBuckets: vector dim exceeds maxDim=$maxDim")).isNull,
      bits.reduce(_ + _))
  }

  test("native hyperplane_bucket matches the unrolled composable form bit-for-bit") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    // float vectors cast to double by the operator, short ones (down
    // to empty), all-zero ones, and full maxDim ones
    val vecs = Seq(Array.empty[Float], Array.fill(64)(0.0f), Array(0.0f, 0.0f)) ++
      (1 to 40).map(_ => Array.fill(1 + rnd.nextInt(64))(rnd.nextGaussian().toFloat))
    val e = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val native = Similarity.hyperplaneBuckets(e, planes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val unrolled = e.select(col("vec_id"),
        unrolledBucket(col("embedding").cast("array<double>"), 8, 64))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(native.size == vecs.size)
    assert(native == unrolled)
    // a vector longer than maxDim still fails loudly
    val err = intercept[Exception] {
      Similarity.hyperplaneBuckets(Seq((0L, Array.fill(5)(1.0f)))
        .toDF("vec_id", "embedding"), planes = 8, maxDim = 4).collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("exceeds maxDim=4")), err.toString)
  }

  test("multimodal decode: real UTF-8 text decoder reports line box") {
    // 2 lines + trailing newline = 3 rendered lines; widest = 5 chars;
    // the accented char is 2 UTF-8 bytes but 1 code point
    val d = docs((7L, "abcé\nxyzzy\n"))
    val r = Multimodal.decodeFeatures(Multimodal.asMediaTable(d)).head()
    assert(r.getLong(0) == 7L)
    assert(r.getInt(1) == 12)  // n_bytes: 11 chars + 1 for the é byte
    assert(r.getInt(2) == 5)   // width: widest line "xyzzy"
    assert(r.getInt(3) == 3)   // height: lines incl. trailing empty
  }

  test("multimodal decode: decoder seam accepts a custom instance") {
    // test-grade stub decoder, local to the spec: proves the seam
    // carries any Decoder through the partition-wise batched path
    object StubDecoder extends Multimodal.Decoder {
      val kind = "image/stub"
      def decode(payload: Array[Byte]): Multimodal.Decoded = {
        val b0 = if (payload.nonEmpty) payload(0) & 0xFF else 0
        Multimodal.Decoded(64 + (payload.length % 193), 64 + (b0 % 64))
      }
    }
    val d = docs((7L, "abcd"))
    val r = Multimodal.decodeFeatures(
      Multimodal.asMediaTable(d, kind = StubDecoder.kind),
      decoder = StubDecoder).head()
    assert(r.getInt(2) == 64 + 4 % 193)           // stub width
    assert(r.getInt(3) == 64 + ('a'.toInt % 64))  // stub height
  }

  test("multimodal decode: imageio decoder recovers a real PNG's true dims") {
    // encode a real 13x9 PNG through the JDK writer, ship it through
    // the binary-column path, decode with the REAL imageio decoder
    val img = new java.awt.image.BufferedImage(
      13, 9, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 9; x <- 0 until 13) img.setRGB(x, y, x * 17 + y)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val s = spark; import s.implicits._
    val media = Seq((1L, png)).toDF("media_id", "payload")
    val r = Multimodal.decodeFeatures(media,
      decoder = Multimodal.ImageIoDecoder).head()
    assert(r.getInt(1) == png.length)  // n_bytes: the true payload size
    assert(r.getInt(2) == 13 && r.getInt(3) == 9)
    // corrupt payload: (0,0) box, not a task failure
    val bad = Multimodal.decodeFeatures(
      Seq((2L, Array[Byte](1, 2, 3))).toDF("media_id", "payload"),
      decoder = Multimodal.ImageIoDecoder).head()
    assert(bad.getInt(2) == 0 && bad.getInt(3) == 0)
  }

  test("multimodal pngMediaTable round-trips through the real codec") {
    val d = docs((5L, "ignored"), (40L, "ignored"))
    val out = Multimodal.decodeFeatures(Multimodal.pngMediaTable(d),
        decoder = Multimodal.ImageIoDecoder)
      .orderBy("media_id").collect()
    // dims are id arithmetic: w = 8 + id%32, h = 8 + id%16
    assert(out(0).getInt(2) == 13 && out(0).getInt(3) == 13)  // id=5
    assert(out(1).getInt(2) == 16 && out(1).getInt(3) == 16)  // id=40
  }

  test("multimodal resize keeps the media schema and updates meta") {
    val d = docs((7L, "abcdefghij"))
    val out = Multimodal.resize(Multimodal.asMediaTable(d), targetBytes = 4)
    assert(out.schema == Multimodal.mediaSchema)
    val r = out.head()
    assert(r.getAs[Array[Byte]]("payload").toSeq == "abcd".getBytes("UTF-8").toSeq)
    assert(r.getStruct(2).getLong(1) == 4L)  // declared_bytes updated
  }

  test("multimodal frame sampling emits every Nth fixed-size frame") {
    val d = docs((7L, "x" * 150))  // frames of 64: 0..63, 64..127, 128..149
    val rows = Multimodal.sampleFrames(Multimodal.asMediaTable(d),
        frameBytes = 64, everyN = 2)
      .orderBy("frame_no").collect()
    // frames 0 and 2 sampled (everyN=2); frame 2 is the 22-byte tail
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 2))
    assert(rows.map(_.getInt(2)).toSeq == Seq(64, 22))
    assert(rows.forall(_.getInt(3) == 'x'.toInt))
  }

  test("keyframe extraction decodes real PNG frames via the container index") {
    val s = spark; import s.implicits._
    // ids chosen to vary frame count (3 + id mod 4) and dims
    val ids = Seq(0L, 5L, 7L).toDF("doc_id")
    val rows = Multimodal.sampleImageFrames(
        Multimodal.videoMediaTable(ids), everyN = 2)
      .orderBy("media_id", "frame_no").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    def truth(id: Long) = (0 until (3 + (id % 4).toInt) by 2).map { f =>
      (id, f, 4 + ((id * 7 + f * 3) % 13).toInt,
        4 + ((id * 5 + f * 11) % 9).toInt)
    }
    assert(rows == Seq(0L, 5L, 7L).flatMap(truth),
      s"decoded keyframe dims drifted from the container ground truth: $rows")
    // the sampler decodes REAL codec output: a corrupted frame (valid
    // container index, garbage PNG bytes) reports (0, 0), not a crash
    val media = Multimodal.videoMediaTable(Seq(1L).toDF("doc_id"))
    val corrupt = media.select(col("media_id"),
      // zero out everything past the index: count=4 -> 4+16 bytes kept
      concat(expr("substring(payload, 1, 20)"),
        lit(Array.fill[Byte](600)(0))).as("payload"), col("meta"))
    val bad = Multimodal.sampleImageFrames(corrupt, everyN = 2).collect()
    assert(bad.forall(r => r.getInt(2) == 0 && r.getInt(3) == 0),
      "corrupt PNG frames must report (0,0) dims")
  }

  test("fingerprint equals min shingle hash and is stable") {
    val d = docs((1L, "a b c d"), (2L, "a b c d"))
    val fps = d.select(Text.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
  }

  test("symbolPermille counts non-alnum non-space chars") {
    val d = docs((1L, "ab!! cd??__")) // 6 symbols of 11 chars -> 545
    assert(d.select(Text.symbolPermille(col("text"))).head().getLong(0) == 545L)
  }

  test("PII scrub counts and redacts emails then phones") {
    val d = docs((1L, "mail bob.x@host.org or 555-1234 now"))
    val r = d.select(
      Text.emailCount(col("text")),
      Text.phoneCount(col("text")),
      Text.scrubPii(col("text"))).head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 1)
    assert(r.getString(2) == "mail <EMAIL> or <PHONE> now")
  }

  test("lineDedup reports chunks repeated across docs with canonical id") {
    // docs 1 and 2 share their first 8-token chunk; doc 3 is distinct
    val shared = "t0 t1 t2 t3 t4 t5 t6 t7"
    val d = docs(
      (1L, shared + " tailA x y z"),
      (2L, shared + " tailB q r s"),
      (3L, "u0 u1 u2 u3 u4 u5 u6 u7 u8"))
    val r = Dedup.lineDedup(d).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("copies") == 2L)
    assert(r.head.getAs[Long]("canonical") == 1L)
  }

  test("boilerplateChunks flags per-source repeats, not cross-source ones") {
    val s = spark; import s.implicits._
    val shared = "t0 t1 t2 t3 t4 t5 t6 t7"
    val d = Seq(
      (1L, shared + " tailA x y z", "s1"),
      (2L, shared + " tailB q r s", "s1"),
      (3L, shared + " tailC m n o", "s2"), // same chunk, DIFFERENT source
      (4L, "u0 u1 u2 u3 u4 u5 u6 u7", "s2"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.boilerplateChunks(d, minDf = 2).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("source") == "s1")
    assert(r.head.getAs[Long]("df") == 2L)
    assert(r.head.getAs[Long]("canonical") == 1L)
  }

  test("walshProject: orthogonal sign masks over the quantized vector") {
    val s = spark; import s.implicits._
    val d = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val r = graft.similarity.Similarity.walshProject(d, dims = 4).head()
    // q = (1000, 2000, 3000); signs_j(i) = (-1)^popcount(i & (j+1))
    assert(r.getLong(1) == 2000L)   // mask 1: + - +
    assert(r.getLong(2) == 0L)      // mask 2: + + -
    assert(r.getLong(3) == -4000L)  // mask 3: + - -
    assert(r.getLong(4) == 6000L)   // mask 4: + + +
  }

  test("resampleAudio: 4:1 block means through the real WAV codec") {
    val s = spark; import s.implicits._
    val d = Seq((5L, "ignored", "s", "en", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.multimodal.Multimodal.resampleAudio(
      graft.multimodal.Multimodal.wavMediaTable(d), factor = 4).head()
    // generator ground truth, recomputed independently
    val id = 5L
    val n = 64 + (id % 64).toInt
    val samples = (0 until n).map(k => (id * 31 + k * 17) % 2048 - 1024)
    val outs = (0 until n / 4).map(b =>
      Math.floorDiv(samples.slice(4 * b, 4 * b + 4).sum, 4L))
    assert(out.getInt(1) == 2000)
    assert(out.getInt(2) == n / 4)
    assert(out.getLong(3) == outs.map(o => o * o).sum)
  }

  test("leftAsOf attaches the latest right row at or before each left time") {
    val s = spark; import s.implicits._
    val left = Seq((1L, 100L, 10L), (1L, 50L, 11L), (2L, 10L, 12L))
      .toDF("k", "lt", "lid")
    val right = Seq((1L, 100L, 20L), (1L, 100L, 21L), (1L, 40L, 22L), (2L, 99L, 23L))
      .toDF("k", "rt", "rid")
    val r = graft.operators.AsOfJoin
      .leftAsOf(left, right, "k", "lt", "lid", "rt", "rid")
      .collect().map(x => (x.getLong(1),
        if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
    // lid 10 at t=100: right at same t matches, tie -> max rid 21;
    // lid 11 at t=50: latest earlier right is t=40 -> 22;
    // lid 12 at t=10: no right at or before -> null
    assert(r == Map(10L -> 21L, 11L -> 22L, 12L -> -1L))
  }

  test("fuzzy pairs: typo-distance match within block, cap drops hot blocks") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fux jumps over the lazy dog"), // 1 edit
      (3L, "the quick brXwn f0x jumpZ over the lazy d__"), // several edits
      (4L, "completely different text with no shared prefix"),
      (5L, "the quick but far too different tail 0123456789abcdef"))
      .toDF("doc_id", "text")
    val pairs = graft.dedup.Fuzzy.levenshteinPairs(docs, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 1)))
    assert(pairs.exists { case (a, b, _) => (a, b) == (1L, 3L) })
    assert(!pairs.exists { case (a, b, _) => b == 4L || a == 4L })
    // 5 shares the 8-char block but exceeds maxDist -> bounded
    // levenshtein returns -1 and the pair is dropped
    assert(!pairs.exists { case (a, b, _) => b == 5L || a == 5L })
    // capping at maxBlock=1 admits no block with >1 member
    assert(graft.dedup.Fuzzy.levenshteinPairs(docs, maxDist = 6, maxBlock = 1)
      .count() == 0L)
  }

  test("nearDupClusters propagates the min id across pair chains") {
    val s = spark; import s.implicits._
    // chain 5-3, 3-9 (one cluster, min 3); isolated pair 10-11; lone 20
    val pairs = Seq((3L, 5L), (3L, 9L), (10L, 11L)).toDF("a", "b")
    val docs = Seq(3L, 5L, 9L, 10L, 11L, 20L).toDF("doc_id")
    val r = Dedup.nearDupClusters(pairs, docs)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("nearDupClusters leaves the caller's session untouched (child-session AQE)") {
    val s = spark; import s.implicits._
    // the loop disables AQE in a CHILD session only: the parent conf
    // must read the same before/after/during, and concurrent callers
    // must not perturb each other (no shared toggle, no restore race).
    // Since round 13 the child is a per-parent SINGLETON
    // (Dedup.loopSession): the three concurrent calls below all run
    // in ONE shared child session, isolated from each other only by
    // their uniquely named graft_cc_* global temp views — so this
    // test also pins the singleton's thread safety and reuse
    // (correct results per call, zero leaked views after all three).
    s.conf.set("spark.sql.adaptive.enabled", "true")
    val pairs = Seq((3L, 5L), (3L, 9L), (10L, 11L)).toDF("a", "b")
    val docs = Seq(3L, 5L, 9L, 10L, 11L, 20L).toDF("doc_id")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 3).map(_ => Future {
      Dedup.nearDupClusters(pairs, docs)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    })), Duration.Inf)
    results.foreach { r =>
      assert(r == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
    }
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true",
      "parent session AQE flipped by nearDupClusters")
    // the cross-session handoff views are dropped on exit
    assert(!s.catalog.listTables("global_temp").collect()
      .exists(_.name.startsWith("graft_cc_")),
      "leaked graft_cc_* global temp views")
  }

  test("nearDupClusters' loop session carries the parent's runtime SQL conf") {
    // a fresh parent, so the per-parent child is built from this conf
    val parent = spark.newSession()
    parent.conf.set("spark.sql.autoBroadcastJoinThreshold", "123456")
    val child = Dedup.loopSession(parent)
    assert(child ne parent)
    assert(child.conf.get("spark.sql.autoBroadcastJoinThreshold") == "123456")
    assert(child.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(parent.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(Dedup.loopSession(parent) eq child)
  }

  test("nearDupClusters converges on a chain longer than maxIters (path halving)") {
    val s = spark; import s.implicits._
    // 61-vertex path graph: plain 1-hop min-label needs 60 rounds to
    // reach the far end; path halving must close it within the
    // default maxIters=20 (O(log diameter) rounds)
    val n = 60L
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("a", "b")
    val docs = (0L to n).toDF("doc_id")
    val r = Dedup.nearDupClusters(pairs, docs)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r.size == 61 && r.values.forall(_ == 0L))
  }

  test("clustersTable: identical to the direct chain, built once per key") {
    val s = spark
    val docs = Tables.documents(s, "/root/testdata/sf0.001")
    val direct = Dedup.nearDupClusters(
        Dedup.minhashNearDup(docs, num = 1, den = 2), docs)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sortBy(_._1)
    val viaTable = Dedup.clustersTable(docs, num = 1, den = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sortBy(_._1)
    assert(viaTable == direct,
      "clustersTable drifted from the direct minhash->clusters chain")
    // second call must serve the SAME write-once files (no rebuild):
    // the scanned file set of both reads is identical
    def files(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.inputFiles.toSeq.sorted
    val first = files(Dedup.clustersTable(docs, num = 1, den = 2))
    val second = files(Dedup.clustersTable(docs, num = 1, den = 2))
    assert(first.nonEmpty && first == second,
      "clustersTable rebuilt instead of serving the cached parquet")
    // a different parameterization builds its OWN table
    val other = files(Dedup.clustersTable(docs, num = 4, den = 5))
    assert(other != first,
      "clustersTable served a differently-parameterized build")
  }

  test("clustersTable: a durable tablePath is the cross-JVM authority") {
    val s = spark
    val docs = Tables.documents(s, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("clusters_durable")
      .toString + "/clusters"
    // first call BUILDS in place (committed: _SUCCESS lands)
    val built = Dedup.clustersTable(docs, num = 1, den = 2,
        tablePath = Some(path))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sortBy(_._1)
    assert(new java.io.File(path, "_SUCCESS").isFile,
      "durable clusters table missing the committer marker")
    assert(built == Dedup.clustersTable(docs, num = 1, den = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sortBy(_._1),
      "durable build drifted from the temp-dir build")
    // the FILES are the authority (not the in-JVM plan cache):
    // replace the table with a sentinel assignment — a later call,
    // any JVM, must serve it as-is rather than rebuild. A committed
    // table always carries its params sidecar (committed = _SUCCESS
    // AND sidecar since the r17 torn-window fix), so plant it too.
    val sentinel = s.range(1).selectExpr("id AS doc_id", "42L AS cluster")
    sentinel.write.mode("overwrite").parquet(path)
    val params1 =
      """{"num":1,"den":2,"k":16,"rowsPerBand":4,"idCol":"doc_id"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_graft_params.json"), params1)
    val served = Dedup.clustersTable(docs, num = 1, den = 2,
        tablePath = Some(path))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(served == Seq((0L, 42L)),
      "tablePath call rebuilt over an existing committed table")
    // _SUCCESS with data files but NO sidecar and NO claim marker is
    // what an UNRELATED committed parquet dataset looks like — the
    // round-18 guard must REFUSE to overwrite it (a mis-keyed
    // tablePath must not destroy someone else's data), not rebuild
    assert(new java.io.File(path, "_graft_params.json").delete())
    val foreign = intercept[IllegalStateException] {
      Dedup.clustersTable(docs, num = 1, den = 2, tablePath = Some(path))
        .collect()
    }
    assert(foreign.getMessage.contains("refusing to overwrite"),
      s"wrong failure for a foreign committed dataset: ${foreign.getMessage}")
    // the SAME state WITH the claim marker is the torn-commit window
    // this writer owns (crashed between parquet commit and sidecar
    // write): it must rebuild, as pinned since round 17
    val tableDir = new java.io.File(path)
    val claim = new java.io.File(tableDir.getParentFile,
      s".${tableDir.getName}._graft_building")
    assert(claim.createNewFile(), "could not plant the claim marker")
    val afterTornSidecar = Dedup.clustersTable(docs, num = 1, den = 2,
        tablePath = Some(path))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sortBy(_._1)
    assert(afterTornSidecar == built,
      "_SUCCESS-without-sidecar under our own claim marker (torn commit " +
        "window) was not rebuilt")
    assert(!claim.isFile,
      "the claim marker must be released after a committed rebuild")
    // an UNCOMMITTED table (no _SUCCESS — crashed writer) rebuilds
    assert(new java.io.File(path, "_SUCCESS").delete())
    val rebuilt = Dedup.clustersTable(docs, num = 1, den = 2,
        tablePath = Some(path))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sortBy(_._1)
    assert(rebuilt == built,
      "uncommitted (torn) table was served instead of rebuilt")
    // the rebuild committed a params sidecar; a request for the SAME
    // path under DIFFERENT parameters must fail fast, not silently
    // serve clusters computed with someone else's thresholds
    assert(new java.io.File(path, "_graft_params.json").isFile,
      "rebuild did not commit the params sidecar")
    val e = intercept[IllegalArgumentException] {
      Dedup.clustersTable(docs, num = 4, den = 5, tablePath = Some(path))
        .collect()
    }
    assert(e.getMessage.contains("parameter set"),
      s"wrong failure for a params mismatch: ${e.getMessage}")
    // same params still served as-is
    assert(Dedup.clustersTable(docs, num = 1, den = 2,
        tablePath = Some(path))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sortBy(_._1)
      == built, "matching-params call no longer serves the table")
  }

  test("clustersTable: a build that throws drops its claim marker") {
    val s = spark
    val docs = Tables.documents(s, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("clusters_claim")
      .toString + "/clusters"
    // the build fails analysis (no text column) after the claim exists
    intercept[org.apache.spark.sql.AnalysisException] {
      Dedup.clustersTable(docs.drop("text"), tablePath = Some(path))
    }
    val tableDir = new java.io.File(path)
    assert(!new java.io.File(tableDir.getParentFile,
      s".${tableDir.getName}._graft_building").exists(),
      "a failed build left its claim marker behind")
    // an unrelated committed dataset lands at the path: the guard must
    // still refuse to overwrite it
    s.range(3).write.parquet(path)
    val foreign = tableDir.list().toSet
    intercept[IllegalStateException] {
      Dedup.clustersTable(docs, tablePath = Some(path))
    }
    assert(tableDir.list().toSet == foreign,
      "the foreign committed dataset was overwritten")
  }

  test("clustersTable: a corpus rewritten in place builds its own table") {
    val s = spark; import s.implicits._
    // the plan of a parquet scan keys only its root path and schema:
    // the in-JVM table must also key the files behind it, or a corpus
    // refreshed at the same path keeps serving the old clusters
    def text(i: Int) = (0 until 30).map(j => s"w${i}x$j").mkString(" ")
    val path = java.nio.file.Files.createTempDirectory("clusters_refresh")
      .toString + "/docs"
    def clusters(texts: Seq[Int]): Set[(Long, Long)] = {
      texts.zipWithIndex.map { case (t, i) => (i + 1L, text(t)) }
        .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
      Dedup.clustersTable(s.read.parquet(path))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val before = clusters(Seq(1, 1, 3, 4))
    assert(before == Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)), before)
    val after = clusters(Seq(1, 2, 3, 3))
    assert(after == Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 3L)),
      s"clustersTable served the clusters of the corpus it replaced: $after")
  }

  test("persisted IVF-PQ index: equals v17, durable path is the authority") {
    val s = spark
    val e = Tables.embeddings(s, "/root/testdata/sf0.001")
    val pred = col("label") === 1
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq.sortBy(x => (x._1, x._2))
    // per-vector assignment/encode commute with the row predicate, so
    // the persisted-postings semi-join must equal v17's filtered
    // rebuild bit for bit — the invariant that lets ONE oracle gate
    // both serving paths
    val cents = Similarity.trainedIvfCentroids(e,
      dim = 64, stride = 31, k = 8, iters = 1)
    val cb = Similarity.pqCodebookTrained(e,
      m = 4, subDim = 16, stride = 31, k = 16, iters = 1)
    val direct = rows(Similarity.annIvfPqFilteredTrained(
      e, e.filter(col("vec_id") < 10), pred, cents, cb, k = 5, nprobe = 2))
    val persisted = rows(Similarity.annIvfPqPersisted(
      e, e.filter(col("vec_id") < 10), pred, k = 5, nprobe = 2))
    assert(persisted == direct,
      "persisted-index search drifted from the filtered rebuild (v17)")
    // one train, many filters: the in-JVM keyed cache serves the SAME
    // write-once files to every call, and a DIFFERENT predicate still
    // matches ITS OWN v17 rebuild through the shared index
    def postingFiles(): Seq[String] =
      Similarity.ivfPqIndexTable(e)._3.inputFiles.toSeq.sorted
    val pf = postingFiles()
    assert(pf.nonEmpty && pf == postingFiles(),
      "index rebuilt instead of serving the cached committed files")
    val direct0 = rows(Similarity.annIvfPqFilteredTrained(
      e, e.filter(col("vec_id") < 10), col("label") === 0, cents, cb,
      k = 5, nprobe = 2))
    val persisted0 = rows(Similarity.annIvfPqPersisted(
      e, e.filter(col("vec_id") < 10), col("label") === 0, k = 5, nprobe = 2))
    assert(persisted0 == direct0,
      "a second predicate through the shared index drifted from v17")

    // durable indexPath: build commits marker + sidecar; the FILES are
    // the authority; torn (markerless) index retrains; mismatched
    // params fail fast
    val path = java.nio.file.Files.createTempDirectory("ivfpq_durable")
      .toString + "/index"
    val durable = rows(Similarity.annIvfPqPersisted(
      e, e.filter(col("vec_id") < 10), pred, k = 5, nprobe = 2,
      indexPath = Some(path)))
    assert(durable == direct, "durable-path search drifted from v17")
    assert(new java.io.File(path, "_GRAFT_INDEX_SUCCESS").isFile,
      "durable index missing the whole-index commit marker")
    assert(new java.io.File(path, "_graft_params.json").isFile,
      "durable index missing the params sidecar")
    // serve-as-is: poison the postings table — a later call (any JVM)
    // must read the committed files, not silently retrain over them
    val sentinel = s.range(1).selectExpr("id", "CAST(0 AS INT) AS m",
      "id AS code", "id AS cid")
    sentinel.write.mode("overwrite").parquet(s"$path/postings")
    val served = Similarity.ivfPqIndexTable(e, indexPath = Some(path))._3
    assert(served.count() == 1,
      "indexPath call retrained over an existing committed index")
    // params mismatch on a committed index fails fast
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexTable(e, cells = 4, indexPath = Some(path))
    }
    assert(ex.getMessage.contains("parameter set"),
      s"wrong failure for an index params mismatch: ${ex.getMessage}")
    // torn index (no marker — crashed writer) retrains in place
    assert(new java.io.File(path, "_GRAFT_INDEX_SUCCESS").delete())
    val retrained = rows(Similarity.annIvfPqPersisted(
      e, e.filter(col("vec_id") < 10), pred, k = 5, nprobe = 2,
      indexPath = Some(path)))
    assert(retrained == direct, "torn index was served instead of retrained")
  }

  test("ivfPqIndexAppend: frozen-geometry growth equals the explicit rebuild") {
    val s = spark
    val e = Tables.embeddings(s, "/root/testdata/sf0.001")
    val halfA = e.filter(col("vec_id") < 250)
    val halfB = e.filter(col("vec_id") >= 250)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_grow")
      .toString + "/index"
    // generation 1: train + commit on half the corpus
    Similarity.ivfPqIndexTable(halfA, indexPath = Some(path))
    // generation 1.1: the other half arrives — encoded against the
    // COMMITTED geometry, landing as a delta posting table
    Similarity.ivfPqIndexAppend(halfB, path)
    // a search over the grown index must equal the explicit-artifact
    // rebuild that encodes the FULL corpus against the SAME frozen
    // (half-trained) centroids + codebook — i.e. appending is exactly
    // re-encoding the new rows, nothing else moved
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq.sortBy(x => (x._1, x._2))
    val centsA = Similarity.trainedIvfCentroids(halfA,
      dim = 64, stride = 31, k = 8, iters = 1)
    val cbA = Similarity.pqCodebookTrained(halfA,
      m = 4, subDim = 16, stride = 31, k = 16, iters = 1)
    val expected = rows(Similarity.annIvfPqFilteredTrained(
      e, e.filter(col("vec_id") < 10), col("label") === 1, centsA, cbA,
      k = 5, nprobe = 2))
    val grown = rows(Similarity.annIvfPqPersisted(
      e, e.filter(col("vec_id") < 10), col("label") === 1, k = 5,
      nprobe = 2, indexPath = Some(path)))
    assert(grown == expected,
      "grown index drifted from the frozen-geometry full re-encode")
    // a TORN delta (crashed appender — no _SUCCESS) is invisible to
    // readers and does not perturb results
    val torn = new java.io.File(path, "postings_delta_99")
    assert(torn.mkdir())
    val junk = new java.io.File(torn, "part-junk.parquet")
    val w = new java.io.FileOutputStream(junk)
    try w.write("not parquet".getBytes) finally w.close()
    val afterTorn = rows(Similarity.annIvfPqPersisted(
      e, e.filter(col("vec_id") < 10), col("label") === 1, k = 5,
      nprobe = 2, indexPath = Some(path)))
    assert(afterTorn == grown, "an uncommitted delta leaked into a search")
    // appending to a path with no committed index fails fast
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAppend(halfB,
        java.nio.file.Files.createTempDirectory("ivfpq_nothere").toString)
    }
    assert(ex.getMessage.contains("no committed index"),
      s"wrong failure for an append without an index: ${ex.getMessage}")
    // compaction publishes a NEW generation whose searches are
    // bit-identical and whose posting table is ONE base (deltas
    // folded in, torn junk left behind)
    val gen2 = java.nio.file.Files.createTempDirectory("ivfpq_gen2")
      .toString + "/index"
    Similarity.ivfPqIndexCompact(s, path, gen2)
    val compacted = rows(Similarity.annIvfPqPersisted(
      e, e.filter(col("vec_id") < 10), col("label") === 1, k = 5,
      nprobe = 2, indexPath = Some(gen2)))
    assert(compacted == grown, "compaction changed search results")
    assert(!new java.io.File(gen2).listFiles()
      .exists(_.getName.startsWith("postings_delta")),
      "compacted generation still carries delta tables")
    // a committed generation is never overwritten
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexCompact(s, path, gen2)
    }
    assert(ex2.getMessage.contains("never overwrites"),
      s"compaction overwrote a committed generation: ${ex2.getMessage}")
  }

  test("ivfPqIndexTable: refuses an indexPath holding foreign data") {
    val s = spark
    val e = Tables.embeddings(s, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("ivfpq_foreign")
      .toString + "/index"
    // an unrelated committed parquet dataset sits where the index goes:
    // training beside it (or over it) would corrupt someone else's data
    s.range(3).write.parquet(path)
    val dir = new java.io.File(path)
    val listing = dir.list().toSet
    val ex = intercept[IllegalStateException] {
      Similarity.ivfPqIndexTable(e, indexPath = Some(path))
    }
    assert(ex.getMessage.contains("refusing to overwrite"), ex.getMessage)
    assert(dir.list().toSet == listing,
      "the foreign directory changed under a refused index build")
  }

  test("LSH and IVF ANN recall vs brute force on clustered vectors") {
    val s = spark; import s.implicits._
    // 3 well-separated clusters of 20 vectors in R^8: center + small
    // deterministic jitter; nearest neighbors live inside the cluster
    def vec(cluster: Int, i: Int): Array[Float] = {
      val base = Array.fill(8)(0.0f)
      base(cluster) = 10.0f
      (0 until 8).map(j =>
        base(j) + (((cluster * 131 + i * 17 + j * 7) % 11) - 5) * 0.05f).toArray
    }
    val rows = for (c <- 0 until 3; i <- 0 until 20)
      yield ((c * 20 + i).toLong, vec(c, i))
    val e = rows.toDF("vec_id", "embedding")
    val queries = e.filter(col("vec_id").isin(0L, 1L, 20L, 21L, 40L, 41L))
    def neighbors(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor")).toSet }
    val brute = neighbors(Similarity.annBruteForce(e, queries, k = 5))
    val lsh = neighbors(Similarity.annLsh(e, queries, k = 5, planes = 6))
    val ivf = neighbors(Similarity.annIvf(e, queries, k = 5,
      nprobe = 2, centroidStride = 19))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val hits = brute.map { case (q, nb) =>
        approx.getOrElse(q, Set.empty).intersect(nb).size
      }.sum
      hits.toDouble / brute.values.map(_.size).sum
    }
    // tight clusters: both approximate paths should recover most of
    // the true top-5 (the trade-off is tunable via planes / nprobe)
    assert(recall(lsh) >= 0.8, s"LSH recall ${recall(lsh)}")
    assert(recall(ivf) >= 0.8, s"IVF recall ${recall(ivf)}")

    // k-means-trained cells (VectorMean custom aggregate): every
    // trained centroid's dominant axis is a true cluster axis, and
    // trained-IVF recall holds up
    val cents = Similarity.kmeansCentroids(e, stride = 19, iters = 2)
    cents.collect().foreach { r =>
      val v = r.getSeq[Double](1)
      assert(v.indexOf(v.max) < 3, s"centroid off-cluster: $v")
    }
    val trained = neighbors(
      Similarity.annIvfTrained(e, queries, cents, k = 5, nprobe = 2))
    assert(recall(trained) >= 0.8, s"trained-IVF recall ${recall(trained)}")
  }

  test("repetitionStats: hand-computed dup-token and top-bigram permille") {
    val d = docs(
      (1L, "a b a b c"),   // n=5 d=3 dup=400; bigram "a b" x2 of 4 -> 500
      (2L, "x y z"),       // all distinct -> dup=0; every bigram unique -> 500
      (3L, "w w w w"),     // n=4 d=1 dup=750; "w w" x3 of 3 -> 1000
      (4L, "solo"))        // 1 token: dropped (no bigram denominator)
    val r = Text.repetitionStats(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r == Map(1L -> (400L, 500L), 2L -> (0L, 500L), 3L -> (750L, 1000L)))
  }

  test("packSequences: next-fit by start offset within each shard") {
    val s = spark; import s.implicits._
    val d = Seq(
      ("X", 1L, "t t t t"),               // start 0  -> pack 0
      ("X", 2L, "t t t t t"),             // start 4  -> pack 0
      ("X", 3L, "t t t t"),               // start 9  -> pack 0 (straddles)
      ("X", 4L, "t t t t t t t t t"),     // start 13 -> pack 1
      ("Y", 5L, "t t t t t t t t t t t t") // start 0 -> pack 0 (own shard)
    ).toDF("source", "doc_id", "text")
    val r = Text.packSequences(d, "doc_id", "text", "source", budget = 10L)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getLong(3)).toMap
    assert(r == Map(("X", 1L) -> 0L, ("X", 2L) -> 0L, ("X", 3L) -> 0L,
      ("X", 4L) -> 1L, ("Y", 5L) -> 0L))
  }

  test("chunkSpans: overlapping windows cover every token, tail partial") {
    val d = docs(
      (1L, (1 to 11).map(i => s"w$i").mkString(" ")), // 11 toks, size 4/ov 1
      (2L, "a b"))                                    // under size: one chunk
    val r = Text.chunkSpans(d, "doc_id", "text", size = 4, overlap = 1)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // stride 3: ceil((11-4)/3)+1 = 4 chunks at 0,3,6,9 — the last is
    // the 2-token partial tail
    assert(r.toSeq == Seq(
      (1L, 0L, 0L, 4L), (1L, 1L, 3L, 4L), (1L, 2L, 6L, 4L), (1L, 3L, 9L, 2L),
      (2L, 0L, 0L, 2L)))
    // coverage: every position 0..10 falls in some chunk
    val covered = r.filter(_._1 == 1L)
      .flatMap(t => t._3 until (t._3 + t._4)).toSet
    assert(covered == (0L until 11L).toSet)
  }

  test("contamination finds planted n-gram overlap, counts distinct grams") {
    val s = spark; import s.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated training text about spark plans")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      // contains train doc 1's 8-gram "quick brown ... dog" twice-ish
      (10L, "she said the quick brown fox jumps over the lazy dog again"),
      (11L, "no overlap here at all just novel words entirely")
    ).toDF("doc_id", "text")
    val r = graft.dedup.Dedup.contamination(train, eval_, n = 8)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // doc 10 shares two of train doc 1's 8-grams ("the quick ... lazy"
    // and "quick ... dog"; the third train gram ends in "tonight" which
    // doc 10 lacks); doc 11 is clean
    assert(r.keySet == Set(10L))
    assert(r(10L) == 2L)
  }

  test("semanticDedup keeps the smallest id of each within-cell near-dup set") {
    val s = spark; import s.implicits._
    // centroids = stride-43 ids {0, 43}; cell A = {0,1,2,3}, cell B = {43,44}
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.05f)),
      (2L, Array(0.98f, 0.1f)),
      (3L, Array(0.9f, 0.4f)),  // same cell, below threshold: kept
      (43L, Array(0.0f, 1.0f)), (44L, Array(0.05f, 0.99f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(e, threshold = 0.97, centroidStride = 43)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(r == Map(0L -> 1, 1L -> 0, 2L -> 0, 3L -> 1, 43L -> 1, 44L -> 0))
  }

  test("annIvf finds the same top neighbors as brute force when cells align") {
    val s = spark; import s.implicits._
    // two tight clusters; centroids = ids 0 and 43 (stride sample)
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.05f)),
      (2L, Array(0.98f, 0.1f)),
      (43L, Array(0.0f, 1.0f)), (44L, Array(0.05f, 0.99f)))
      .toDF("vec_id", "embedding")
    val ivf = Similarity.annIvf(e, e.filter(col("vec_id") === 1), k = 2,
        nprobe = 1, centroidStride = 43)
      .collect().map(_.getAs[Long]("neighbor")).toSeq
    val brute = Similarity.annBruteForce(e, e.filter(col("vec_id") === 1), k = 2)
      .collect().map(_.getAs[Long]("neighbor")).toSeq
    assert(ivf == brute)
  }

  test("quantizeInt8 maps min to 0, max to 255, constant vectors to 0") {
    val s = spark; import s.implicits._
    val e = Seq(
      (0L, Array(0.0f, 0.5f, 1.0f)),
      (1L, Array(2.0f, 2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val r = e.select(col("vec_id"),
        Similarity.quantizeInt8(col("embedding")).as("c"))
      .orderBy("vec_id").collect()
      .map(_.getAs[collection.Seq[Long]]("c").toList)
    // 0.5 -> floor(0.5 * 255) = 127; max -> floor(255.0) = 255
    assert(r(0) == List(0L, 127L, 255L))
    assert(r(1) == List(0L, 0L, 0L))
  }

  test("hybridRrf fuses lexical and vector ranks, RRF-60 integer scores") {
    val s = spark; import s.implicits._
    val d = docs(
      (0L, "spark query engine"),          // query doc: lex rank 2 (1 hit)
      (1L, "spark spark vector"),          // 3 hits -> lex rank 1
      (2L, "nothing relevant here"),       // lex absent
      (3L, "one spark mention"))           // 1 hit -> lex rank 3 (tie by id)
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),             // the query vector
      (1L, Array(0.0f, 1.0f)),             // orthogonal -> low dot
      (2L, Array(0.9f, 0.1f)),             // close -> high dot
      (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.hybridRrf(d, e, Seq("spark", "vector"), queryVecId = 0L,
        k = 4, topK = 4)
      .collect().map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("rrf"),
        x.getAs[Int]("lex_rank"), x.getAs[Int]("vec_rank")))
    // vector ranks by quantized dot, SELF EXCLUDED (round-11: the
    // query doc's self-dot is the maximum by construction and was
    // eating rank 1 of every fused result): 2 (65025) > 1 > 3 (dot
    // ties at 0, id order). doc 1: lex 1, vec 2 ->
    // 100000/61 + 100000/62 = 1639 + 1612 = 3251
    assert(r.head == ((1L, 3251L, 1, 2)))
    // the query doc itself fuses on its LEXICAL rank only
    val d0 = r.find(_._1 == 0L).get
    assert(d0._3 == 2 && d0._4 == 0 && d0._2 == 100000L / 62)
    // every fused doc appears once, scores strictly ordered by (rrf, id)
    assert(r.map(_._1).distinct.length == r.length)
    val scores = r.map(_._2).toSeq
    assert(scores == scores.sorted.reverse)
    // doc 2 is lexically absent -> lex_rank 0, vec contribution only
    val d2 = r.find(_._1 == 2L).get
    assert(d2._3 == 0 && d2._4 == 1 && d2._2 == 100000L / 61)
  }

  test("PQ/ADC: codes are deterministic, neighbors stay in the true cluster") {
    val s = spark; import s.implicits._
    // 3 tight clusters along axes 0/1/2 of an 8-dim space (same shape
    // as the IVF fixture): quantization error is within-cluster noise,
    // so every ADC neighbor of a cluster member must be a cluster mate
    def vec(cluster: Int, i: Int): Array[Float] = {
      val base = Array.fill(8)(0.0f)
      base(cluster) = 10.0f
      (0 until 8).map(j =>
        base(j) + (((cluster * 131 + i * 17 + j * 7) % 11) - 5) * 0.05f).toArray
    }
    val rows = for (c <- 0 until 3; i <- 0 until 20)
      yield ((c * 20 + i).toLong, vec(c, i))
    val e = rows.toDF("vec_id", "embedding")
    val queries = e.filter(col("vec_id").isin(0L, 25L, 50L))
    val ann = Similarity.annPqAdc(e, queries, k = 5, m = 4, subDim = 2,
      stride = 19).collect()
    assert(ann.length == 15) // 3 queries x k
    ann.foreach { r =>
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("neighbor")
      assert(q / 20 == n / 20, s"neighbor $n left query $q's cluster")
    }
    // IVF-PQ (capped cells + capped codebook) keeps the same purity:
    // probed cells and quantized distances both respect the clusters
    val ivfpq = Similarity.annIvfPq(e, queries, k = 5, nprobe = 2,
      cellStride = 19, cells = 4, m = 4, subDim = 2,
      cbStride = 19, cbK = 4).collect()
    assert(ivfpq.length == 15)
    ivfpq.foreach { r =>
      val q = r.getAs[Long]("query_id"); val nb = r.getAs[Long]("neighbor")
      assert(q / 20 == nb / 20, s"IVF-PQ neighbor $nb left query $q's cluster")
    }
    // encode is pure: same corpus + codebook -> identical codes
    val cb = Similarity.pqCodebook(e, m = 4, subDim = 2, stride = 19)
    val enc = () => Similarity.pqEncode(e, cb, m = 4, subDim = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(enc() == enc())
    // a codeword vector's own subvector encodes to itself (distance 0)
    val self = Similarity.pqEncode(e.filter(col("vec_id") === 19L), cb,
      m = 4, subDim = 2).collect()
    assert(self.forall(_.getLong(2) == 19L))
  }

  test("substringSpans: cross-doc overlap, within-doc repeats, maximal merge") {
    val d = docs(
      (1L, "p q r s t u v w z1 z2"),       // shares one 8-gram with doc 2
      (2L, "m n p q r s t u v w k"),       // same gram at pos 2
      (3L, "a a a a a a a a a a"),         // self-repeating: 3 windows merge
      (4L, "only unique tokens here now")) // no 8-gram at all
    val r = graft.dedup.Dedup.substringSpans(d, n = 8)
      .orderBy("doc_id", "span_id")
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2),
        x.getLong(3), x.getLong(4))).toSeq
    assert(r == Seq(
      (1L, 1, 0L, 7L, 8L),   // [p..w] at positions 0-7
      (2L, 1, 2L, 9L, 8L),   // [p..w] at positions 2-9
      (3L, 1, 0L, 9L, 10L))) // windows 0,1,2 merge to one span over all 10
  }

  test("bigramNll: hand-computed add-one-smoothed scores") {
    val d = docs(
      (1L, "a b a b"),  // bigrams: (a b) x2, (b a) x1
      (2L, "a b"),      // bigram (a b)
      (3L, "c"))        // single token: no bigram, excluded
    // corpus: c(a)=3 c(b)=3 c(c)=1, V=3; c(a b)=3, c(b a)=1
    // lp(a b) = floor(1000*ln(4/6))  = -406
    // lp(b a) = floor(1000*ln(2/6))  = -1099
    // d1: -(-406-1099-406) div 3 = 1911 div 3 = 637;  d2: 406
    val r = Text.bigramNll(d, "doc_id", "text").orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 3L, 637L), (2L, 1L, 406L)))
  }

  test("containmentPairs catches small-in-big dups that Jaccard misses") {
    val d = docs(
      (1L, "a b c d e"),                 // 3 shingles, all inside doc 2
      (2L, "x y a b c d e z w"),         // 7 shingles, 3 shared
      (3L, "p q r s t"))                 // unrelated
    val r = Dedup.containmentPairs(d, thresholdPm = 800)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 2L, 1000L))) // 3/min(3,7) = full containment
    // the same pair fails Jaccard at 1/2: 3/(3+7-3) = 3/7
    val j = Dedup.ngramJaccardNearDup(d, num = 1, den = 2).collect()
    assert(!j.exists(x => x.getLong(0) == 1L && x.getLong(1) == 2L))
  }

  test("profile: one-pass column stats, nulls counted, approx path works") {
    val s = spark; import s.implicits._
    val d = Seq((1L, Option("a")), (2L, Option("b")), (3L, None),
      (4L, Option("b"))).toDF("id", "v")
    val r = graft.functions.Profile.profile(d, Seq("id", "v"))
      .orderBy("column").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("id", "v"))
    val Array(idRow, vRow) = r
    assert((idRow.getLong(1), idRow.getLong(2), idRow.getLong(3),
      idRow.getString(4), idRow.getString(5)) == ((4L, 4L, 4L, "1", "4")))
    assert((vRow.getLong(1), vRow.getLong(2), vRow.getLong(3),
      vRow.getString(4), vRow.getString(5)) == ((4L, 3L, 2L, "a", "b")))
    // approx path (the 100 TB variant): same shape, ndv within HLL error
    val a = graft.functions.Profile.profile(d, Seq("id", "v"), exact = false)
      .orderBy("column").collect()
    assert(a.length == 2 && a.forall(x => x.getLong(3) >= 1))
  }

  test("zOrder2 interleaves bits exactly") {
    import graft.operators.Layout
    val s = spark; import s.implicits._
    val r = Seq((10L, 6L), (255L, 0L), (0L, 255L), (255L, 255L), (0L, 0L))
      .toDF("a", "b")
      .select(Layout.zOrder2(col("a"), col("b"), 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // 10=1010b even positions, 6=0110b odd positions -> 1101100b = 108
    assert(r == Seq(108L, 21845L, 43690L, 65535L, 0L))
    // locality: the bucket prefix bounds BOTH dims' spread (the
    // pruning property — keys sharing high bits share dim ranges)
    val z255 = (0 until 256).flatMap(a => (0 until 256).map(b => (a.toLong, b.toLong)))
    val buckets = z255.toDF("a", "b")
      .select(col("a"), col("b"),
        org.apache.spark.sql.functions.shiftright(
          Layout.zOrder2(col("a"), col("b"), 8), 10).as("bkt"))
      .groupBy("bkt")
      .agg((max("a") - min("a")).as("wa"), (max("b") - min("b")).as("wb"))
      .collect()
    assert(buckets.length == 64)
    // bucket prefix = top 6 key bits = top 3 bits of EACH dim fixed,
    // so both dims' spreads are bounded by 2^5 - 1 within any bucket
    assert(buckets.forall(r => r.getLong(1) <= 31 && r.getLong(2) <= 31))
  }

  test("zOrderN: per-dim budgets, zOrder2 equivalence, SQL twin in lockstep") {
    import graft.operators.Layout
    val s = spark; import s.implicits._
    // budgets (2, 1): level 0 -> a0@pos0, b0@pos1; level 1 -> a1@pos2
    // a=3 (11b), b=1 -> 1@0 + 1@1 + 1@2 = 7;  a=2 (10b), b=0 -> 4
    val r = Seq((3L, 1L), (2L, 0L)).toDF("a", "b")
      .select(Layout.zOrderN(Seq(col("a") -> 2, col("b") -> 1)).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(7L, 4L))
    // equal budgets == the classic 2-dim interleave
    val pairs = Seq((10L, 6L), (255L, 0L), (0L, 255L)).toDF("a", "b")
    val two = pairs.select(Layout.zOrder2(col("a"), col("b"), 8)).collect()
    val n = pairs.select(Layout.zOrderN(Seq(col("a") -> 8, col("b") -> 8)))
      .collect()
    assert(two.map(_.getLong(0)).toSeq == n.map(_.getLong(0)).toSeq)
    // the generated SQL twin computes the identical key (run through
    // Spark's own SQL parser — the expression is ANSI arithmetic)
    val sql = Layout.zOrderNSql(Seq("a" -> 2, "b" -> 1))
    val viaSql = Seq((3L, 1L), (2L, 0L)).toDF("a", "b")
      .selectExpr(s"CAST($sql AS BIGINT) AS z")
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == Seq(7L, 4L))
  }

  test("bm25: hand-computed integer scores and ranking") {
    val d = docs(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana"),
      (4L, "durian fig"))
    // N=4, sum_dl=10, avgdl = 10 div 4 = 2, df(apple)=df(banana)=2
    // idf_x1000 = floor(1000*ln((4-2+0.5)/2.5 + 1)) = floor(1000*ln 2) = 693
    // s = (693 * 44*2*tf) div (20*2*tf + 12 + 18*dl)
    //   d1: apple tf=2 dl=3 -> 121968 div 146 = 835
    //       banana tf=1 dl=3 -> 60984 div 106 = 575    => 1410
    //   d2: apple tf=1 dl=2 -> 60984 div 88 = 693      => 693
    //   d3: banana tf=3 dl=3 -> 182952 div 186 = 983   => 983
    //   d4: no query terms -> absent
    val r = Text.bm25(d, "doc_id", "text", Seq("apple", "banana"), k = 10)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 1, 1410L), (3L, 2, 983L), (2L, 3, 693L)))
  }

  test("BPE training: pair stats, deterministic tie-break, merge application") {
    val d = docs((1L, "low low lower"))
    // word freqs: low=2, lower=1; round-1 pairs: "l o"=3, "o w"=3,
    // "w e"=1, "e r"=1 — the 3-count tie pins lexicographically to
    // "l o", which becomes the merge
    val out = graft.functions.Bpe.train(d, rounds = 2, topK = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(out.filter(_._1 == 1).toSeq ==
      Seq((1, 1, "l o", 3L), (1, 2, "o w", 3L), (1, 3, "e r", 1L)))
    // after "l o" -> "lo": low = "lo w", lower = "lo w e r"
    assert(out.filter(_._1 == 2).toSeq ==
      Seq((2, 1, "lo w", 3L), (2, 2, "e r", 1L), (2, 3, "w e", 1L)))
  }

  test("BPE training collects ONLY the 1-row argmax per merge round") {
    // the scale invariant (Bpe.driverCollectedRows doc): counts and
    // vocab stay distributed; one rank-1 row crosses to the driver
    // per round. rounds=3 must add exactly 3 collected rows.
    val d = docs((1L, "low low lower lowest"))
    val before = graft.functions.Bpe.driverCollectedRows.get()
    graft.functions.Bpe.train(d, rounds = 3, topK = 4).collect()
    val pulled = graft.functions.Bpe.driverCollectedRows.get() - before
    assert(pulled == 3L,
      s"BPE pulled $pulled rows to the driver over 3 rounds (expected 3: " +
        "one argmax row per round — did someone collect the counts table?)")
  }

  test("BPE merge application closes boundary-sharing repeat chains") {
    // "aaaa" reprs as "a a a a"; a single boundary-anchored replace
    // pass leaves a straggler ("aa a a"), the extra passes close it
    val d = docs((1L, "aaaa aaaa"))
    val out = graft.functions.Bpe.train(d, rounds = 2, topK = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(out.filter(_._1 == 1).head == ((1, 1, "a a", 6L)))
    // round 2 must see "aa aa" (fully merged), not "aa a a"
    assert(out.filter(_._1 == 2).head == ((2, 1, "aa aa", 2L)))
  }

  test("dsirScores: target pool excluded; target-vocab overlap outscores") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "alpha beta", "t"),          // target
      (2L, "alpha beta gamma", "r"),    // shares the target vocab
      (3L, "delta epsilon", "r"))       // disjoint vocab
      .toDF("doc_id", "text", "grp")
    val out = Text.dsirScores(d, col("grp") === "t")
      .orderBy(col("score_x1000").desc, col("id")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L)) // doc 1 not scored
    assert(out.head.getLong(2) > out.last.getLong(2))
  }

  test("kmeansAssignments covers every vector; medoid is a real member") {
    val s = spark; import s.implicits._
    val e = (0L to 9L).map(i => (i, Array(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val asg = Similarity.kmeansAssignments(e, dim = 2, stride = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(asg.keySet == (0L to 9L).toSet)         // every vector, once
    assert(asg.values.toSet.subsetOf(Set(0L, 2L))) // clusters = seed ids
    val med = Similarity.diversityMedoids(e, dim = 2, stride = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(med.map(_._3).sum == 10L)               // counts partition the set
    med.foreach { case (cluster, medoid, _) =>
      assert(asg(medoid) == cluster, s"medoid $medoid not in cluster $cluster")
    }
  }

  test("WAV round-trip: real JDK codec recovers rate, count, exact energy") {
    val d = docs((3L, "x")) // id 3 -> 67 samples
    val out = Multimodal.decodeAudio(Multimodal.wavMediaTable(d)).head()
    assert(out.getInt(1) == 8000)
    assert(out.getInt(2) == 67)
    val expected = (0 until 67).map { k =>
      val s = (3 * 31 + k * 17) % 2048 - 1024; s.toLong * s
    }.sum
    assert(out.getLong(3) == expected)
  }

  test("WavDecoder reports a zero row for garbage payloads") {
    assert(Multimodal.WavDecoder.decode("not a wav".getBytes) ==
      Multimodal.AudioDecoded(0, 0, 0L))
  }

  test("linkagePairs: agreement weights, threshold, and block cap") {
    import graft.dedup.Linkage
    val s = spark; import s.implicits._
    val recs = Seq(
      (1L, 10L, "anna", "A"),
      (2L, 10L, "annb", "A"),    // lev 1 + same seg  -> 75
      (3L, 30L, "zzzzzz", "B"),  // alone in its block
      (10L, 20L, "bob", "A"), (11L, 20L, "bob", "A"), (12L, 20L, "bob", "A"))
      .toDF("id", "blk", "name", "seg")
    val ags = Seq(
      Linkage.Agreement("name", (l, r) => levenshtein(l, r) <= 1, 50),
      Linkage.Agreement("seg", (l, r) => l === r, 25))
    val pairs = Linkage.linkagePairs(recs, "id", Seq("blk"), ags, threshold = 75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs ==
      Set((1L, 2L, 75), (10L, 11L, 75), (10L, 12L, 75), (11L, 12L, 75)))
    // the skew guard drops the oversized block entirely, keeps the rest
    val capped = Linkage
      .linkagePairs(recs, "id", Seq("blk"), ags, 75, maxBlockSize = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
  }

  test("pageRank: hand-computed 2-iteration ranks on a path graph") {
    import graft.operators.Graph
    val s = spark; import s.implicits._
    // path 1—2—3: deg = (1, 2, 1); after two exact-integer iterations
    // r2(1) = r2(3) = 150000 + 850·(1850000 div 2) div 1000 = 936250
    // r2(2) = 150000 + 850·(575000 + 575000) div 1000     = 1127500
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Graph.pageRank(pairs, iters = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 936250L, 2L -> 1127500L, 3L -> 936250L))
  }

  test("collocations: hand-computed PMI with min support") {
    val d = docs((1L, "new york new york"), (2L, "aa bb aa bb"))
    // N=8 tokens, NB=6 bigrams; "new york" and "aa bb" each c12=2,
    // unigrams all 2 -> pmi = floor(1000·ln((2·8·8)/(6·2·2))) = 1673;
    // the singleton bigrams ("york new", "bb aa") miss minCount
    val r = Text.collocations(d, "doc_id", "text", minCount = 2)
      .orderBy("bigram").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(("aa bb", 2L, 1673L), ("new york", 2L, 1673L)))
  }

  test("nfc_normalize composes decomposed text; ASCII passes through") {
    val d = docs((1L, "cafe\u0301"), (2L, "plain"))  // decomposed e + U+0301
    // the native expression is registered in this session's extensions
    assert(spark.catalog.functionExists("nfc_normalize"))
    val out = d.select(Text.nfcNormalize(col("text")).as("n"))
      .orderBy("doc_id").collect().map(_.getString(0))
    assert(out(0) == "caf\u00e9")  // composed
    assert(out(1) == "plain")
  }

  test("native nfc_normalize matches java.text.Normalizer NFC (seeded)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(5)
    // ASCII, precomposed and decomposed Latin, combining marks in
    // non-canonical order, Hangul syllables and conjoining jamo
    val alphabet = Seq("a", "e", "Z", " ", "\u00e9", "\u00c5", "\u0301", "\u0308",
      "\u0327", "\u0323", "\u030a", "\uac00", "\ud55c", "\u1100", "\u1161",
      "\u11a8", "\u212b", "\u1e9b")
    val strs = Seq(None, Some(""), Some("plain ascii")) ++ (1 to 200).map(_ =>
      Some((1 to rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString))
    val got = strs.toDF("s").select(Text.nfcNormalize(col("s")))
      .collect().map(r => Option(r.getString(0))).toSeq
    val want = strs.map(_.map(java.text.Normalizer.normalize(_,
      java.text.Normalizer.Form.NFC)))
    assert(got == want)
  }

  test("AhoCorasick differential: agrees with naive substring search (seeded)") {
    import graft.plans.AhoCorasick
    // overlapping / nested / prefix-suffix patterns \u2014 the fail-link
    // edge cases (out-propagation along suffix links, root restarts)
    val tricky = AhoCorasick.build(Seq("ab", "abab", "bab", "aaa", "ba"))
    assert(tricky.containsAny("xxabxx"))
    assert(tricky.containsAny("aab"))      // 'aa' fails, suffix 'ab' hits
    assert(tricky.containsAny("xbax"))     // 'ba'
    assert(!tricky.containsAny("axaxa"))
    assert(!tricky.containsAny(""))
    // non-ASCII input bytes reset to root, never crash or false-match
    assert(tricky.containsAny("caf\u00e9 ab"))
    assert(!tricky.containsAny("caf\u00e9 a b"))
    // the FULL 128-char ASCII alphabet builds (round-10 advice: the
    // build's class cap must match the callers' per-char `< 128`
    // gate exactly, or an all-ASCII list passes the gate and throws
    // at first evaluation instead of falling back)
    val fullAscii = AhoCorasick.build((0 until 128).map(_.toChar.toString))
    assert(fullAscii.containsAny("anything"))
    assert(fullAscii.containsAny(" "))
    assert(!fullAscii.containsAny(""))
    // seeded differential vs patterns.exists(contains) on a tiny
    // alphabet (maximizes overlaps) \u2014 2000 random cases
    val rnd = new scala.util.Random(42)
    def randStr(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    (1 to 200).foreach { _ =>
      val pats = (1 to (1 + rnd.nextInt(6))).map(_ => randStr(1 + rnd.nextInt(5))).distinct
      val ac = AhoCorasick.build(pats)
      (1 to 10).foreach { _ =>
        val s = randStr(rnd.nextInt(30))
        val expect = pats.exists(s.contains(_))
        assert(ac.containsAny(s) == expect,
          s"divergence: patterns=$pats input=$s expect=$expect")
      }
    }
  }

  test("contains_any native path agrees with the regex fallback on the robot fixtures") {
    val s = spark; import s.implicits._
    import graft.filters.Robots
    assert(spark.catalog.functionExists("contains_any"))
    val pats = Robots.shippedUaPatterns
    val uas = Seq(
      "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
      "Mozilla/5.0 (Linux; Android 9; CUBOT NOTE 7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/90.0.4430.210 Mobile Safari/537.36",
      "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
      "curl/7.68.0", "Screaming Frog SEO Spider/16.7",
      "caf\u00e9-browser/1.0", // multi-byte input through the byte walk
      null)
    val df = uas.toDF("ua")
    // native engaged in THIS session (function registered): the plan
    // must carry the contains_any expression, not an rlike
    val nativeCol = Robots.isRobotUa(col("ua"), pats)
    val plan = df.select(nativeCol).queryExecution.executedPlan.toString
    assert(plan.contains("contains_any") || plan.contains("ContainsAny"),
      s"native path not engaged:\n$plan")
    val native = df.select(nativeCol.as("r")).collect().map(_.getBoolean(0))
    val fallback = df.select(coalesce(
        lower(col("ua")).rlike(
          pats.map(java.util.regex.Pattern.quote).mkString("|")),
        lit(false)).as("r"))
      .collect().map(_.getBoolean(0))
    assert(native.toSeq == fallback.toSeq,
      s"native/fallback divergence: ${native.toSeq} vs ${fallback.toSeq}")
    // and the naive driver-side truth
    val naive = uas.map(u =>
      u != null && pats.exists(u.toLowerCase.contains(_)))
    assert(native.toSeq == naive)
  }

  test("curation report: duplicating the corpus never grows the kept set") {
    // the dedup-invariance property the kp1 keystone exists to
    // provide: re-ingesting every document under fresh ids doubles
    // docs_in and docs_quality, but docs_kept and tok_kept are
    // UNCHANGED — the canonical pick absorbs the duplicates
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val offset = 1000000L
    val doubled = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + offset))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      graft.api.Curation.report(df).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val base = keyed(docs)
    val twice = keyed(doubled)
    assert(base.nonEmpty && twice.keySet == base.keySet)
    base.foreach { case (k, (in, q, kept, tok)) =>
      val (in2, q2, kept2, tok2) = twice(k)
      assert(in2 == 2 * in && q2 == 2 * q,
        s"$k: counts did not double (in $in->$in2, quality $q->$q2)")
      assert(kept2 == kept && tok2 == tok,
        s"$k: kept mass changed under duplication (kept $kept->$kept2, tok $tok->$tok2)")
    }
  }
}
