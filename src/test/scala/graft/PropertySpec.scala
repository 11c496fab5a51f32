package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.filters.Repeat
import graft.functions.Text
import graft.series.Series
import graft.sets.Sets

/** Property tests for the invariants SURVEY.md §5 calls out:
  * densification length, count conservation under regroup and
  * date-range partitioning, repeat-filter idempotence. */
class PropertySpec extends AnyFunSuite with SparkSpec {

  /** Drive a Gen by fixed seeds (no scalatest-scalacheck bridge in
    * the offline dependency set). */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
        .foreach(body)
    }

  private val seriesGen: Gen[List[(Int, Long)]] = for {
    n <- Gen.choose(1, 40)
    days <- Gen.listOfN(n, Gen.choose(0, 364))
    counts <- Gen.listOfN(n, Gen.choose(0L, 50L))
  } yield days.distinct.zip(counts)

  private def toDf(s: List[(Int, Long)]) = {
    val sp = spark; import sp.implicits._
    s.map { case (d, c) =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)), c)
    }.toDF("d", "cnt")
  }

  test("densify: length == calendar span, sum preserved, gaps are zero") {
    forAllSeeded(seriesGen) { s =>
      if (s.nonEmpty) {
        val df = toDf(s)
        val out = Series.densify(df).collect()
        val span = s.map(_._1).max - s.map(_._1).min + 1
        assert(out.length == span)
        assert(out.map(_.getLong(1)).sum == s.map(_._2).sum)
      }
    }
  }

  test("regroup day->month->year conserves the total") {
    forAllSeeded(seriesGen) { s =>
      if (s.nonEmpty) {
        val df = toDf(s)
        val m = Series.regroup(df, "month")
        val y = Series.regroup(m, "year")
        val total = s.map(_._2).sum
        assert(m.agg(sum("cnt")).head().getLong(0) == total)
        assert(y.agg(sum("cnt")).head().getLong(0) == total)
      }
    }
  }

  private val eventsGen: Gen[List[(Long, Long, Long)]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 4L)          // key
      t <- Gen.choose(0L, 20000L)      // sec
    } yield (k, t))
  } yield rows.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }

  test("leftAsOf matches the naive quadratic max-filter join") {
    forAllSeeded(eventsGen, n = 5) { rows =>
      val s = spark; import s.implicits._
      val (l, r) = rows.partition(_._3 % 2 == 0)
      if (l.nonEmpty && r.nonEmpty) {
        val left = l.toDF("k", "lt", "lid")
        val right = r.toDF("k", "rt", "rid")
        val got = graft.operators.AsOfJoin
          .leftAsOf(left, right, "k", "lt", "lid", "rt", "rid")
          .collect().map(x => x.getLong(1) ->
            (if (x.isNullAt(3)) None else Some(x.getLong(3)))).toMap
        // reference: latest rt <= lt; ties at rt -> max rid
        val want = l.map { case (k, lt, lid) =>
          val cand = r.filter(x => x._1 == k && x._2 <= lt)
          lid -> (if (cand.isEmpty) None
            else Some(cand.filter(_._2 == cand.map(_._2).max).map(_._3).max))
        }.toMap
        assert(got == want)
      }
    }
  }

  test("sessionize: per key, sessions = 1 + number of over-gap steps") {
    forAllSeeded(eventsGen, n = 5) { rows =>
      val s = spark; import s.implicits._
      val df = rows.toDF("user_id", "sec", "event_id")
      val out = Repeat.sessionize(df, Seq("user_id"), "sec", 1800L, "event_id")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sec"),
          r.getAs[Long]("session")))
      out.groupBy(_._1).foreach { case (k, xs) =>
        val secs = rows.filter(_._1 == k).map(_._2).sorted
        val gaps = secs.zip(secs.tail).count { case (a, b) => b - a > 1800L }
        assert(xs.map(_._3).max == 1L + gaps)
      }
    }
  }

  test("movingAverage: window sums bounded by periods, avg is floor(sum/width)") {
    forAllSeeded(seriesGen) { s =>
      if (s.nonEmpty) {
        val rows = Series.movingAverage(toDf(s).groupBy("d")
            .agg(sum("cnt").as("cnt")), periods = 3)
          .orderBy("d").collect()
        val cnts = rows.map(_.getAs[Long]("cnt"))
        rows.zipWithIndex.foreach { case (r, i) =>
          val width = math.min(i + 1, 3)
          val expect = cnts.slice(i - width + 1, i + 1).sum
          assert(r.getAs[Long]("mov_sum") == expect)
          assert(r.getAs[Long]("mov_avg") == expect / width)
        }
      }
    }
  }

  test("date-range partition sums equal the unpartitioned total") {
    forAllSeeded(seriesGen.flatMap(s => Gen.choose(1, 363).map((s, _)))) { case (s, split) =>
      if (s.nonEmpty) {
        val df = toDf(s)
        val cut = java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(split))
        val lo = df.filter(col("d") < cut).agg(coalesce(sum("cnt"), lit(0L)))
          .head().getLong(0)
        val hi = df.filter(col("d") >= cut).agg(coalesce(sum("cnt"), lit(0L)))
          .head().getLong(0)
        assert(lo + hi == s.map(_._2).sum)
      }
    }
  }

  private val clicksGen: Gen[List[Long]] =
    Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 20000L)))

  test("sequential repeat filter is idempotent and output gaps exceed timeout") {
    forAllSeeded(clicksGen) { secs =>
      if (secs.nonEmpty) {
        val sp = spark; import sp.implicits._
        val df = secs.zipWithIndex
          .map { case (s, i) => (1L, s, i.toLong) }.toDF("key", "sec", "tie")
        val once = Repeat.sequential(df, Seq("key"), "sec", 3600L, "tie")
        val twice = Repeat.sequential(once, Seq("key"), "sec", 3600L, "tie")
        val a = once.select("sec").collect().map(_.getLong(0)).sorted
        val b = twice.select("sec").collect().map(_.getLong(0)).sorted
        assert(a.toSeq == b.toSeq)              // idempotent
        a.sliding(2).foreach {                   // all kept gaps > timeout
          case Array(x, y) => assert(y - x > 3600L)
          case _ =>
        }
      }
    }
  }

  /** Hits over a few two-column keys, seconds on a coarse grid so a
    * key's chain has equal seconds (ties) and gaps on both sides of
    * the timeout. */
  private val chainsGen: Gen[List[(Int, Int, Long)]] =
    Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.choose(0, 2)
      b <- Gen.choose(0, 1)
      sec <- Gen.choose(0L, 12L)
    } yield (a, b, sec * 1000L)))

  test("sequential repeat filter: a one-partition input keeps the rows a repartitioned one does, with no exchange") {
    forAllSeeded(chainsGen) { hits =>
      val sp = spark; import sp.implicits._
      val df = hits.zipWithIndex.map { case ((a, b, sec), i) => (a, s"b$b", sec, i.toLong) }
        .toDF("ka", "kb", "sec", "tie")
      def kept(in: org.apache.spark.sql.DataFrame) =
        Repeat.sequential(in, Seq("ka", "kb"), "sec", 3600L, "tie")
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.select("ka", "kb", "sec", "tie").collect().map(_.toString).sorted.toSeq
      val one = kept(df.coalesce(1))
      assert(rows(one) == rows(kept(df.repartition(3))))
      val p = one.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"the one-partition plan shuffles:\n$p")
    }
  }

  test("saltedSum equals direct groupBy for arbitrary key/value data") {
    val gen = for {
      n <- Gen.choose(1, 60)
      keys <- Gen.listOfN(n, Gen.choose(0, 4))  // few keys = all hot
      vs <- Gen.listOfN(n, Gen.choose(-100L, 100L))
      salts <- Gen.choose(2, 9)
    } yield (keys.zip(vs), salts)
    forAllSeeded(gen, n = 8) { case (rows, nSalts) =>
      val s = spark; import s.implicits._
      val df = rows.map { case (k, v) => (s"k$k", v) }.toDF("key", "v")
      val direct = df.groupBy("key").agg(sum("v").as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val salted = graft.operators.Skew
        .saltedSum(df, Seq("key"), "v", "t", nSalts)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(salted == direct)
    }
  }

  test("chunkSpans: full coverage, in-bounds, correct overlap for any shape") {
    val gen = for {
      nTok <- Gen.choose(1, 200)
      size <- Gen.choose(2, 50)
      overlap <- Gen.choose(0, size - 1)
    } yield (nTok, size, overlap)
    forAllSeeded(gen, n = 15) { case (nTok, size, overlap) =>
      val s = spark; import s.implicits._
      val d = Seq((1L, (1 to nTok).map(i => s"t$i").mkString(" ")))
        .toDF("doc_id", "text")
      val spans = Text.chunkSpans(d, "doc_id", "text", size, overlap)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      // chunk ids are 0..n-1 contiguous
      assert(spans.map(_._1).toSeq == spans.indices.map(_.toLong))
      // every span in bounds, nonempty, at the right stride
      spans.foreach { case (k, start, len) =>
        assert(start == k * (size - overlap))
        assert(len >= 1 && len <= size && start + len <= nTok)
      }
      // last span reaches the end; union covers every position
      assert(spans.last._2 + spans.last._3 == nTok.toLong)
      val covered = spans.flatMap(sp => sp._2 until (sp._2 + sp._3)).toSet
      assert(covered == (0L until nTok.toLong).toSet)
    }
  }

  test("interpolate: known rows unchanged, filled rows between neighbors") {
    val gen = for {
      n <- Gen.choose(2, 15)
      days <- Gen.listOfN(n, Gen.choose(0, 60)).map(_.distinct).suchThat(_.size >= 2)
      vs <- Gen.listOfN(60, Gen.choose(0L, 1000L))
    } yield days.sorted.zip(vs)
    forAllSeeded(gen, n = 8) { rows =>
      val df = toDf(rows.map { case (d, v) => (d, v) })
        .withColumnRenamed("cnt", "v")
      val out = Series.interpolate(df, "d", "v").orderBy("d").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getInt(2)))
      val known = rows.map { case (d, v) =>
        java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString -> v
      }.toMap
      // calendar is contiguous over the observed extent
      assert(out.length ==
        (rows.map(_._1).max - rows.map(_._1).min + 1))
      out.foreach { case (d, v, flag) =>
        known.get(d) match {
          case Some(kv) => assert(flag == 0 && v == kv)
          case None =>
            assert(flag == 1)
            // filled values lie within [min, max] of the two neighbors
            val dd = java.time.LocalDate.parse(d).toEpochDay
            val (pd, pv) = rows.map { case (x, xv) =>
              (java.time.LocalDate.of(2024, 1, 1).plusDays(x).toEpochDay, xv)
            }.filter(_._1 < dd).maxBy(_._1)
            val (nd, nv) = rows.map { case (x, xv) =>
              (java.time.LocalDate.of(2024, 1, 1).plusDays(x).toEpochDay, xv)
            }.filter(_._1 > dd).minBy(_._1)
            assert(v >= math.min(pv, nv) && v <= math.max(pv, nv),
              s"$d: $v outside [$pv, $nv] (pd=$pd nd=$nd)")
        }
      }
    }
  }

  private val corpusGen: Gen[List[String]] = for {
    nDocs <- Gen.choose(2, 8)
    docs <- Gen.listOfN(nDocs, for {
      len <- Gen.choose(0, 25)
      toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c")) // tiny vocab: dups likely
    } yield toks.mkString(" "))
  } yield docs

  test("substringSpans == brute-force repeated-gram islands on random corpora") {
    val sp = spark; import sp.implicits._
    val n = 3
    forAllSeeded(corpusGen, n = 20) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // brute-force reference: mark every position whose n-gram occurs
      // >= 2 times corpus-wide, then merge consecutive positions
      val grams = docs.flatMap { case (id, t) =>
        val toks = t.split("\\s+").filter(_.nonEmpty)
        (0 to toks.length - n).map(p => (id, p, toks.slice(p, p + n).mkString(" ")))
      }
      val counts = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
      val expected = grams.filter(g => counts(g._3) >= 2)
        .groupBy(_._1).toSeq.flatMap { case (id, hs) =>
          val ps = hs.map(_._2).sorted
          val islands = ps.foldLeft(List.empty[List[Int]]) {
            case (acc @ (cur :: rest), p) if p == cur.head + 1 => (p :: cur) :: rest
            case (acc, p) => List(p) :: acc
          }.map(_.reverse).reverse
          islands.zipWithIndex.map { case (isl, k) =>
            (id, k + 1, isl.head.toLong, (isl.last + n - 1).toLong,
              (isl.last + n - isl.head).toLong)
          }
        }.sorted
      val got = graft.dedup.Dedup.substringSpans(
          docs.toDF("doc_id", "text"), n = n)
        .orderBy("doc_id", "span_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(got == expected, s"corpus: $texts")
    }
  }

  test("winnowing: shared runs of w+k-1 tokens always share a fingerprint") {
    val sp = spark; import sp.implicits._
    val k = 3; val w = 4
    // two docs with a planted common run of exactly w+k-1 tokens in
    // different random contexts — the MOSS guarantee says at least
    // one fingerprint hash must coincide
    val docGen = for {
      pre <- Gen.listOfN(6, Gen.oneOf("x", "y", "z"))
      post <- Gen.listOfN(6, Gen.oneOf("p", "q", "r"))
    } yield (pre, post)
    val shared = Seq("m1", "m2", "m3", "m4", "m5", "m6") // w + k - 1 = 6
    forAllSeeded(Gen.zip(docGen, docGen), n = 15) { case ((p1, s1), (p2, s2)) =>
      val docs = Seq(
        (0L, (p1 ++ shared ++ s1).mkString(" ")),
        (1L, (p2 ++ shared ++ s2).mkString(" ")))
      val fps = Text.winnowing(docs.toDF("doc_id", "text"), "doc_id", "text",
          k = k, w = w)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      val h0 = fps.filter(_._1 == 0L).map(_._2).toSet
      val h1 = fps.filter(_._1 == 1L).map(_._2).toSet
      assert(h0.intersect(h1).nonEmpty,
        s"planted 6-token overlap produced no shared fingerprint: $docs")
    }
  }

  test("cdcChunks: chunks tile the doc; boundaries survive a prefix insert") {
    val sp = spark; import sp.implicits._
    val tokGen = Gen.listOfN(40, Gen.oneOf("a", "b", "c", "d", "e"))
    forAllSeeded(Gen.zip(tokGen, Gen.listOfN(5, Gen.oneOf("u", "v"))), n = 10) {
      case (toks, prefix) =>
        def chunksOf(text: String, id: Long) =
          Text.cdcChunks(Seq((id, text)).toDF("doc_id", "text"),
              "doc_id", "text", mask = 3)
            .collect().map(r => (r.getInt(2).toLong, r.getLong(3))) // (start, n)
        val base = chunksOf(toks.mkString(" "), 0L)
        // tiling: starts + lengths cover 0..n-1 with no gaps
        val starts = base.map(_._1).sorted
        assert(starts.head == 0L && base.map(_._2).sum == toks.length)
        assert(starts.zip(base.sortBy(_._1)).forall { case (s, (s2, _)) => s == s2 })
        // content-defined: inserting a prefix shifts but does not
        // re-cut the tail (every original boundary past position 0
        // reappears shifted by the prefix length)
        val shifted = chunksOf((prefix ++ toks).mkString(" "), 1L)
          .map(_._1).filter(_ > prefix.length).map(_ - prefix.length).toSet
        val orig = base.map(_._1).filter(_ > 0).toSet
        assert(shifted == orig,
          s"CDC boundaries not insertion-stable: $orig vs $shifted")
    }
  }

  test("triangleCounts == brute-force enumeration on random graphs") {
    val sp = spark; import sp.implicits._
    // undirected (a < b), distinct, loop-free edges from raw pairs
    def undirected(es: Seq[(Long, Long)]): List[(Long, Long)] =
      es.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.toList
    // per-node counts by enumerating every node triple; checks the
    // engine's result on a non-empty graph and returns the expectation
    def check(edges: List[(Long, Long)]): Seq[(Long, Long)] = {
      val eset = edges.toSet
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val want = (for {
        u <- nodes; v <- nodes if v > u; w <- nodes if w > v
        if eset((u, v)) && eset((u, w)) && eset((v, w))
      } yield Seq(u, v, w)).flatten
        .groupBy(identity).map { case (n2, xs) => (n2, xs.size.toLong) }
        .toSeq.sorted
      if (edges.nonEmpty) {
        val got = graft.operators.Graph.triangleCounts(edges.toDF("a", "b"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        assert(got == want, s"edges: $edges")
      }
      want
    }
    val randomGen = for {
      n <- Gen.choose(4, 9)
      m <- Gen.choose(3, 18)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n.toLong - 1),
        Gen.choose(0L, n.toLong - 1)))
    } yield undirected(es)
    // hub 0 joins every spoke 1..n; chords between spokes (1-2 always)
    // close triangles through the hub, whose degree puts it last in
    // the (degree, id) orientation
    val hubGen = for {
      n <- Gen.choose(5, 12)
      m <- Gen.choose(1, 14)
      chords <- Gen.listOfN(m, Gen.zip(Gen.choose(1L, n.toLong),
        Gen.choose(1L, n.toLong)))
    } yield undirected((1L to n.toLong).map(v => (0L, v)) ++ ((1L, 2L) :: chords))
    // bipartite graphs (even ids to odd ids) have no odd cycles, so
    // no triangles
    val bipartiteGen = for {
      n <- Gen.choose(2, 8)
      m <- Gen.choose(1, 20)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
    } yield undirected(es.map { case (a, b) => (2 * a, 2 * b + 1) })
    forAllSeeded(randomGen, n = 15) { es => check(es); () }
    forAllSeeded(hubGen, n = 8)(es => assert(check(es).head._1 == 0L))
    forAllSeeded(bipartiteGen, n = 8)(es => assert(check(es).isEmpty))
    assert(check((1L to 10L).map(v => (0L, v)).toList).isEmpty) // a bare star
  }

  test("winnowing == brute-force window minima on random corpora") {
    val sp = spark; import sp.implicits._
    val k = 3; val w = 4
    def brute(text: String): Set[(Long, Long)] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val grams = (0 to toks.length - k)
        .map(p => toks.slice(p, p + k).mkString(" "))
      if (grams.length < w) Set.empty
      else (0 to grams.length - w).map { s =>
        (s until s + w).map { pos =>
          (Text.hash60Literal(grams(pos)) % 8796093022208L) * 1048576L +
            (1048575L - pos)
        }.min
      }.toSet[Long].map(fp => (1048575L - fp % 1048576L, fp / 1048576L))
    }
    forAllSeeded(corpusGen, n = 20) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val expected = docs.flatMap { case (id, t) =>
        brute(t).map { case (p, h) => (id, p, h) } }.sorted
      val got = Text.winnowing(docs.toDF("doc_id", "text"), "doc_id", "text",
          k = k, w = w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
      assert(got == expected, s"corpus: $texts")
    }
  }

  test("ewma == brute-force gap-aware weighted sums on random series") {
    val sp = spark; import sp.implicits._
    forAllSeeded(seriesGen, n = 15) { s =>
      val series = s.toMap
      val expected = s.map { case (d, _) =>
        val contrib = (0 to 7).flatMap { kk =>
          series.get(d - kk).map(c => (c * (1L << (7 - kk)), 1L << (7 - kk)))
        }
        (d, contrib.map(_._1).sum, contrib.map(_._2).sum)
      }.sortBy(_._1)
      val df = s.map { case (d, c) =>
        ("m", java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(d)), c)
      }.toDF("value", "date", "cnt")
      val got = graft.series.Stats.ewma(df, halfWindow = 7)
        .orderBy("date")
        .collect().map(r => (
          r.getDate(1).toLocalDate.toEpochDay -
            java.time.LocalDate.of(2024, 1, 1).toEpochDay,
          r.getLong(3), r.getLong(4)))
        .toSeq.map { case (d, n, den) => (d.toInt, n, den) }
      assert(got == expected, s"series: $s")
    }
  }

  test("containmentPairs == brute-force shingle containment on random corpora") {
    val sp = spark; import sp.implicits._
    forAllSeeded(corpusGen, n = 20) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def shingles(t: String): Set[String] = {
        val toks = t.split("\\s+").filter(_.nonEmpty)
        (0 to toks.length - 3).map(p => toks.slice(p, p + 3).mkString(" ")).toSet
      }
      val profs = docs.map { case (id, t) => id -> shingles(t) }
        .filter(_._2.nonEmpty)
      val expected = (for {
        (a, sa) <- profs; (b, sb) <- profs if a < b
        inter = sa.intersect(sb).size if inter > 0
        pm = 1000L * inter / math.min(sa.size, sb.size) if pm >= 700
      } yield (a, b, pm)).sorted
      val got = graft.dedup.Dedup.containmentPairs(
          docs.toDF("doc_id", "text"), thresholdPm = 700)
        .orderBy("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == expected, s"corpus: $texts")
    }
  }

  test("canonicalUrl: idempotent, tracking-free, and variant-collapsing on random URLs") {
    val sp = spark; import sp.implicits._
    val urlGen: Gen[String] = for {
      scheme <- Gen.oneOf("http", "https", "HTTPS", "Http")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("example.com", "Sub.Example.org", "data.net")
      port <- Gen.oneOf("", ":443", ":80", ":8080")
      path <- Gen.oneOf("", "/a", "/a/b", "/a/b/")
      track <- Gen.oneOf("", "utm_source=x", "fbclid=z", "gclid=1")
      real <- Gen.oneOf("", "id=5", "q=spark")
      frag <- Gen.oneOf("", "#sec")
      order <- Gen.oneOf(true, false)
    } yield {
      val params = (if (order) Seq(track, real) else Seq(real, track))
        .filter(_.nonEmpty)
      val q = if (params.isEmpty) "" else "?" + params.mkString("&")
      s"$scheme://$www$host$port$path$q$frag"
    }
    forAllSeeded(Gen.listOfN(40, urlGen), n = 5) { urls =>
      val df = urls.zipWithIndex.map { case (u, i) => (i, u) }.toDF("i", "u")
        .select(col("u"),
          graft.classify.Classify.canonicalUrl(col("u")).as("c1"))
        .select(col("u"), col("c1"),
          graft.classify.Classify.canonicalUrl(col("c1")).as("c2"))
      df.collect().foreach { r =>
        val (u, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
        assert(c1 == c2, s"not idempotent: $u -> $c1 -> $c2")
        assert(!c1.contains("utm_") && !c1.contains("fbclid") &&
          !c1.contains("gclid"), s"tracking survived: $u -> $c1")
        assert(!c1.contains("#"), s"fragment survived: $u -> $c1")
        assert(!c1.endsWith("?") && !c1.endsWith("&"),
          s"dangling separator: $u -> $c1")
      }
    }
  }

  // ================================================================
  // QueryCompiler differential test (round-8 verdict item 5): random
  // valid Contexts vs an INDEPENDENT naive interpreter of the
  // reference's decision table (ref `Table.pm:57-86` field/set
  // selection, `Handler.pm:313-371` predicates, `Handler.pm:439-536`
  // set/grouping joins). The interpreter is plain Scala collections —
  // no Spark — so a shared bug in the DataFrame plan can't hide.
  // ================================================================

  import graft.model.Context
  import graft.query.QueryCompiler
  import graft.query.QueryCompiler.{Catalog, SetDim}

  private case class FR(date: java.time.LocalDate, id: Long,
      value: String, count: Long)

  // deterministic fixture: 7 days x ids 1..9 x 3 values (sparse), a
  // multi-valued "author" set, a single-valued "division" set, a live
  // filter that drops ids 7..9, and a FAITHFUL lifetime MV (so A5
  // substitution must be semantically invisible)
  private val d0 = java.time.LocalDate.of(2024, 3, 1)
  private lazy val diffFact: Seq[FR] =
    for {
      day <- 0 until 7
      id <- 1L to 9L
      value <- Seq("downloads", "views", "other")
      if (day + id + value.length) % 3 != 0 // sparsity, deterministic
    } yield FR(d0.plusDays(day), id, value, (day * id + value.length) % 7 + 1)
  private lazy val diffSets: Map[String, Seq[(Long, String)]] = Map(
    // division: single-valued, ids 1..8 (9 unmapped)
    "division" -> (1L to 8L).map(i => i -> s"d${i % 3}"),
    // author: multi-valued (ids 2,4,6 have two authors), ids 1..7
    "author" -> ((1L to 7L).map(i => i -> s"a${i % 4}") ++
      Seq(2L -> "a9", 4L -> "a9", 6L -> "a9")))
  private lazy val diffLive: Set[Long] = (1L to 6L).toSet

  private lazy val diffCat: Catalog = {
    val s = spark; import s.implicits._
    val fact = diffFact.map(r =>
        (java.sql.Date.valueOf(r.date), r.id, r.value, r.count))
      .toDF("date", "id", "value", "count")
    val mv = fact.groupBy("id", "value").agg(sum("count").as("count"))
    Catalog(
      facts = Map("downloads" -> fact),
      sets = diffSets.map { case (k, v) =>
        k -> SetDim(v.toDF("id", "set_value"))
      },
      liveFilter = Some(diffLive.toSeq.toDF("id")),
      lifetime = Map("downloads" -> mv))
  }

  /** The dims the compiler will group by — mirrored for the generator
    * (to draw a valid orderBy) and the interpreter. */
  private def dimsOf(ctx: Context): Seq[String] = {
    val groupCols = ctx.setName match {
      case Some(set) if set != "eprint" =>
        if (ctx.grouping.isDefined) Seq("grouping_value")
        else if (ctx.setValue.isDefined) ctx.fields
        else Seq("set_value")
      case _ => ctx.fields
    }
    (if (groupCols.nonEmpty) groupCols else ctx.fields).distinct
  }

  /** Naive reference interpreter: decision-table semantics over plain
    * collections, ending in the compiler's pinned total order. */
  private def naiveEval(ctx: Context): Seq[(Seq[Any], Long)] = {
    var rows: Seq[Map[String, Any]] = diffFact.map(r => Map[String, Any](
      "date" -> r.date, "id" -> r.id, "value" -> r.value, "count" -> r.count))
    def date(m: Map[String, Any]) = m("date").asInstanceOf[java.time.LocalDate]
    (ctx.from, ctx.to) match {
      case (Some(f), Some(t)) if f == t => rows = rows.filter(date(_) == f)
      case (f, t) =>
        f.foreach(d => rows = rows.filter(m => !date(m).isBefore(d)))
        t.foreach(d => rows = rows.filter(m => !date(m).isAfter(d)))
    }
    ctx.datafilter.foreach(v => rows = rows.filter(_("value") == v))
    rows = rows.filter(m => diffLive(m("id").asInstanceOf[Long]))
    ctx.setName match {
      case Some(set) if set != "eprint" =>
        val dim = diffSets(set)
        ctx.grouping match {
          case Some(g) =>
            val dimIds = ctx.setValue
              .map(v => dim.filter(_._2 == v)).getOrElse(dim)
              .map(_._1).toSet
            val gdim = diffSets(g)
            rows = rows.filter(m => dimIds(m("id").asInstanceOf[Long]))
              .flatMap { m =>
                gdim.filter(_._1 == m("id")).map { case (_, gv) =>
                  m + ("grouping_value" -> gv)
                }
              }
          case None =>
            val d = ctx.setValue
              .map(v => dim.filter(_._2 == v)).getOrElse(dim)
            rows = rows.flatMap { m =>
              d.filter(_._1 == m("id")).map { case (_, sv) =>
                m + ("set_value" -> sv)
              }
            }
        }
      case _ =>
        ctx.setValue.foreach { v =>
          rows = scala.util.Try(v.toLong).toOption match {
            case Some(idv) => rows.filter(_("id") == idv)
            case None => Seq.empty
          }
        }
    }
    val dims = dimsOf(ctx)
    val grouped = rows.groupBy(m => dims.map(m(_)))
      .map { case (k, g) =>
        k -> g.map(_("count").asInstanceOf[Long]).sum
      }.toSeq
    // pinned total order: primary (count or a dim) then remaining dims asc
    def cmpVal(name: String, a: Any, b: Any): Int = name match {
      case "date" => a.asInstanceOf[java.time.LocalDate]
        .compareTo(b.asInstanceOf[java.time.LocalDate])
      case "id" => a.asInstanceOf[Long].compareTo(b.asInstanceOf[Long])
      case "count" => a.asInstanceOf[Long].compareTo(b.asInstanceOf[Long])
      case _ => a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
    }
    val primary = ctx.orderBy.getOrElse("count")
    val ties = dims.filterNot(_ == primary)
    val ordered = grouped.sortWith { case ((ka, ca), (kb, cb)) =>
      def dimVal(k: Seq[Any], n: String): Any = k(dims.indexOf(n))
      val p =
        if (primary == "count") ca.compareTo(cb)
        else cmpVal(primary, dimVal(ka, primary), dimVal(kb, primary))
      val lead = if (ctx.orderDesc) -p else p
      if (lead != 0) lead < 0
      else {
        val t = ties.iterator.map(n =>
          cmpVal(n, dimVal(ka, n), dimVal(kb, n))).find(_ != 0).getOrElse(0)
        t < 0
      }
    }
    val offsetted = ctx.offset.fold(ordered)(ordered.drop)
    ctx.limit.fold(offsetted)(offsetted.take)
  }

  private lazy val ctxGen: Gen[Context] = for {
    datafilter <- Gen.option(Gen.oneOf("downloads", "views", "absent"))
    setName <- Gen.frequency(
      3 -> Gen.const(None), 3 -> Gen.const(Some("division")),
      3 -> Gen.const(Some("author")), 1 -> Gen.const(Some("eprint")))
    setValue <- setName match {
      case Some("division") => Gen.option(Gen.oneOf("d0", "d1", "zz"))
      case Some("author") => Gen.option(Gen.oneOf("a1", "a9", "zz"))
      case _ => Gen.option(Gen.oneOf("3", "6", "999", "abc"))
    }
    grouping <- setName match {
      case Some("division") => Gen.option(Gen.const("author"))
      case Some("author") => Gen.option(Gen.const("division"))
      case _ => Gen.const(None)
    }
    from <- Gen.option(Gen.choose(0, 6).map(d0.plusDays(_)))
    to <- Gen.option(Gen.choose(0, 6).map(d0.plusDays(_)))
    fields <- Gen.oneOf(Seq("value"), Seq("id"), Seq("date"),
      Seq("id", "value"), Seq("date", "value"), Seq.empty)
    orderDesc <- Gen.oneOf(true, false)
    limit <- Gen.option(Gen.choose(1, 5))
    offset <- Gen.option(Gen.choose(0, 3))
    base = Context(datatype = "downloads", datafilter = datafilter,
      setName = setName, setValue = setValue, grouping = grouping,
      from = from, to = to, fields = fields, orderDesc = orderDesc,
      limit = limit, offset = offset)
    orderBy <- Gen.option(Gen.oneOf(dimsOf(base) :+ "count"))
  } yield base.copy(orderBy = orderBy)

  test("QueryCompiler == naive decision-table interpreter on random Contexts") {
    var cases = 0
    forAllSeeded(ctxGen, n = 130) { ctx =>
      cases += 1
      val dims = dimsOf(ctx)
      val got = QueryCompiler.compile(ctx, diffCat).collect().toSeq.map { r =>
        val key: Seq[Any] = dims.map { n =>
          r.get(r.fieldIndex(n)) match {
            case d: java.sql.Date => d.toLocalDate
            case x => x
          }
        }
        key -> r.getAs[Long]("count")
      }
      val want = naiveEval(ctx)
      assert(got == want,
        s"compiler diverged from interpreter for $ctx\n got: $got\nwant: $want")
    }
    assert(cases >= 100, s"generator produced only $cases cases")
  }

  test("QueryCompiler over stored files == the interpreter, on the single-partition and parallel paths") {
    // the fixture written through FactStore and LifetimeMv: a file
    // relation, so a compile whose pruned scan is at most
    // openCostInBytes reads it as one partition; with the threshold
    // below the table's bytes the same contexts plan in parallel
    val s = spark; import s.implicits._
    import graft.store.{FactStore, LifetimeMv}
    val dir = java.nio.file.Files.createTempDirectory("compilerfiles").toString
    FactStore.append(diffFact.map(r => (java.sql.Date.valueOf(r.date), r.id, r.value, r.count))
      .toDF("date", "id", "value", "count"), s"$dir/facts")
    LifetimeMv.update(spark, s"$dir/mv", s"$dir/facts")
    val cat = diffCat.copy(
      facts = Map("downloads" -> FactStore.read(spark, s"$dir/facts")),
      lifetime = Map("downloads" -> LifetimeMv.read(spark, s"$dir/mv").get))
    def check(single: Boolean): Unit = {
      var cases = 0
      forAllSeeded(ctxGen, n = 130) { ctx =>
        cases += 1
        val dims = dimsOf(ctx)
        val q = QueryCompiler.compile(ctx, cat)
        val got = q.collect().toSeq.map { r =>
          val key: Seq[Any] = dims.map { n =>
            r.get(r.fieldIndex(n)) match {
              case d: java.sql.Date => d.toLocalDate
              case x => x
            }
          }
          key -> r.getAs[Long]("count")
        }
        val onePart = q.queryExecution.analyzed.exists {
          case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.numPartitions == 1 && !r.shuffle
          case _ => false
        }
        // an inverted window prunes every file: 0 bytes is one partition on either path
        val empty = ctx.from.zip(ctx.to).exists { case (f, t) => f.isAfter(t) }
        assert(onePart == (single || empty), s"single=$single: one partition $onePart for $ctx")
        val want = naiveEval(ctx)
        assert(got == want, s"single=$single: compiler diverged from interpreter for $ctx\n got: $got\nwant: $want")
      }
      assert(cases >= 100, s"generator produced only $cases cases")
    }
    check(single = true)
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try check(single = false)
    finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  test("curate: funnel monotonicity and quota bounds on random corpora") {
    val sp = spark; import sp.implicits._
    def good(tag: String) =
      s"the corpus carries a $tag document and the tokens flow onward " +
        "with plain words that keep the quality gate satisfied along " +
        "this line of prose"
    val leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    val benchmark = Seq((999L, s"benchmark answer begins $leak and then " +
        "continues to the end of the item with more plain words", "sEval"))
      .toDF("doc_id", "text", "source")
    val corpusGen: Gen[List[(Int, String, Boolean, Boolean)]] = for {
      n <- Gen.choose(1, 25)
      tags <- Gen.listOfN(n, Gen.choose(0, 7))       // small pool -> dups
      srcs <- Gen.listOfN(n, Gen.oneOf("sA", "sB", "sC"))
      dirty <- Gen.listOfN(n, Gen.oneOf(true, false, false))
      tiny <- Gen.listOfN(n, Gen.oneOf(true, false, false, false))
    } yield tags.lazyZip(srcs).lazyZip(dirty).lazyZip(tiny).toList
    forAllSeeded(corpusGen, n = 6) { rows =>
      val cand = rows.zipWithIndex.map { case ((tag, src, dirty, tiny), i) =>
        val txt =
          if (tiny) "tiny text"
          else good(s"tag$tag") + (if (dirty) s" $leak" else "")
        (i.toLong, txt, src)
      }.toDF("doc_id", "text", "source")
      val out = graft.api.Curation.curate(cand, benchmark).collect()
      // the funnel can only narrow, and sampling respects both the
      // quota and the clean pool — for ANY corpus shape
      out.foreach { r =>
        val (in, q, kept, clean, target, sampled) = (r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
        assert(q <= in && kept <= q && clean <= kept && 0 <= clean,
          s"funnel not monotone: $r")
        assert(sampled <= clean && sampled <= target,
          s"sampled beyond quota or clean pool: $r")
      }
      assert(out.map(_.getLong(1)).sum == rows.length,
        "docs_in across sources != corpus size")
    }
  }

  /** The semi-naive closure loop `Sets.ancestorClosure` ran before it
    * walked the tree on the driver, kept as the oracle: one broadcast
    * join per round over the frontier, stopping when a round adds
    * nothing. Collected inside its scope, so every round is freed. */
  private def semiNaiveClosure(assignments: org.apache.spark.sql.DataFrame,
      tree: org.apache.spark.sql.DataFrame, maxDepth: Int,
      depositable: Option[org.apache.spark.sql.DataFrame],
      whitelist: Set[String]): Set[(String, Long)] =
    graft.store.Materialize.scope(spark, "PropertySpec.semiNaiveClosure") { m =>
      val t = broadcast(tree.select(col("child"), col("parent")).distinct())
      var acc = m("acc")(assignments.select("set_value", "id").distinct())
      var frontier = acc
      var depth = 0
      var growing = true
      while (growing && depth < maxDepth) {
        val parents = frontier
          .join(t, frontier("set_value") === t("child"))
          .select(col("parent").as("set_value"), col("id"))
          .distinct()
        val added = m("added")(parents.except(acc))
        if (added.isEmpty) growing = false
        else {
          acc = m("acc")(acc.unionByName(added).distinct())
          frontier = added
        }
        depth += 1
      }
      val out = depositable.fold(acc) { dep =>
        val d = broadcast(dep
          .select(col("subjectid"), col("depositable").cast("boolean").as("depositable"))
          .distinct())
        val whitelisted =
          if (whitelist.nonEmpty) col("subjectid").isin(whitelist.toSeq: _*)
          else lit(false)
        acc.join(d, acc("set_value") === d("subjectid"), "left")
          .filter(coalesce(col("depositable") || whitelisted, lit(false)))
          .select(acc("set_value"), acc("id"))
      }
      out.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }

  private final case class ClosureCase(
      edges: List[(Option[String], Option[String])],
      assignments: List[(Option[String], Long)],
      maxDepth: Int,
      depositable: Option[Map[String, Boolean]],
      whitelist: Set[String])

  /** Subjects s0..s9 form the tree; s10 and s11 are assigned but never
    * in it. A chain s0 -> s1 -> ... up to 8 long (longer than most
    * depths drawn), random extra edges (multi-parent DAGs, cycles,
    * self-loops), a null parent or child now and then. */
  private val closureGen: Gen[ClosureCase] = {
    val subject = Gen.choose(0, 9).map(i => s"s$i")
    val edge = for {
      c <- Gen.frequency(12 -> subject.map(Option(_)), 1 -> Gen.const(None))
      p <- Gen.frequency(10 -> subject.map(Option(_)), 2 -> Gen.const(None))
    } yield (c, p)
    for {
      chain <- Gen.choose(0, 8)
      nExtra <- Gen.choose(0, 8)
      extra <- Gen.listOfN(nExtra, edge)
      nAsn <- Gen.choose(1, 12)
      asn <- Gen.listOfN(nAsn, for {
        v <- Gen.frequency(10 -> Gen.choose(0, 11).map(i => Option(s"s$i")),
          1 -> Gen.const(None))
        id <- Gen.choose(1L, 5L)
      } yield (v, id))
      maxDepth <- Gen.oneOf(0, 1, 2, 3, 12)
      dep <- Gen.option(Gen.mapOf(Gen.zip(subject, Gen.oneOf(true, false))))
      white <- Gen.someOf((0 to 9).map(i => s"s$i"))
    } yield ClosureCase(
      (0 until chain).map(i => (Option(s"s$i"), Option(s"s${i + 1}"))).toList ++ extra,
      asn, maxDepth, dep, white.toSet)
  }

  test("ancestorClosure == the semi-naive join loop on random trees") {
    val sp = spark; import sp.implicits._
    var filtered = 0
    forAllSeeded(closureGen, n = 16) { c =>
      val tree = c.edges.toDF("child", "parent")
      val asn = c.assignments.toDF("set_value", "id")
      val dep = c.depositable.map(_.toSeq.toDF("subjectid", "depositable"))
      if (dep.nonEmpty) filtered += 1
      val want = semiNaiveClosure(asn, tree, c.maxDepth, dep, c.whitelist)
      val got = graft.store.Materialize.scope(spark, "PropertySpec.ancestorClosure") { _ =>
        Sets.ancestorClosure(asn, tree, c.maxDepth, dep, c.whitelist)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      }
      assert(got == want, s"closure diverged from the semi-naive loop for $c")
    }
    assert(filtered > 0, "no case exercised the depositable filter")
  }
}
