package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar functions for the training-data pipeline:
  * tokenization, quality scoring, language-ID, fingerprinting.
  *
  * Design rules:
  *  - everything is a Catalyst `Column` expression (codegen'd,
  *    whole-stage-compatible) — no Scala UDFs in the hot path; the
  *    hot scalars (`hash60`, `nfc_normalize`) are the native
  *    expressions [[graft.plans.GraftExtensions]] registers in every
  *    [[graft.GraftSession]];
  *  - scores are INTEGER (permille / x100) so results are exactly
  *    reproducible across engines (no float rounding drift);
  *  - hashes are md5-derived 60-bit longs (`hash60`) so an external
  *    SQL engine can reproduce them bit-for-bit (unlike murmur3
  *    variants, md5 is universally available).
  */
object Text {

  /** Deterministic 60-bit positive hash: first 15 hex chars of md5.
    * 60 bits keeps the value positive in a signed 64-bit long in any
    * engine. Computed by the fused native [[graft.plans.Hash60]]
    * expression (no hex-string round-trip). */
  def hash60(c: Column): Column = call_function("hash60", c)

  /** Same hash computed driver-side (for deterministic literal seeds
    * shared with external oracles). */
  def hash60Literal(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  /** 3-token shingle strings (HOF over the token array — cheap string
    * concat; hash AFTER exploding so md5 stays in codegen).
    * Documents under 3 tokens yield NO shingles (empty array) — the
    * unguarded `sequence(1, n-2)` DESCENDS through 0 when n < 3
    * (default step -1) and `slice(_, 0, _)` throws at runtime; the
    * oracle side (`generate_series(1, n-2)`) is empty there, so the
    * guard is also the parity-correct semantics. */
  def shingleStrings(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", slice(toks, i, lit(3)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Whitespace tokenization after lowercasing.
    *
    * DEFINED ARTIFACT: Spark's `split` emits an empty first token for
    * text with LEADING whitespace (" the" -> ["", "the"]) — the
    * DuckDB oracles replicate the identical split semantics, so every
    * token-count-derived permille is engine-exact WITH the artifact.
    * Changing it here without changing every oracle would break the
    * correctness gate; consumers that must not see empties filter
    * explicitly (e.g. dsirScores' `length(w) > 0`). */
  def tokens(text: Column): Column =
    split(lower(text), "\\s+")

  /** Distinct token set (for set-similarity ops). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alpha runs, digit runs, and isolated
    * non-space symbols each count as one token — a cheap, deterministic
    * proxy for byte-pair-encoding token counts. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** English stopword list (reference ships a 30-word builtin list for
    * search-term normalization, `SearchTerms.pm:14-40`; this is the
    * analog for quality scoring). */
  val stopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
    "to", "was", "were", "will", "with")

  /** Count of stopword occurrences among tokens. Token semantics
    * (maximal non-whitespace runs of the lowercased text, whole-token
    * match) expressed as ONE compiled regex with zero-width bounds —
    * equivalent to `filter(tokens(text), _.isin(stopwords))` but
    * codegen'd instead of an interpreted per-element HOF lambda. */
  def stopwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit(s"(?<=^|\\s)(?:${stopwords.mkString("|")})(?=\\s|$$)"), lit(0)))

  /** Exact integer division (Spark's `/` on longs returns double). */
  private def intDiv(a: Column, b: Column): Column =
    floor(a.cast("double") / b.cast("double")).cast("long")

  /** Stopword ratio in integer permille: (1000 * stop) div tokens. */
  def stopwordPermille(text: Column): Column =
    intDiv(stopwordCount(text) * 1000L, tokenCount(text))

  /** Mean token length x100, integer: (100 * sum(len)) div tokens. */
  def meanTokenLenX100(text: Column): Column = {
    val totalLen = aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t))
    intDiv(totalLen * 100L, tokenCount(text))
  }

  /** Symbol ratio in integer permille: non-alphanumeric, non-space
    * chars per 1000 chars of text (a Gopher-style quality signal —
    * high symbol density marks boilerplate/markup, not prose).
    * Empty text yields NULL — unguarded, the length-0 denominator
    * THREW under Spark 4 ANSI (double Divide), and NULL is what the
    * oracle's `//` by zero returns in DuckDB (parity). */
  def symbolPermille(text: Column): Column =
    when(length(text) === 0, lit(null).cast("long"))
      .otherwise(
        intDiv(length(regexp_replace(text, "[A-Za-z0-9\\s]", "")) * 1000L,
          length(text)))

  /** The four Gopher-style quality rules as ONE keep predicate —
    * t6's per-rule columns conjoined, shared by the batch (kp1) and
    * streaming (kp2) curation keystones so both pipelines gate on
    * the SAME definition. NULL-safe only through the caller's
    * `when(..., 1).otherwise(0)` fold: an empty text's NULL symbol
    * ratio must land in the ELSE branch, matching the oracle's CASE. */
  def gopherKeep(text: Column): Column =
    tokenCount(text).between(20, 90) &&
      meanTokenLenX100(text).between(400, 1000) &&
      stopwordCount(text) >= 2 &&
      symbolPermille(text) <= 100

  /** PII patterns — intentionally simple (RE2-compatible, no
    * lookaround) so the same pattern runs in any engine's regex
    * dialect; production swaps in the full pattern pack. */
  val emailPattern = "[a-z0-9.]+@[a-z0-9.]+"
  val phonePattern = "[0-9]{3}-[0-9]+"

  /** Count of email-shaped matches. */
  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0)))

  /** Count of phone-shaped matches. */
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(phonePattern), lit(0)))

  /** PII scrub: replace email/phone-shaped spans with typed tags.
    * Order matters — emails first, so the phone pass can't eat the
    * digits inside an address. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Deterministic train/val split assignment: hash the id with a
    * salt, take a percentile bucket. Reproducible across runs, engines
    * and partitionings (no rand()) — re-running the pipeline never
    * migrates a document across splits, and adding documents never
    * reshuffles existing ones (the property rand-based splits lack). */
  def splitAssign(id: Column, salt: String, trainPct: Int): Column =
    when(pmod(hash60(concat(id.cast("string"), lit("|" + salt))),
      lit(100L)) < trainPct, "train").otherwise("val")

  /** Deterministic per-id sampling rank: order ids by their salted
    * hash (ties impossible modulo md5 collisions). Taking rank <= n
    * per stratum gives a reproducible stratified sample. */
  def sampleRank(id: Column, salt: String): Column =
    hash60(concat(id.cast("string"), lit("|" + salt)))

  /** Marker-word lists for the n-gram/marker language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "les", "des", "est", "et"))

  /** Language-ID: argmax of marker-word hit counts; ties break to the
    * lexicographically-first language; zero hits ⇒ 'und'. Deterministic
    * and exactly reproducible in ANSI SQL. */
  def languageId(text: Column): Column = {
    val toks = tokens(text)
    // ONE traversal of the token array: all four marker counters fold
    // into a single packed long (16 bits per language) instead of four
    // filter passes that each allocate a filtered copy of the array.
    // Each field saturates at 0xFFFF — the increment is gated on the
    // field's current value — so a pathological document with >65535
    // hits for one language can never carry into the neighboring
    // field and flip the argmax (a saturated field is still the max).
    val packed = aggregate(toks, lit(0L), (acc, t) =>
      acc + langMarkers.zipWithIndex.map { case ((_, markers), i) =>
        when(t.isin(markers.map(lit(_)): _*) &&
            shiftright(acc, 16 * i).bitwiseAND(lit(0xFFFFL)) < lit(0xFFFFL),
          lit(1L << (16 * i))).otherwise(lit(0L))
      }.reduce(_ + _))
    val counts: Seq[(String, Column)] = langMarkers.zipWithIndex.map {
      case ((lang, _), i) =>
        (lang, shiftright(packed, 16 * i).bitwiseAND(lit(0xFFFFL)))
    }
    // argmax, keeping the earlier (lexicographically-first) language on ties
    val (l0, c0) = counts.head
    val (langCol, cntCol) = counts.tail.foldLeft((lit(l0), c0)) {
      case ((bl, bc), (lang, c)) =>
        (when(c > bc, lit(lang)).otherwise(bl), when(c > bc, c).otherwise(bc))
    }
    when(cntCol > 0, langCol).otherwise(lit("und"))
  }

  /** Document fingerprint: minimum 60-bit hash over the document's
    * 3-token shingles (w-shingling; the rolling-hash fingerprint of
    * the pipeline). Documents under 3 tokens hash the whole text. */
  def fingerprint(text: Column): Column = {
    // ONE shingle definition: [[shingleStrings]] (guarded there); the
    // n >= 3 branch is bit-identical to the previous inline copy
    val n = size(tokens(text))
    when(n >= 3, array_min(transform(shingleStrings(text), s => hash60(s))))
      .otherwise(hash60(lower(text)))
  }

  /** Gopher-style repetition signals, integer permille per document:
    *  - `dup_tok_pm`  = 1000·(n_tokens − n_distinct) div n_tokens
    *    (fraction of tokens that are repeats of an earlier token);
    *  - `top_bigram_pm` = 1000·max_bigram_count div (n_tokens − 1)
    *    (how much of the text the single most frequent bigram covers).
    * High values mark degenerate/templated text (keyword stuffing,
    * boilerplate loops) that per-token quality scores miss.
    *
    * Dataflow: ONE posexplode of the token stream feeds both signals —
    * unigram distinctness aggregates directly; bigrams come from a
    * per-doc `lead` window over token positions (codegen'd; the HOF
    * array-building alternative is interpreted per element and ~3x
    * slower at scale). Each path is a partial-agg-friendly groupBy on
    * (doc, gram) — the token stream shuffles once per path, already
    * combined map-side. Documents under 2 tokens are dropped (no
    * bigram denominator). */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .filter(tokenCount(col(textCol)) >= 2)
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val uni = toks.groupBy(idCol)
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("tok")).as("n_dist"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val bigramMax = toks
      .withColumn("nxt", lead("tok", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col(idCol), concat_ws(" ", col("tok"), col("nxt")).as("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max("c").as("max_bg"))
    uni.join(bigramMax, idCol)
      .select(col(idCol),
        intDiv((col("n_tok") - col("n_dist")) * 1000L, col("n_tok"))
          .as("dup_tok_pm"),
        intDiv(col("max_bg") * 1000L, col("n_tok") - 1).as("top_bigram_pm"))
  }

  /** Overlapping fixed-size token chunking (the RAG / long-document
    * training chunker): chunk k of a document covers token positions
    * [k·stride, k·stride + size) where stride = size − overlap; the
    * last chunk is the partial tail. Pure arithmetic on the token
    * COUNT — no token rows materialize, just an exploded `sequence`
    * of chunk indices per document, so the operator's cost is
    * O(chunks), not O(tokens), and it parallelizes per document with
    * no shuffle at all. Returns (id, chunk_id, start_pos, n_tok).
    * Slicing the actual text is `slice(tokens, start+1, n_tok)` when
    * the consumer wants payloads; spans keep the planning pass cheap. */
  def chunkSpans(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, size: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val stride = size - overlap
    val n = tokenCount(col(textCol)).cast("long")
    // ceil((n - size) / stride) + 1 for n > size, else 1
    val nch = when(n <= size, lit(1L))
      .otherwise(intDiv(n - size + (stride - 1), lit(stride)) + 1L)
    df.select(col(idCol), n.as("n"),
        explode(sequence(lit(0L), nch - 1L)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride).as("start_pos"),
        least(lit(size.toLong), col("n") - col("chunk_id") * stride).as("n_tok"))
  }

  /** Okapi BM25 ranking of documents against a bag of query terms
    * (k1 = 1.2, b = 0.75), arranged so every cross-engine-compared
    * value is an INTEGER:
    *  - idf is floored to thousandths once per term:
    *    `idf_x1000 = floor(1000 * ln((N - df + 0.5)/(df + 0.5) + 1))`
    *    (the only float op; one value per query term);
    *  - the tf saturation term is multiplied through by `20 * A`
    *    where `A = Σdl div N` (the average doc length FLOORED to a
    *    whole token — the one deliberate approximation, identical in
    *    both engines), so it is a ratio of exact longs:
    *    `tf*(k1+1) / (tf + k1*(1 - b + b*dl/A))`
    *    = `44*A*tf / (20*A*tf + 6*A + 18*dl)`;
    *  - the per-(doc, term) score is an integer division of the two,
    *    so the per-doc SUM over terms commutes — engine-exact no
    *    matter the shuffle order (a double sum would not be).
    *
    * Overflow bound: corpus size cancels out of the products — the
    * largest intermediate is `idf_x1000 * 44 * A * tf`, bounded by
    * `1000*ln(N+1) * 44 * maxdl²` (idf grows only logarithmically
    * with N). At N = 1e13 docs that stays under 2^63 for documents up
    * to ~1e6 tokens; the earlier `44*Σdl*tf` form overflowed silently
    * once Σdl (total corpus tokens) reached ~1e13 — exactly the
    * 100 TB design point.
    *
    * Scale posture: doc lengths are one map-only projection; the
    * token stream is filtered to the query terms BEFORE the (doc,
    * term) aggregate, so tf rows ∝ matches, not corpus tokens; df and
    * the corpus totals are tiny aggregates broadcast back; the final
    * top-k is TakeOrderedAndProject. One shuffle on doc id end to
    * end. Returns the top-`k` docs: (doc_id, rank, score). */
  def bm25(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String],
      k: Int = 10): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tokens() lowercases the corpus side, so an uppercase query term
    // could never match anything — normalize (and dedupe: scoring
    // sums per DISTINCT term) instead of failing silently
    val terms = array(queryTerms.map(_.toLowerCase).distinct.map(lit): _*)
    val dl = df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .select(col("n_docs"), expr("sum_dl div n_docs").as("avgdl"))
    val tf = df.select(col(idCol),
        explode(filter(tokens(col(textCol)), t => array_contains(terms, t)))
          .as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = floor(lit(1000.0) *
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .cast("long")
    val num = lit(44L) * col("avgdl") * col("tf")
    val den = lit(20L) * col("avgdl") * col("tf") +
      lit(6L) * col("avgdl") + lit(18L) * col("dl")
    tf.join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(totals))
      .select(col(idCol), (idf * num).as("sa"), den.as("sb"))
      .select(col(idCol), expr("sa div sb").as("s"))
      .groupBy(idCol).agg(sum("s").as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
      // constant-but-unfoldable partition key: the window sees only
      // the k post-limit rows, but an empty partitionSpec makes
      // WindowExec warn on every run (and `lit(0)` folds away) — see
      // [[graft.operators.GlobalRank.onePartitionKey]]
      .withColumn("rank", row_number().over(
        Window.partitionBy(graft.operators.GlobalRank.onePartitionKey(col("score")))
          .orderBy(col("score").desc, col(idCol))))
      .select(col(idCol), col("rank"), col("score"))
  }

  /** Corpus-trained bigram-LM scoring (the CCNet/KenLM-style
    * perplexity quality filter, self-contained): every document's
    * average negative log-likelihood under an add-one-smoothed bigram
    * model trained on the corpus itself —
    * `p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)`.
    * High nll = tokens in combinations the corpus never sees
    * (gibberish, boilerplate soup); low = fluent under the corpus
    * distribution.
    *
    * Engine-exactness, as in [[bm25]]: each bigram's log-prob is
    * floored to thousandths of a nat ONCE (the only float op), so the
    * per-doc SUM of longs commutes under any shuffle order, and the
    * average is an integer division.
    *
    * Scale posture: the bigram and unigram count tables are
    * vocabulary-sized (≪ corpus; broadcastable when the vocab is
    * bounded, hash-join co-partitioned on the gram otherwise); the
    * token stream shuffles once per count table and once for the
    * per-doc aggregate. Returns (id, n_bigrams, nll_x1000) per
    * document with ≥ 2 tokens. */
  def bigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("pos")
    val toks = df.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "w1")))
    val bg = toks.withColumn("w2", lead("w1", 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("w1"),
        concat_ws(" ", col("w1"), col("w2")).as("b"))
    val uni = toks.groupBy(col("w1").as("w")).agg(count(lit(1)).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val cb = bg.groupBy("b").agg(count(lit(1)).as("cb"))
    bg.join(cb, "b")
      .join(uni, col("w1") === col("w"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        floor(lit(1000.0) * log((col("cb") + lit(1.0)) / (col("cu") + col("v"))))
          .cast("long").as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("slp"))
      .select(col(idCol), col("n_bigrams"),
        expr("(-slp) div n_bigrams").as("nll_x1000"))
  }

  /** Unicode NFC normalization of a column: the native codegen'd
    * [[graft.plans.NfcNormalize]] expression. */
  def nfcNormalize(c: Column): Column = call_function("nfc_normalize", c)

  /** DSIR-style importance scoring (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document in the raw pool by how target-like its token
    * distribution is — the log importance weight
    * `sum_w log( p_target(w) / p_raw(w) )` under add-one-smoothed
    * unigram bag models estimated from the corpus itself (DSIR uses
    * hashed n-grams; whitespace unigrams are the same estimator over
    * this corpus's closed vocabulary).
    *
    * Engine-exactness, as in [[bigramNll]]: each word TYPE's
    * log-ratio is floored to thousandths of a nat once, in the single
    * combined form `log(((ct+1)·(Nr+V)) / ((cr+1)·(Nt+V)))`; per-doc
    * scores are then SUMs of longs over token occurrences, commuting
    * under any shuffle order. The products stay within double range
    * while corpus token counts are < 2^52 — at 100 TB scale the
    * operands are cast to double BEFORE multiplying (both factors
    * ≤ 2^53, product exact enough for a floored ratio log, unlike a
    * silent long overflow).
    *
    * Scale posture: one tokenize pass feeds BOTH count models (the
    * target indicator rides each token row, so target and raw counts
    * are conditional aggregates of the same shuffle); the weight
    * table is vocabulary-sized and joins back onto the token stream
    * by word (broadcastable for bounded vocabularies). Returns
    * (id, n_tok, score_x1000) for every NON-target document. */
  def dsirScores(df: org.apache.spark.sql.DataFrame, targetPred: Column,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"), targetPred.as("is_t"),
      explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val counts = toks.groupBy("w").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    val totals = counts.agg(sum("cr").as("nr"), sum("ct").as("nt"),
      count(lit(1)).as("v"))
    val weights = counts.crossJoin(broadcast(totals))
      .select(col("w"),
        floor(lit(1000.0) * log(
          ((col("ct") + 1).cast("double") * (col("nr") + col("v")).cast("double")) /
          ((col("cr") + 1).cast("double") * (col("nt") + col("v")).cast("double"))))
          .cast("long").as("lw"))
    toks.filter(!col("is_t"))
      .join(weights, "w")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tok"), sum("lw").as("score_x1000"))
  }

  /** Collocation extraction: adjacent-bigram pointwise mutual
    * information (Church & Hanks, "Word Association Norms, Mutual
    * Information, and Lexicography", CL 1990) —
    * `PMI = ln( p(w1 w2) / (p(w1)·p(w2)) )` with bigram probability
    * over the bigram total and unigram probabilities over the token
    * total. High-PMI pairs are the corpus's multi-word units — the
    * phrase vocabulary a tokenizer or quality filter wants.
    *
    * Engine-exactness via the [[bigramNll]] pattern: one floored
    * `1000·ln(·)` per bigram TYPE; counts are cast to double BEFORE
    * the products (the same 2^53-safe form as [[dsirScores]] — at
    * corpus scale `c12·N²` overflows a long silently). `minCount`
    * keeps rare-pair noise out (PMI's known failure mode). Returns
    * (bigram, c12, pmi_x1000). */
  def collocations(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minCount: Long = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("pos")
    val toks = df.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "w1")))
    val bg = toks.withColumn("w2", lead("w1", 1).over(w))
      .filter(col("w2").isNotNull)
    val uni = toks.groupBy(col("w1").as("w")).agg(count(lit(1)).as("cu"))
    val totals = uni.agg(sum("cu").as("n"))
    val nb = bg.agg(count(lit(1)).as("nb"))
    bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(nb))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"), col("c12"),
        floor(lit(1000.0) * log(
          (col("c12").cast("double") * col("n").cast("double") * col("n").cast("double")) /
          (col("nb").cast("double") * col("c1").cast("double") * col("c2").cast("double"))))
          .cast("long").as("pmi_x1000"))
  }

  /** Deterministic Poisson(1) bootstrap weight for (row, replicate):
    * the salted hash's uniform millionths inverted through the
    * Poisson CDF (thresholds floored to millionths — literal in both
    * engines, so replicate weights are engine-exact and rerun-stable).
    * Poisson bootstrap (Chamandy et al., Google 2012) resamples by
    * WEIGHTING rows instead of drawing n with replacement — no data
    * movement, no global count needed, embarrassingly parallel: the
    * only way to bootstrap a 100 TB table. Tail truncated at 6 copies
    * (P ≈ 1e-4 at λ=1, absorbed into the k=6 bucket). */
  def poissonWeight(id: Column, replicate: Column, salt: String): Column = {
    val u = hash60(concat(lit(salt), lit(":"), id.cast("string"),
      lit(":"), replicate.cast("string"))) % 1000000L
    when(u < 367879L, 0L).when(u < 735758L, 1L).when(u < 919698L, 2L)
      .when(u < 981011L, 3L).when(u < 996340L, 4L).when(u < 999405L, 5L)
      .otherwise(6L)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide
    * a w-gram window, keep the window's minimal hash with RIGHTMOST
    * tie-break, dedup. Guarantees every match of length w+k-1 tokens
    * shares a fingerprint, at ~2/(w+1) selection density.
    *
    * Engine-exact form: gram hash and position are PACKED into one
    * long — `(hash60 mod 2^43) * 2^20 + (2^20-1 - pos)` — so the
    * window `min` resolves both the minimal hash AND the rightmost
    * position in a single integer comparison any engine orders
    * identically (a struct/argmin tie-break is engine-defined).
    * Bounds: 43-bit fingerprint space, docs up to 2^20 grams.
    *
    * Scale posture: one shuffle (gram explode partitions by doc for
    * the window); selection density caps output at ~2n/(w+1) rows;
    * no joins. Returns (id, fp_pos, fp_hash). */
  def winnowing(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Grams are assembled CODEGEN'D from exploded tokens + lead
    // windows (the [[graft.dedup.Dedup.shingleHashes]] pattern), not
    // in a transform() lambda. Two earlier forms measured at sf0.1:
    // a lambda gram build with a sibling `ng = size(grams)` column
    // ran 188 s — the ng projection lands ABOVE the Generate and
    // re-runs split+transform+slice per exploded row, O(n²) string
    // work per document — and the lambda build alone ~3x interpreted
    // overhead. This form: 1 shuffle, everything whole-stage.
    // "Window is full" is read from the window itself (lead(pos,
    // w−1) exists ⟺ pos ≤ ng − w); all specs share one sort.
    val wKey = Window.partitionBy(idCol).orderBy("pos")
    val leads = (1 until k).map(i => lead("tok", i).over(wKey).as(s"__t$i"))
    val gramParts = col("tok") +: (1 until k).map(i => col(s"__t$i"))
    val g = df
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col(idCol) +: col("pos") +: col("tok") +: leads: _*)
      .filter(col(s"__t${k - 1}").isNotNull)
      .select(col(idCol), col("pos"),
        ((hash60(concat_ws(" ", gramParts: _*))
            % lit(8796093022208L)) * lit(1048576L)
          + (lit(1048575L) - col("pos"))).as("key"))
    val wSpec = Window.partitionBy(idCol).orderBy("pos").rowsBetween(0, w - 1)
    g.withColumn("fp", min("key").over(wSpec))
      // full windows only: the canonical algorithm emits n-w+1 windows
      .withColumn("__full", lead(col("pos"), w - 1).over(wKey))
      .filter(col("__full").isNotNull)
      .select(col(idCol),
        (lit(1048575L) - col("fp") % lit(1048576L)).as("fp_pos"),
        // exact long division — intDiv's double path loses the low
        // bits above 2^53, and the packed key is ~2^60
        expr("fp div 1048576").as("fp_hash"))
      .distinct()
  }

  /** Content-defined chunking: a chunk boundary falls BEFORE token
    * `pos` whenever the rolling 2-token hash ends in `log2(mask+1)`
    * zero bits (`hash mod (mask+1) == 0`) — the Rabin-style CDC cut
    * rule, giving expected chunk length mask+1 tokens. Boundaries
    * depend only on local content, so an insertion early in a
    * document shifts at most one chunk — the property that makes CDC
    * the dedup-friendly chunking at storage scale (vs fixed-size
    * chunks, where one inserted token re-chunks the whole tail).
    *
    * Production variants add min/max chunk clamps; those make the cut
    * sequential per doc, so this operator keeps the pure local rule
    * (both windows — the lag and the running boundary count — stack
    * on ONE doc-key shuffle). Returns (id, chunk_no, start_pos, n_tok). */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, mask: Int = 15): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("pos")
    df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("__prev", lag("tok", 1).over(w))
      .withColumn("boundary",
        when(col("pos") > 0 &&
            hash60(concat_ws(" ", col("__prev"), col("tok")))
              % lit(mask + 1L) === 0L, 1L)
          .otherwise(0L))
      .withColumn("chunk_no",
        sum("boundary").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("chunk_no"))
      .agg(min("pos").as("start_pos"), count(lit(1)).as("n_tok"))
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * packs. Deterministic next-fit by id order WITHIN each shard: a
    * document's pack is its starting token offset div `budget`
    * (documents may straddle a boundary — the standard
    * pack-then-truncate trade-off, chosen because it is a pure
    * prefix-sum: one window over (shard, id), no sequential state).
    * Sharding is what scales it — each shard's packing is independent,
    * so the window shuffle partitions by shard instead of forcing a
    * single global ordering (a global pack order at 100 TB would
    * serialize on one task). Returns one row per document:
    * (shard, id, n_tok, pack_id). */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, shardCol: String, budget: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(shardCol), col(idCol),
        tokenCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("pack_id", intDiv(col("cum") - col("n_tok"), lit(budget)))
      .drop("cum")
  }
}
