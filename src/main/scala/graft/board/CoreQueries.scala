package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.model.Context
import graft.processors.Processors
import graft.query.QueryCompiler
import graft.query.QueryCompiler.Catalog
import graft.series.Series

import Shared._

/** Core board queries, each declared with its DuckDB oracle: the
  * reference's query-compiler, join, window and time-series shapes
  * over the events fact and the TPC-H tables, plus the kp curation
  * keystones and their fixtures. */
private[graft] object CoreQueries {

  /** kp2 novel-key fixture: id offset for the cloned copy of every
    * document (far above any real doc_id at every tested scale, so
    * ids stay unique) and the snapshot's doc_id cutoff — keys whose
    * every copy sits at or above the cutoff are NOVEL (absent from
    * the owner index), and the clone gives each exactly two
    * surviving copies: the case separating self-elect (kp2_novel)
    * from exact-once (kp2b) election semantics. */
  private val NovelCloneOffset = 1000000L
  private val NovelSnapshotCutoff = 250L

  /** Build the novel-key fixture ONCE per (JVM, sfDir): the backlog
    * is written as TWO single-file parquet drops (originals first,
    * clones second) so `maxFilesPerTrigger = 1` splits each novel
    * key's copies across micro-batches and the exact-once ledger's
    * cross-batch path is genuinely exercised; the index snapshot is
    * the sub-cutoff originals. Returns (backlogPath, indexPath). */
  private def novelFixture(s: SparkSession, sfDir: String): (String, String) = {
    val dir = fixtureDir("kp2novel", sfDir) { dir =>
      val docs = Tables.documents(s, sfDir)
      docs.coalesce(1).write.mode("append").parquet(s"$dir/backlog")
      docs.withColumn("doc_id", col("doc_id") + NovelCloneOffset)
        .coalesce(1).write.mode("append").parquet(s"$dir/backlog")
      docs.filter(col("doc_id") < NovelSnapshotCutoff)
        .write.parquet(s"$dir/index")
    }
    (s"$dir/backlog", s"$dir/index")
  }

  /** The kp3/kp4 fixture corpus: the cloned backlog with t7's
    * deterministic PII injection — every content key duplicated (the
    * dedup stage does real work), every text carrying scrubbed-away
    * PII (the scrub stage does real work), clones exact duplicates
    * post-scrub (the id-specific suffix scrubs to a common tag). */
  private def injectedCloneBacklog(s: SparkSession, sfDir: String): DataFrame = {
    val docs0 = Tables.documents(s, sfDir).select("source", "doc_id", "text")
    docs0.unionByName(
        docs0.withColumn("doc_id", col("doc_id") + NovelCloneOffset))
      .withColumn("text",
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com or call 555-"),
          pmod(col("doc_id"), lit(10000)).cast("string")))
  }

  /** kp4's on-disk form of [[injectedCloneBacklog]], split into
    * candidate and benchmark directories ONCE per (JVM, sfDir) so the
    * continuous run streams exactly kp3's fixture. Returns
    * (candidatesPath, benchmarkPath). */
  private def curateFixture(s: SparkSession, sfDir: String): (String, String) = {
    val dir = fixtureDir("kp4curate", sfDir) { dir =>
      val injected = injectedCloneBacklog(s, sfDir)
      injected.filter(col("source") =!= "src1").write.parquet(s"$dir/cand")
      injected.filter(col("source") === "src1").write.parquet(s"$dir/bench")
    }
    (s"$dir/cand", s"$dir/bench")
  }

  /** Monetary-exact sum: double → decimal(18,2) → sum → double.  */
  private def moneySum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast("decimal(18,2)")).cast("double")

  /** The curation scoring CTEs (t, q) over an arbitrary FROM source:
    * t3's lang CASE, t6's four quality rules, d1's content key — the
    * DuckDB mirror of [[graft.api.Curation.scored]], parameterized so
    * the kp1/kp2 replay oracle (FROM documents) and the kp2 novel-key
    * fixtures (FROM a cloned backlog) share one scoring definition. */
  private def curationScoreCtes(fromSql: String): String = {
    val cases = Text.langMarkers.map { case (lang, m) =>
      (lang, markerFilter(m))
    }
    s"""t AS (
       |  SELECT source, doc_id, text,
       |         string_split(lower(text), ' ') AS toks
       |  FROM $fromSql),
       |q AS (SELECT source, doc_id,
       |  CASE
       |    WHEN greatest(${cases.map(_._2).mkString(",")}) = 0 THEN 'und'
       |    WHEN ${cases(0)._2} >= ${cases(1)._2} AND ${cases(0)._2} >= ${cases(2)._2}
       |         AND ${cases(0)._2} >= ${cases(3)._2} THEN '${cases(0)._1}'
       |    WHEN ${cases(1)._2} >= ${cases(2)._2} AND ${cases(1)._2} >= ${cases(3)._2}
       |         THEN '${cases(1)._1}'
       |    WHEN ${cases(2)._2} >= ${cases(3)._2} THEN '${cases(2)._1}'
       |    ELSE '${cases(3)._1}' END AS lang_pred,
       |  CAST(len(toks) AS BIGINT) AS n_tok,
       |  CASE WHEN len(toks) BETWEEN 20 AND 90
       |    AND ((100 * list_sum(list_transform(toks, x -> length(x)))) // len(toks))
       |      BETWEEN 400 AND 1000
       |    AND len(list_filter(toks, x -> x IN ($stopList))) >= 2
       |    AND ((1000 * length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')))
       |      // length(text)) <= 100
       |    THEN 1 ELSE 0 END AS keep,
       |  md5(lower(text)) AS key
       | FROM t)""".stripMargin
  }

  /** The per-(source, lang) accounting tail over a flagged CTE `f`
    * carrying (source, lang_pred, n_tok, keep, canon) — the DuckDB
    * mirror of [[graft.api.Curation.accounting]], shared by every
    * curation oracle so the aggregate list cannot drift between rows. */
  private val curationAccountingSql: String =
    """SELECT source, lang_pred,
      |  COUNT(*) AS docs_in,
      |  CAST(SUM(keep) AS BIGINT) AS docs_quality,
      |  CAST(SUM(canon) AS BIGINT) AS docs_kept,
      |  CAST(SUM(n_tok * canon) AS BIGINT) AS tok_kept,
      |  CAST((1000 * SUM(canon)) // COUNT(*) AS BIGINT) AS keep_pm
      |FROM f GROUP BY 1, 2 ORDER BY source, lang_pred""".stripMargin

  /** The curation keystone's oracle, shared by kp1 (batch) and kp2
    * (streaming replay): t3's lang CASE, t6's four quality rules,
    * d1's min-id canonical pick AMONG quality survivors (PARTITION BY
    * key, keep — matching the batch window and the streaming owner
    * filter), t29's accounting shape. */
  private lazy val curationOracleSql: String =
    s"""WITH ${curationScoreCtes("documents")},
       |f AS (SELECT *,
       |  CASE WHEN keep = 1 AND ROW_NUMBER()
       |    OVER (PARTITION BY key, keep ORDER BY doc_id) = 1
       |    THEN 1 ELSE 0 END AS canon
       | FROM q)
       |$curationAccountingSql""".stripMargin

  /** The kp2 novel-key fixture backlog as DuckDB SQL: every document
    * plus an id-offset clone — so every content key carries exactly
    * two copies, and keys absent from the snapshot (doc_id >=
    * [[NovelSnapshotCutoff]]) are DUPLICATED NOVEL content, the case
    * that separates self-elect from exact-once election semantics. */
  private val novelBacklogSql: String =
    s"""(SELECT source, doc_id, text FROM documents
       | UNION ALL
       | SELECT source, doc_id + $NovelCloneOffset AS doc_id, text
       | FROM documents) AS b""".stripMargin

  /** Snapshot-owner CTE for the novel fixtures: min-id quality
    * survivor per key among snapshot rows only. */
  private val novelOwnersCte: String =
    s"""own AS (SELECT key, MIN(doc_id) AS owner_id FROM q
       | WHERE keep = 1 AND doc_id < $NovelSnapshotCutoff GROUP BY key)""".stripMargin

  /** kp2_novel_dedup: the SELF-ELECT semantics of the default
    * snapshot-mode stream pinned cross-engine — every surviving copy
    * of a novel key (no snapshot owner) counts kept, so the fixture's
    * duplicated novel keys each contribute TWO canon rows. This row
    * pins which semantics users of [[Streaming.availableNowCuration]]
    * get between index refreshes; kp2b pins the bounded alternative. */
  private lazy val novelSelfElectOracleSql: String =
    s"""WITH ${curationScoreCtes(novelBacklogSql)},
       |$novelOwnersCte,
       |f AS (SELECT q.*,
       |  CASE WHEN keep = 1 AND (own.owner_id IS NULL
       |    OR q.doc_id = own.owner_id) THEN 1 ELSE 0 END AS canon
       | FROM q LEFT JOIN own USING (key))
       |$curationAccountingSql""".stripMargin

  /** kp2b_novel_exact_once: batch-equivalent election — novel keys
    * elect exactly ONE canonical copy (the accounting is invariant to
    * WHICH copy, since clones share source/lang/n_tok; the CTE uses
    * the deterministic min-id form). */
  private lazy val novelExactOnceOracleSql: String =
    s"""WITH ${curationScoreCtes(novelBacklogSql)},
       |$novelOwnersCte,
       |f0 AS (SELECT q.*, own.owner_id,
       |  ROW_NUMBER() OVER (PARTITION BY key, keep ORDER BY q.doc_id) AS rn
       | FROM q LEFT JOIN own USING (key)),
       |f AS (SELECT *,
       |  CASE WHEN keep = 1 AND ((owner_id IS NULL AND rn = 1)
       |    OR doc_id = owner_id) THEN 1 ELSE 0 END AS canon
       | FROM f0)
       |$curationAccountingSql""".stripMargin

  /** kp3: the composed corpus-assembly pipeline — t7's injection +
    * scrub, kp1's scoring (via [[curationScoreCtes]] over the
    * scrubbed candidates), t16's 8-gram decontamination, t28's
    * temperature mix — over the cloned backlog. Stage fragments are
    * the individually-pinned oracles' own SQL shapes, composed. */
  private lazy val kp3OracleSql: String = {
    val email = Text.emailPattern
    val phone = Text.phonePattern
    s"""WITH b0 AS (
       |  SELECT source, doc_id,
       |    text || ' contact u' || CAST(doc_id AS VARCHAR) ||
       |    '@example.com or call 555-' ||
       |    CAST(doc_id % 10000 AS VARCHAR) AS rawtxt
       |  FROM (SELECT source, doc_id, text FROM documents
       |        UNION ALL
       |        SELECT source, doc_id + $NovelCloneOffset AS doc_id, text
       |        FROM documents)),
       |b AS (SELECT source, doc_id,
       |        regexp_replace(regexp_replace(rawtxt,
       |          '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS text
       |      FROM b0),
       |${curationScoreCtes(
            "(SELECT source, doc_id, text FROM b WHERE source <> 'src1') AS cnd")},
       |f0 AS (SELECT *, ROW_NUMBER()
       |         OVER (PARTITION BY key, keep ORDER BY doc_id) AS rn FROM q),
       |fl AS (SELECT *, CASE WHEN keep = 1 AND rn = 1
       |         THEN 1 ELSE 0 END AS canon FROM f0),
       |g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
       |        generate_series(1, len(toks) - 7),
       |        i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))))) AS gkey
       |      FROM (SELECT doc_id, source,
       |              string_split(lower(text), ' ') AS toks FROM b) gb
       |      WHERE len(toks) >= 8),
       |dirty AS (SELECT DISTINCT e.doc_id FROM g e
       |          JOIN (SELECT DISTINCT gkey FROM g WHERE source = 'src1') tr
       |            ON e.gkey = tr.gkey
       |          WHERE e.source <> 'src1'),
       |gated AS (SELECT fl.*, CASE WHEN canon = 1 AND dirty.doc_id IS NULL
       |            THEN 1 ELSE 0 END AS clean
       |          FROM fl LEFT JOIN dirty ON fl.doc_id = dirty.doc_id),
       |cd AS (SELECT source, doc_id, n_tok,
       |         ${hex60("source || '|' || CAST(doc_id AS VARCHAR)")} AS h
       |       FROM gated WHERE clean = 1),
       |c AS (SELECT source, COUNT(*) AS n_clean,
       |        CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS w FROM cd GROUP BY 1),
       |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tot_w FROM c),
       |qt AS (SELECT source, (200 * w) // tot_w AS target FROM c, tw),
       |r AS (SELECT cd.source, cd.n_tok, qt.target,
       |        ROW_NUMBER() OVER (PARTITION BY cd.source
       |          ORDER BY h, doc_id) AS rk
       |      FROM cd JOIN qt USING (source)),
       |smp AS (SELECT source, COUNT(*) AS n_sampled,
       |          CAST(SUM(n_tok) AS BIGINT) AS tok_sampled
       |        FROM r WHERE rk <= target GROUP BY 1),
       |acc AS (SELECT source, COUNT(*) AS docs_in,
       |          CAST(SUM(keep) AS BIGINT) AS docs_quality,
       |          CAST(SUM(canon) AS BIGINT) AS docs_kept,
       |          CAST(SUM(clean) AS BIGINT) AS docs_clean
       |        FROM gated GROUP BY 1)
       |SELECT acc.source, docs_in, docs_quality, docs_kept, docs_clean,
       |  CAST(COALESCE(qt.target, 0) AS BIGINT) AS target,
       |  CAST(COALESCE(smp.n_sampled, 0) AS BIGINT) AS n_sampled,
       |  CAST(COALESCE(smp.tok_sampled, 0) AS BIGINT) AS tok_sampled
       |FROM acc LEFT JOIN qt USING (source) LEFT JOIN smp USING (source)
       |ORDER BY acc.source""".stripMargin
  }

  val all: Seq[Query] = Seq(

    // ---- A1: ETL pre-aggregation (grain day × id × value) ----
    Query("a1_daily_fact",
      s"""WITH $factCte SELECT date, id, value, count FROM fact
         |ORDER BY date, id, value""".stripMargin)((s, d) =>
      fact(s, d).orderBy("date", "id", "value")),

    // ---- A2: the core SUM(count) group-by over the fact table ----
    Query("a2_sum_groupby",
      s"""WITH $factCte
         |SELECT value, CAST(SUM(count) AS BIGINT) AS count
         |FROM fact GROUP BY value ORDER BY count DESC, value""".stripMargin)((s, d) =>
      fact(s, d).groupBy("value").agg(sum("count").as("count"))
        .orderBy(col("count").desc, col("value"))),

    // ---- F7+F8: datafilter + date-range predicates via the compiler ----
    Query("f7_datafilter_range",
      s"""WITH $factCte
         |SELECT date, CAST(SUM(count) AS BIGINT) AS count FROM fact
         |WHERE value = 'purchase' AND date BETWEEN DATE '2024-01-05' AND DATE '2024-01-20'
         |GROUP BY date ORDER BY date""".stripMargin)((s, d) =>
      QueryCompiler.compile(
        Context(datatype = "events", datafilter = Some("purchase"),
          from = Some(java.time.LocalDate.parse("2024-01-05")),
          to = Some(java.time.LocalDate.parse("2024-01-20")),
          fields = Seq("date"), orderBy = Some("date"), orderDesc = false),
        catalog(s, d))),

    // ---- O3: top-N (order by SUM DESC, limit, pinned ties) ----
    Query("o3_topn",
      s"""WITH $factCte
         |SELECT id, CAST(SUM(count) AS BIGINT) AS count
         |FROM fact GROUP BY id ORDER BY count DESC, id LIMIT 10""".stripMargin)((s, d) =>
      QueryCompiler.compile(
        Context(datatype = "events", fields = Seq("id"), limit = Some(10)),
        catalog(s, d))),

    // ---- J1: fact ⋈ set dim (broadcast), group by set_value ----
    Query("j1_set_join",
      """SELECT c_mktsegment AS set_value, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY set_value""".stripMargin)((s, d) => {
      val o = Tables.orders(s, d); val c = Tables.customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment").as("set_value"))
        .agg(count(lit(1)).as("cnt"), moneySum("o_totalprice").as("total"))
        .orderBy("set_value")
    }),

    // ---- J2: grouping join (fact ⋈ dim ⋈ dim, two-level group) ----
    Query("j2_grouping_join",
      """SELECT c_mktsegment AS set_value, l_returnflag AS grouping_value,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |       COUNT(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY set_value, grouping_value""".stripMargin)((s, d) => {
      val l = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment").as("set_value"),
          col("l_returnflag").as("grouping_value"))
        .agg(moneySum("l_quantity").as("qty"), count(lit(1)).as("cnt"))
        .orderBy("set_value", "grouping_value")
    }),

    // ---- KS1: the compiler kitchen sink — every Context feature in
    // ONE request, the reference's real AJAX shape ("top cohorts
    // within segment seg1, purchases only, archive-only, date-bounded,
    // paged"): F7 datafilter + F8 range + F6 live semi-join + J1 set
    // restriction + J2 grouping join + O1 order + O2 offset/limit,
    // all through QueryCompiler.compile ----
    Query("ks1_full_stack",
      s"""WITH $factCte,
         |f AS (
         |  SELECT * FROM fact
         |  WHERE value = 'purchase'
         |    AND date >= DATE '2024-01-10' AND date <= DATE '2024-02-20'
         |    AND id % 7 <> 0
         |    AND ('seg' || CAST(id % 4 AS VARCHAR)) = 'seg1')
         |SELECT ('g' || CAST(id % 3 AS VARCHAR)) AS grouping_value,
         |       CAST(SUM(count) AS BIGINT) AS count
         |FROM f GROUP BY 1
         |ORDER BY count DESC, grouping_value ASC
         |LIMIT 2 OFFSET 1""".stripMargin)((s, d) => {
      val f = fact(s, d)
      val ids = f.select("id").distinct()
      val segDim = QueryCompiler.SetDim(ids.select(col("id"),
        concat(lit("seg"), (col("id") % 4).cast("string")).as("set_value")))
      val cohortDim = QueryCompiler.SetDim(ids.select(col("id"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("set_value")))
      val live = ids.filter(col("id") % 7 =!= 0)
      QueryCompiler.compile(
        Context(datatype = "events", datafilter = Some("purchase"),
          setName = Some("segment"), setValue = Some("seg1"),
          grouping = Some("cohort"),
          from = Some(java.time.LocalDate.parse("2024-01-10")),
          to = Some(java.time.LocalDate.parse("2024-02-20")),
          limit = Some(2), offset = Some(1)),
        Catalog(facts = Map("events" -> f),
          sets = Map("segment" -> segDim, "cohort" -> cohortDim),
          liveFilter = Some(live)))
    }),

    // ---- F12/ks2: malformed-context error contract (ref
    // Utils.pm:242-331 range resolution; QueryCompiler.compile's
    // fail-loud require). An UNRESOLVED symbolic range ('6m' with no
    // from/to) must be REJECTED at compile — compile consumes only
    // from/to, so accepting it would silently answer a 6-month
    // request with all-time sums. The contract is pinned as data the
    // oracle can assert (the a14 pattern): each probe row carries a
    // deterministic outcome flag, and DuckDB's side is the expected
    // constant table — a regression (require dropped, message
    // changed class, unknown-datatype path softened) flips a flag and
    // fails the hash compare. ----
    // the expected error-contract table: constants on the oracle
    // side, observed probe outcomes on the Spark side
    Query("ks2_error_contract",
      """SELECT * FROM (VALUES
        |  ('range_6m_resolved', 'compiled'),
        |  ('range_6m_unresolved', 'rejected_unresolved'),
        |  ('range_all', 'compiled'),
        |  ('unknown_datatype', 'rejected_unknown_datatype'))
        |  AS t(probe, outcome)
        |ORDER BY probe""".stripMargin)((s, d) => {
      import s.implicits._
      val cat = Catalog(facts = Map("events" -> fact(s, d)))
      def probe(ctx: Context): String =
        try { QueryCompiler.compile(ctx, cat); "compiled" }
        catch {
          case e: IllegalArgumentException
            if String.valueOf(e.getMessage).contains("unresolved") =>
              "rejected_unresolved"
          case e: IllegalArgumentException
            if String.valueOf(e.getMessage).contains("unknown datatype") =>
              "rejected_unknown_datatype"
          case _: Throwable => "wrong_error"
        }
      val sym = Context(datatype = "events", range = Some("6m"))
      Seq(
        ("range_6m_unresolved", probe(sym)),
        // resolved() clears the symbolic range into concrete bounds —
        // the same context compiles once the production path ran
        ("range_6m_resolved",
          probe(sym.resolved(java.time.LocalDate.parse("2024-03-01")))),
        // _ALL_ is the one symbolic range compile accepts unresolved:
        // it IS the all-time query (guards the A5 MV swap's gate)
        ("range_all", probe(Context(datatype = "events", range = Some("_ALL_")))),
        ("unknown_datatype", probe(Context(datatype = "no_such_table"))))
        .toDF("probe", "outcome").orderBy("probe")
    }),

    // ---- KP1: LLM-curation keystone — the composition row for the
    // training-data side, as ks1 is for the reference stack. One
    // declarative plan chains the pipeline a corpus actually runs:
    // language-ID (t3's marker argmax) -> Gopher-style quality gate
    // (t6's four rules) -> exact dedup keep-first (d1's min-id
    // canonical, among quality survivors) -> per-(source, lang)
    // token accounting (t29's shape). Scale posture: text never
    // crosses the wire — every derived column (lang, token count,
    // quality flags, content key) is computed in the scan-side
    // projection and the window shuffles only the narrow row; the
    // content-hash window key is uniform by construction (md5), so
    // the dedup shuffle cannot skew; identical texts carry identical
    // quality flags, so keep is constant within a key and the
    // canonical pick is a plain first-survivor row_number ----
    // kp1: the lang CASE is t3's oracle verbatim, the four quality
    // rules are t6's, the canonical pick is d1's min-id row_number;
    // keep folds through CASE (not a bare boolean cast) so an empty
    // text's NULL symbol ratio lands in ELSE 0 on both engines
    Query("kp1_llm_curation", curationOracleSql)((s, d) =>
      graft.api.Curation.report(Tables.documents(s, d))),

    // ---- KP2 (executed): kp1 as a CONTINUOUS pipeline — row-local
    // lang-ID/quality/key projections on the stream, exact dedup via
    // a stateless stream-static join against the batch canonical-
    // owner index, accounting through the engine's Complete-mode
    // streaming aggregate. Replaying the corpus as the backlog must
    // reproduce the batch report EXACTLY -> shares kp1's oracle ----
    // kp2: the streaming replay must reproduce kp1's batch report
    // exactly (same gate, same canonical pick, same accounting) —
    // same oracle, st6's pattern
    Query("kp2_stream_curation", curationOracleSql)((s, d) =>
      graft.streaming.Streaming.availableNowCuration(
          s, s"$d/documents.parquet")
        .orderBy("source", "lang_pred")),

    // ---- KP2-novel (executed): the SNAPSHOT-mode election semantics
    // pinned on a fixture with duplicated novel keys — every doc plus
    // an id-offset clone streams against an owner index built from
    // the sub-cutoff originals only. Novel keys (all copies above the
    // cutoff) carry exactly two surviving copies; the default path
    // SELF-ELECTS both (documented trade: the index refresh cycle
    // re-canonicalizes), and this row pins that count cross-engine so
    // users know which semantics they get between refreshes ----
    // kp2-novel: self-elect semantics on the duplicated-novel-key
    // fixture; kp2b: exact-once election on the same fixture — the
    // two rows differ ONLY in the novel-key canon rule, so their
    // docs_kept delta IS the documented overcount
    Query("kp2_novel_dedup", novelSelfElectOracleSql)((s, d) => {
      val (backlog, index) = novelFixture(s, d)
      graft.streaming.Streaming.availableNowCuration(s, backlog, Some(index))
        .orderBy("source", "lang_pred")
    }),

    // ---- KP2b (executed): exact-once novel-key election — the
    // stateful alternative: a per-batch-idempotent (key, owner_id)
    // parquet ledger elects ONE canonical copy per novel key across
    // micro-batches (maxFilesPerTrigger=1 forces the clone into a
    // LATER batch than its original, so the cross-batch ledger path
    // is the one under test, not within-batch dedup) ----
    Query("kp2b_novel_exact_once", novelExactOnceOracleSql)((s, d) => {
      val (backlog, index) = novelFixture(s, d)
      graft.streaming.Streaming.availableNowCurationExactOnce(
          s, backlog, Some(index), maxFilesPerTrigger = Some(1))
        .orderBy("source", "lang_pred")
    }),

    // ---- KP3 (keystone): the FULL corpus-assembly pipeline composed
    // as ONE declarative plan — PII scrub -> lang-ID + quality gate ->
    // exact dedup -> benchmark decontamination -> temperature mix —
    // the stages the board pins individually (t7, kp1, t16, t28)
    // proven to compose without per-stage materialization. Fixture:
    // the cloned backlog (every content key duplicated, so the dedup
    // stage does real work) with t7's deterministic PII injection (so
    // the scrub stage does real work — and the clone's id-specific
    // suffix scrubs to a COMMON tag suffix, keeping clones exact
    // duplicates post-scrub); benchmark = src1, candidates = rest ----
    // kp3: the composed pipeline — scrub/score/dedup/decontaminate/
    // mix stage fragments are the t7/kp1/t16/t28 oracles' own shapes
    Query("kp3_curation_pipeline", kp3OracleSql)((s, d) => {
      val injected = injectedCloneBacklog(s, d)
      graft.api.Curation.curate(
          injected.filter(col("source") =!= "src1"),
          injected.filter(col("source") === "src1"))
        .orderBy("source")
    }),

    // ---- KP4 (executed): kp3 as a CONTINUOUS run — "continuous
    // gating, periodic mix": every micro-batch scrubs/scores/
    // dedup-flags/decontaminates row-local + stream-static and lands
    // narrow gated rows; the temperature mix is the periodic batch
    // step over the accumulated sink (quotas need global counts no
    // append stream can know mid-flight). Replaying the same fixture
    // reproduces kp3's batch report EXACTLY -> shares kp3's oracle,
    // as kp2 shares kp1's ----
    // kp4: the continuous replay must reproduce kp3's batch report
    // EXACTLY on the same fixture -> shares kp3's oracle verbatim
    Query("kp4_stream_curate", kp3OracleSql)((s, d) => {
      val (cand, bench) = curateFixture(s, d)
      graft.streaming.Streaming.availableNowCurate(s, cand, bench)
        .orderBy("source")
    }),

    // ---- J3/F6: archive-only semi-join ----
    Query("j3_semi_join",
      """SELECT event_type AS value, COUNT(*) AS count FROM events
        |WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'signup')
        |GROUP BY 1 ORDER BY value""".stripMargin)((s, d) => {
      val e = ev(s, d)
      val live = e.filter(col("event_type") === "signup").select("user_id")
      e.join(broadcast(live), Seq("user_id"), "left_semi")
        .groupBy(col("event_type").as("value"))
        .agg(count(lit(1)).as("count"))
        .orderBy("value")
    }),

    // ---- W1: calendar densification (zero-filled day series) ----
    Query("w1_densify",
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt FROM events
        |  WHERE event_type = 'error' GROUP BY 1),
        |b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM s),
        |cal AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM b)
        |SELECT cal.d AS d, CAST(COALESCE(s.cnt, 0) AS BIGINT) AS cnt
        |FROM cal LEFT JOIN s ON cal.d = s.d ORDER BY d""".stripMargin)((s, d) => {
      val daily = fact(s, d).filter(col("value") === "error")
        .groupBy(col("date").as("d")).agg(sum("count").as("cnt"))
      Series.densify(daily).orderBy("d")
    }),

    // ---- W2: temporal regroup day → month (7y of lineitem shipdates) ----
    Query("w2_regroup_month",
      """SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS d,
        |       COUNT(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY d""".stripMargin)((s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("cnt"))
      Series.regroup(daily, "month").orderBy("d")
    }),

    // ---- W3: graph payload labels (ref Graph.pm:131-150) — monthly
    // series rendered with localized month-name descriptions; the
    // label is an array-literal lookup in the export projection ----
    Query("w3_month_labels",
      """WITH m AS (
        |  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS mo, COUNT(*) AS count
        |  FROM lineitem GROUP BY 1)
        |SELECT strftime(mo, '%Y%m') AS datestamp, count,
        |       strftime(mo, '%b %Y') AS description
        |FROM m ORDER BY datestamp""".stripMargin)((s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("cnt"))
      val monthly = graft.series.Series.regroup(daily, "month")
        .select(date_format(col("d"), "yyyyMM").as("datestamp"),
          col("cnt").as("count"))
      graft.export.Export.graphPayload(monthly, "month").orderBy("datestamp")
    }),

    // ---- W2b: temporal regroup day → year ----
    Query("w2_regroup_year",
      """SELECT CAST(date_trunc('year', CAST(l_shipdate AS DATE)) AS DATE) AS d,
        |       COUNT(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY d""".stripMargin)((s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("cnt"))
      Series.regroup(daily, "year").orderBy("d")
    }),

    // ---- A10: cumulative sum over the monthly series ----
    Query("a10_cumulative",
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS d,
        |         COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT d, cnt, CAST(SUM(cnt) OVER (ORDER BY d
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative
        |FROM m ORDER BY d""".stripMargin)((s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("cnt"))
      Series.cumulative(Series.regroup(daily, "month")).orderBy("d")
    }),

    // ---- A9: running average floor(cumsum/i) ----
    Query("a9_running_avg",
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS d,
        |         COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT d, cnt, CAST(FLOOR(
        |  (SUM(cnt) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |  / (ROW_NUMBER() OVER (ORDER BY d))) AS BIGINT) AS running_avg
        |FROM m ORDER BY d""".stripMargin)((s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("cnt"))
      Series.runningAverage(Series.regroup(daily, "month")).orderBy("d")
    }),

    // ---- A6: dataset min/max boundaries ----
    Query("a6_minmax",
      "SELECT CAST(MIN(ts) AS DATE) AS oldest, CAST(MAX(ts) AS DATE) AS newest FROM events")((s, d) =>
      ev(s, d).agg(min(to_date(col("ts"))).as("oldest"),
        max(to_date(col("ts"))).as("newest"))),

    // ---- A7: COUNT(*) dataset size ----
    Query("a7_count", "SELECT COUNT(*) AS n FROM events")((s, d) => ev(s, d).agg(count(lit(1)).as("n"))),

    // ---- A8: DISTINCT set values, ordered ----
    Query("a8_distinct",
      "SELECT DISTINCT event_type AS set_value FROM events ORDER BY set_value")((s, d) =>
      ev(s, d).select(col("event_type").as("set_value"))
        .distinct().orderBy("set_value")),

    // ---- A8b: set-finder LIKE — the author-search-box query (ref
    // Handler.pm:778-821): rendered values narrowed to %substring%,
    // collation-ordered. parts-with-"gear" stands in for the
    // rendered-author dim ----
    Query("a8_like_finder",
      """SELECT CAST(p_partkey AS VARCHAR) AS set_value, p_name AS rendered
        |FROM part WHERE p_name LIKE '%gear%'
        |ORDER BY lower(p_name), p_name, set_value""".stripMargin)((s, d) =>
      graft.sets.Sets.setFinder(
        Tables.part(s, d).select(
          col("p_partkey").cast("string").as("set_value"),
          col("p_name").as("rendered")),
        like = Some("gear"))),

    // ---- A3: grand total (sum_all) ----
    Query("a3_grand_total",
      s"WITH $factCte SELECT CAST(SUM(count) AS BIGINT) AS total FROM fact")((s, d) =>
      fact(s, d).agg(sum("count").as("total"))),

    // ---- A4: KeyFigures ratio metric round(100*m1/m2) — ONE scan:
    // both metrics are conditional aggregates of the same pass (the
    // KeyFigures.compute form), the ratio a derived column. The
    // reference runs one query per metric; at 100 TB that multiplies
    // full fact scans by the metric count for no reason ----
    Query("a4_ratio_metric",
      """SELECT
        |  (SELECT COUNT(*) FROM events WHERE event_type = 'purchase') AS purchases,
        |  (SELECT COUNT(*) FROM events WHERE event_type = 'view') AS views,
        |  CAST(ROUND(100 * (SELECT COUNT(*) FROM events WHERE event_type = 'purchase')
        |    / (SELECT COUNT(*) FROM events WHERE event_type = 'view'), 0) AS BIGINT) AS pct""".stripMargin)((s, d) =>
      fact(s, d).agg(
          sum(when(col("value") === "purchase", col("count"))).as("purchases"),
          sum(when(col("value") === "view", col("count"))).as("views"))
        .withColumn("pct", round(col("purchases") * 100 / col("views"), 0).cast("long"))),

    // ---- A19: robust time-series anomaly detection — median/MAD
    // outlier flag per (metric, day). Everything after the two exact
    // medians is LONG arithmetic: med2 = 2*median and mad4 =
    // 2*median(|2x - med2|) are integer-valued by construction
    // (medians of integers are halves), so the flag
    // |x - med| > 3*MAD compares longs (dev2*2 > mad4*3) — no float
    // threshold to drift between engines. Scale: the series is one
    // groupBy of the daily fact; the per-metric stats tables are
    // metric-cardinality-sized and broadcast back onto the series ----
    Query("a19_anomaly_mad",
      s"""WITH $factCte,
         |daily AS (
         |  SELECT value, date, CAST(SUM(count) AS BIGINT) AS cnt
         |  FROM fact GROUP BY 1, 2),
         |med AS (
         |  SELECT value, CAST(2 * quantile_cont(cnt, 0.5) AS BIGINT) AS med2
         |  FROM daily GROUP BY 1),
         |dev AS (
         |  SELECT d.value, d.date, d.cnt,
         |         CAST(abs(2 * d.cnt - m.med2) AS BIGINT) AS dev2
         |  FROM daily d JOIN med m USING (value)),
         |mad AS (
         |  SELECT value, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
         |  FROM dev GROUP BY 1)
         |SELECT d.value, d.date, d.cnt, d.dev2, m.mad4,
         |       (d.dev2 * 2 > m.mad4 * 3) AS is_outlier
         |FROM dev d JOIN mad m USING (value)
         |ORDER BY value, date""".stripMargin)((s, d) => {
      val daily = fact(s, d).groupBy("value", "date")
        .agg(sum("count").as("cnt"))
      val med = daily.groupBy("value")
        .agg((lit(2.0) * expr("percentile(cnt, 0.5)")).cast("long").as("med2"))
      val dev = daily.join(broadcast(med), Seq("value"))
        .withColumn("dev2", abs(lit(2L) * col("cnt") - col("med2")))
      val mad = dev.groupBy("value")
        .agg((lit(2.0) * expr("percentile(dev2, 0.5)")).cast("long").as("mad4"))
      dev.join(broadcast(mad), Seq("value"))
        .select(col("value"), col("date"), col("cnt"), col("dev2"),
          col("mad4"), (col("dev2") * 2 > col("mad4") * 3).as("is_outlier"))
        .orderBy("value", "date")
    }),

    // ---- A20: per-metric trend detection — least-squares slope of
    // the daily series, computed from the FIVE integer sums the
    // closed form needs (n, Σx, Σy, Σxy, Σxx with x = day offset):
    // slope_x1000 = 1000·(nΣxy − ΣxΣy) div (nΣxx − (Σx)²). All
    // integer, so engine-exact — unlike regr_slope, whose float
    // accumulation order differs per engine. One scan + one
    // metric-cardinality aggregate; the 100 TB form is identical ----
    Query("a20_trend",
      s"""WITH $factCte,
         |daily AS (
         |  SELECT value, date, CAST(SUM(count) AS BIGINT) AS cnt
         |  FROM fact GROUP BY 1, 2),
         |xy AS (
         |  SELECT value,
         |         CAST(date - DATE '2024-01-01' AS BIGINT) AS x,
         |         cnt AS y
         |  FROM daily),
         |sums AS (
         |  SELECT value, COUNT(*) AS n,
         |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |         CAST(SUM(x * y) AS BIGINT) AS sxy,
         |         CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM xy GROUP BY 1)
         |SELECT value, n,
         |       (1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS slope_x1000
         |FROM sums ORDER BY value""".stripMargin)((s, d) => {
      val daily = fact(s, d).groupBy("value", "date")
        .agg(sum("count").as("cnt"))
      val origin = lit(java.sql.Date.valueOf("2024-01-01"))
      val xy = daily.select(col("value"),
        datediff(col("date"), origin).cast("long").as("x"),
        col("cnt").as("y"))
      xy.groupBy("value")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("value"), col("n"),
          expr("(1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)")
            .as("slope_x1000"))
        .orderBy("value")
    }),

    // ---- F9: per-id go-live clamp greatest(from, first_seen) ----
    Query("f9_live_clamp",
      """WITH g AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS live FROM events GROUP BY 1)
        |SELECT e.user_id AS id, COUNT(*) AS count
        |FROM events e JOIN g USING (user_id)
        |WHERE CAST(ts AS DATE) >= GREATEST(DATE '2024-01-15', live)
        |GROUP BY 1 ORDER BY id""".stripMargin)((s, d) => {
      val e = ev(s, d).withColumn("date", to_date(col("ts")))
      val golive = e.groupBy("user_id").agg(min("date").as("live"))
      e.join(broadcast(golive), Seq("user_id"))
        .filter(col("date") >= greatest(lit(java.sql.Date.valueOf("2024-01-15")), col("live")))
        .groupBy(col("user_id").as("id")).agg(count(lit(1)).as("count"))
        .orderBy("id")
    }),

    // ---- O2: LIMIT/OFFSET paging ----
    Query("o2_limit_offset",
      """SELECT event_id, event_type AS value FROM events
        |ORDER BY event_id LIMIT 100 OFFSET 50""".stripMargin)((s, d) =>
      ev(s, d).select(col("event_id"), col("event_type").as("value"))
        .orderBy("event_id").offset(50).limit(100)),

    // ---- F3 (lag variant): repeat/double-click filter ----
    Query("f3_repeat_lag",
      """WITH x AS (
        |  SELECT user_id, event_type,
        |         CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_id,
        |         LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS prev
        |  FROM events)
        |SELECT user_id AS id, event_type AS value, COUNT(*) AS count
        |FROM x WHERE prev IS NULL OR sec - prev > 3600
        |GROUP BY 1, 2 ORDER BY id, value""".stripMargin)((s, d) => {
      val e = ev(s, d).withColumn("sec", unix_timestamp(col("ts")))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("sec"), col("event_id"))
      e.withColumn("prev", lag("sec", 1).over(w))
        .filter(col("prev").isNull || col("sec") - col("prev") > 3600)
        .groupBy(col("user_id").as("id"), col("event_type").as("value"))
        .agg(count(lit(1)).as("count"))
        .orderBy("id", "value")
    }),

    // ---- S6: value truncation (>767 bytes → 191 chars) ----
    Query("s6_truncate",
      """SELECT doc_id,
        |  CAST(length(CASE WHEN octet_length(encode(text)) > 767
        |    THEN substr(text, 1, 191) ELSE text END) AS INTEGER) AS len
        |FROM documents ORDER BY doc_id""".stripMargin)((s, d) =>
      Processors.truncateValue(
        Tables.documents(s, d).select(col("doc_id"), col("text").as("value")))
        .select(col("doc_id"), length(col("value")).as("len"))
        .orderBy("doc_id")),

    // ---- TPC-H-style headliners (bench anchors) ----
    Query("h1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin)((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          moneySum("l_quantity").as("sum_qty"),
          moneySum("l_extendedprice").as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    Query("h3_top_orders",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)((s, d) => {
      // Pre-aggregate revenue by l_orderkey BEFORE the join: only
      // (key, decimal) pairs shuffle instead of full joined rows, and
      // the join output needs no re-aggregation (o_orderdate is
      // functionally dependent on the key). Top-N then compiles to
      // TakeOrderedAndProject.
      val l = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val rev = l.groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      // Top-N BEFORE the join: revenue is complete per orderkey after
      // the group-by and every lineitem orderkey exists in orders
      // (TPC-H referential integrity), so the limit commutes with the
      // join — 10 rows broadcast into the orders lookup instead of
      // every aggregated orderkey shuffling through a full join.
      val top = rev.orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
      o.join(broadcast(top), "o_orderkey")
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"), col("revenue"))
    }),

    // ---- H2: TPC-H Q3 shape — selective dim filter, double join,
    // broadcast the filtered dim, top-N on aggregated revenue ----
    Query("h2_shipping_priority",
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)((s, d) => {
      val cut = lit(java.sql.Timestamp.valueOf("1996-06-01 00:00:00"))
      val l = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      l.filter(col("l_shipdate") > cut)
        .join(o.filter(col("o_orderdate") < cut), l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), to_date(col("o_orderdate")).as("o_date"),
          col("o_orderpriority"), col("revenue"))
    }),

    // ---- H5: TPC-H Q5 shape — star join tree, all dims broadcast,
    // region filter pruned before the fact ever joins ----
    Query("h5_region_revenue",
      """SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)((s, d) => {
      val l = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d); val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      val asiaNations = n
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      l.join(o.filter(
            col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))),
          l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(asiaNations), su("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ---- H6: TPC-H Q6 shape — pure filter + scalar agg; every
    // predicate reaches the parquet scan (PushedFilters), no shuffle
    // beyond the final partial-agg combine ----
    Query("h6_forecast_revenue",
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)((s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")).cast("double").as("revenue"))),

    // ---- H4: TPC-H Q4 shape — EXISTS-driven priority count. A LEFT
    // SEMI join carries the equi key plus a CROSS-TABLE residual
    // (shipped >60 days after the order date; the testdata carries no
    // commit/receipt dates, so lateness is expressed against the
    // order date — same correlated-EXISTS plan shape as Q4 proper).
    // Semi-join semantics mean matching lineitems are never
    // materialized or deduplicated, and the quarter filter prunes
    // orders before the shuffle. ----
    Query("h4_order_priority",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)((s, d) => {
      val o = Tables.orders(s, d).filter(
        col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
      val l = Tables.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // ---- A14: sketch-based approximate distinct. Sketches are THE
    // distinct-count scale story: HLL buffers merge associatively, so
    // 1000 executors combine map-side partials instead of shuffling
    // raw ids. Raw sketch estimates differ across engines, so the
    // oracle-compared output is (exact, within_2pct): Spark's HLL is
    // deterministic for a fixed input, the 2%-band flag is therefore
    // a stable integer, and DuckDB can compute the exact side and
    // assert the flag — making the whole row hash-comparable while
    // still gating the sketch's accuracy. ----
    // Shape note: dedup FIRST, then sketch+count the distinct set.
    // HLL sketches are multiplicity-invariant, so the estimates are
    // bit-identical to sketching the raw stream, but the plan becomes
    // two clean hash aggregates (map-side partial dedup → shuffle of
    // distinct keys only) instead of the Expand operator Spark plans
    // for a mixed distinct/non-distinct aggregate, which duplicates
    // every input row per aggregate family before the shuffle.
    // Exact side computed by DuckDB; the 2%-accuracy flag is asserted
    // (Spark's HLL is deterministic for fixed input, and rel_sd 0.01
    // keeps both sketches well inside the 20‰ band at every SF).
    Query("a14_approx_distinct",
      """SELECT COUNT(DISTINCT user_id) AS exact_distinct,
        |       CAST(1 AS BIGINT) AS within_2pct FROM events""".stripMargin)((s, d) =>
      ev(s, d).select("user_id").distinct().agg(
        count(lit(1)).as("exact_distinct"),
        approx_count_distinct(col("user_id"), 0.01).as("approx"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("hll"))
        // both sketches must land within 20‰ of exact; empty input
        // (exact = 0) trivially passes — avoids ANSI 0/0 NaN casts
        .select(
          col("exact_distinct"),
          when(col("exact_distinct") === 0, lit(1L))
            .otherwise(
              (abs(col("approx") - col("exact_distinct")) * 1000L <=
                 lit(20L) * col("exact_distinct") &&
               abs(col("hll") - col("exact_distinct")) * 1000L <=
                 lit(20L) * col("exact_distinct")).cast("long"))
            .as("within_2pct"))),

    // ---- A23: mergeable-sketch rollup — the day→month HLL union.
    // a14 proves one sketch ≈ exact; this proves the PARTIAL sketches
    // compose: daily hll_sketch_agg partials union to a monthly
    // estimate without touching raw ids again — the pre-aggregated
    // rollup pattern that makes month/quarter/year distincts O(days)
    // instead of O(events) at 100 TB. Oracle-compared output is
    // (month, exact, within_5pct): the union estimate is
    // deterministic, so the band flag is a stable integer ----
    Query("a23_hll_union",
      """SELECT CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month,
        |       COUNT(DISTINCT user_id) AS exact_distinct,
        |       CAST(1 AS BIGINT) AS within_5pct
        |FROM events GROUP BY 1 ORDER BY month""".stripMargin)((s, d) => {
      val e = ev(s, d)
      val daily = e.groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val monthly = daily.groupBy(trunc(col("day"), "month").as("month"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = e.groupBy(trunc(to_date(col("ts")), "month").as("month"))
        .agg(count_distinct(col("user_id")).as("exact_distinct"))
      exact.join(monthly, Seq("month"))
        .select(col("month"), col("exact_distinct"),
          when(col("exact_distinct") === 0, lit(1L))
            .otherwise((abs(col("est") - col("exact_distinct")) * 1000L <=
              lit(50L) * col("exact_distinct")).cast("long"))
            .as("within_5pct"))
        .orderBy("month")
    }),

    // ---- A11: ROLLUP totals (year x value, with subtotal rows) ----
    Query("a11_rollup",
      s"""WITH $factCte,
         |y AS (SELECT CAST(year(date) AS INTEGER) AS y, value, count FROM fact)
         |SELECT COALESCE(y, -1) AS y, COALESCE(value, '_ALL_') AS value,
         |       CAST(SUM(count) AS BIGINT) AS count
         |FROM y GROUP BY ROLLUP(y, value) ORDER BY y, value""".stripMargin)((s, d) =>
      fact(s, d).withColumn("y", year(col("date")))
        .rollup("y", "value").agg(sum("count").as("count"))
        .select(coalesce(col("y"), lit(-1)).as("y"),
          coalesce(col("value"), lit("_ALL_")).as("value"), col("count"))
        .orderBy("y", "value")),

    // ---- A12: exact percentiles — interpolated median (x2 keeps the
    // only possible fraction, .5, integer) + rank-based discrete p90.
    //
    // Shape note: l_quantity is a small-domain integer (1..50), so the
    // scan collapses to per-(rf, qty) counts FIRST — map-side combine
    // makes the only full-data shuffle carry ≤ |rf|×|domain| rows —
    // and both percentiles become rank lookups over the cumulative
    // counts ("value at rank r" = min qty whose running count ≥ r).
    // The previous shape (exact percentile agg + full-table
    // row_number window) sorted the entire table inside one partition
    // per group: a non-starter at 100 TB; this one never materializes
    // more than the count table. ----
    Query("a12_median",
      """WITH base AS (
        |  SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |med AS (
        |  SELECT rf, CAST(2 * quantile_cont(qty, 0.5) AS BIGINT) AS med_x2
        |  FROM base GROUP BY rf),
        |r AS (
        |  SELECT rf, qty, ROW_NUMBER() OVER (PARTITION BY rf ORDER BY qty) AS rn,
        |         COUNT(*) OVER (PARTITION BY rf) AS n
        |  FROM base),
        |p AS (
        |  SELECT rf, MAX(qty) AS p90 FROM r
        |  WHERE rn = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT) + 1 GROUP BY rf)
        |SELECT rf, med_x2, p90 FROM med JOIN p USING (rf) ORDER BY rf""".stripMargin)((s, d) => {
      val cnts = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("rf"), col("l_quantity").cast("long").as("qty"))
        .groupBy("rf", "qty").agg(count(lit(1)).as("cnt"))
      val byQty = Window.partitionBy("rf").orderBy("qty")
      val all = Window.partitionBy("rf")
      val cum = cnts
        .withColumn("cum", sum("cnt").over(byQty))
        .withColumn("n", sum("cnt").over(all))
        // interpolated-median ranks (integer division): lo = hi for
        // odd n, adjacent ranks for even n; med = (v_lo + v_hi) / 2
        .withColumn("lo", floor((col("n") - 1) / 2).cast("long") + 1)
        .withColumn("hi", floor(col("n") / 2).cast("long") + 1)
        // discrete p90 rank, identical FP expression to the oracle
        .withColumn("r90", floor(lit(0.9) * (col("n") - 1)).cast("long") + 1)
      cum.groupBy("rf").agg(
          (min(when(col("cum") >= col("lo"), col("qty"))) +
            min(when(col("cum") >= col("hi"), col("qty")))).as("med_x2"),
          min(when(col("cum") >= col("r90"), col("qty"))).as("p90"))
        .orderBy("rf")
    }),

    // ---- A13: histogram — fixed-width bucketed counts ----
    Query("a13_histogram",
      """SELECT CAST(FLOOR(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
        |       COUNT(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin)((s, d) =>
      Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") / 10000.0).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")),

    // ---- O6: pivot — datatypes to columns (wide daily report) ----
    Query("o6_pivot", {
      val cols = Seq("click", "error", "purchase", "signup", "view").map(v =>
        s"CAST(COALESCE(SUM(CASE WHEN value = '$v' THEN count END), 0) AS BIGINT) AS $v")
        .mkString(",\n|  ")
      s"""WITH $factCte
         |SELECT date,
         |  $cols
         |FROM fact GROUP BY date ORDER BY date""".stripMargin
    })((s, d) =>
      fact(s, d).groupBy("date")
        .pivot("value", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum("count"))
        .na.fill(0L)
        .orderBy("date")),

    // ---- U1/U2: explicit set operators (EXCEPT / INTERSECT).
    // U1 compares per-day active-user sets (event-type sets are
    // saturated in this corpus — their difference would be empty,
    // which is a vacuous check) ----
    Query("u1_except",
      """SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-06'
        |ORDER BY user_id""".stripMargin)((s, d) => {
      val e = ev(s, d).withColumn("day", to_date(col("ts")))
      e.filter(col("day") === lit(java.sql.Date.valueOf("2024-01-05")))
        .select("user_id").distinct()
        .except(e.filter(col("day") === lit(java.sql.Date.valueOf("2024-01-06")))
          .select("user_id").distinct())
        .orderBy("user_id")
    }),

    Query("u2_intersect",
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin)((s, d) => {
      val e = ev(s, d)
      e.filter(col("event_type") === "view").select("user_id").distinct()
        .intersect(e.filter(col("event_type") === "purchase")
          .select("user_id").distinct())
        .orderBy("user_id")
    }),

    // ---- O7: ordered string aggregation (listagg presentation op).
    // Top-5 is selected with a rank window BEFORE the collect, so the
    // per-group aggregation state is 5 elements, not the whole
    // distinct-user set of the corpus ----
    Query("o7_string_agg",
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events
        |           WHERE user_id IS NOT NULL),
        |r AS (SELECT event_type, user_id,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY user_id) AS rn
        |      FROM d)
        |SELECT event_type AS value,
        |       string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id) AS ids
        |FROM r WHERE rn <= 5 GROUP BY 1 ORDER BY value""".stripMargin)((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("user_id")
      // null ids are excluded BEFORE ranking: Spark sorts NULLS FIRST,
      // so a null would otherwise consume a top-5 slot that
      // collect_list then silently drops (and DuckDB ranks NULLS LAST
      // — the filter keeps both sides aligned on nullable data)
      ev(s, d).select(col("event_type"), col("user_id"))
        .filter(col("user_id").isNotNull).distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("event_type").as("value"))
        .agg(array_join(
          transform(array_sort(collect_list(col("user_id"))),
            x => x.cast("string")), ",").as("ids"))
        .orderBy("value")
    }),

    // ---- W7: n-period moving window (sum + floor-average) ----
    Query("w7_moving_avg",
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS d,
        |         COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT d, cnt,
        |  CAST(SUM(cnt) OVER w AS BIGINT) AS mov_sum,
        |  CAST(FLOOR((SUM(cnt) OVER w) / (COUNT(*) OVER w)) AS BIGINT) AS mov_avg
        |FROM m WINDOW w AS (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY d""".stripMargin)((s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("cnt"))
      Series.movingAverage(Series.regroup(daily, "month"), 3).orderBy("d")
    }),
  )
}
