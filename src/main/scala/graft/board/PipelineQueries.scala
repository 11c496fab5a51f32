package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, Fuzzy}
import graft.functions.{FrequentItems, Text}
import graft.multimodal.Multimodal
import graft.similarity.Similarity

import Shared._

/** Training-data-pipeline operators (dedup / similarity / text /
  * multimodal) over the documents + embeddings tables.
  * All externally-compared outputs are integers or strings —
  * thresholds use exact integer cross-multiplication, never floats.
  */
private[graft] object PipelineQueries {

  /** Co-purchase pair set for the graph queries (g1/g2/g2b): parts
    * sharing an order, WITHOUT a fact self-join — order sizes are
    * small and bounded (TPC-H ≤ 7 items), so collect the part set
    * per order (one shuffle) and emit the ordered pairs from the
    * array; the self-join form sorts the fact twice and merges
    * 6M×6M-keyed streams for the same ≤ k² map-side work. */
  private def coPurchasePairs(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    l.groupBy("ok").agg(collect_set(col("p")).as("ps"))
      .select(explode(expr(
        "filter(flatten(transform(ps, x -> transform(ps, " +
          "y -> struct(x AS a, y AS b)))), s -> s.a < s.b)")).as("s"))
      .select(col("s.a").as("a"), col("s.b").as("b")).distinct()
      // NOTE (r17 optimization audit): the pair set feeds multiple
      // plan branches in every graph consumer (und = pairs ∪
      // pairs-swapped, degree tables re-derived from und), but
      // ReuseExchange already collapses the repeated distinct-
      // exchange subtree at physical planning, so pinning it is NOT
      // a win: an eager localCheckpoint replaces the subtree with a
      // stats-less LogicalRDD (downstream broadcast joins degrade to
      // sort-merge; measured g2 +2.9s), and a lazy persist measured
      // neutral-to-negative under the bench protocol. Left alone
      // deliberately — see OPTIMIZATION_r17.md.
  }

  /** SimHash in SQL: 60 per-bit SUMs then a CASE-summed bitmask —
    * the same single-pass shape as [[Dedup.simhash]]. */
  private val simhashSql: String = {
    val bitSums = (0 until 60).map(j => s"SUM((h >> $j) & 1) AS b$j").mkString(", ")
    val bits = (0 until 60).map(j =>
      s"(CASE WHEN 2*b$j >= n THEN (1::BIGINT << $j) ELSE 0::BIGINT END)").mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, ${hex60("tok")} AS h FROM toks),
       |ag AS (SELECT doc_id, COUNT(*) AS n, $bitSums FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $bits AS simhash FROM ag)""".stripMargin
  }

  /** Full-vector integer-space k-means (one Lloyd step, stride init
    * capped at k=8) as CTEs ending in `asg(id, cluster, dist)` — the
    * single-subspace form of the v10 trained-PQ oracle, shared by
    * v11 (assignments) and v12 (medoids). */
  private val kmeansSqlCte: String =
    """q AS (
      |  SELECT vec_id AS id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(FLOOR(1000000 * x) AS BIGINT) + 2097152) AS qv
      |  FROM embeddings),
      |init AS (
      |  SELECT vec_id FROM embeddings WHERE vec_id % 31 = 0
      |  ORDER BY vec_id LIMIT 8),
      |cb0 AS (SELECT q.id AS cw, q.qv AS cv FROM q JOIN init ON q.id = init.vec_id),
      |d0 AS (
      |  SELECT q.id, q.qv, c.cw,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS d
      |  FROM q CROSS JOIN cb0 c),
      |a0 AS (
      |  SELECT id, qv, cw FROM (
      |    SELECT id, qv, cw,
      |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cw) AS rk
      |    FROM d0) WHERE rk = 1),
      |sums AS (
      |  SELECT cw, pos, CAST(SUM(x) AS BIGINT) AS sx, COUNT(*) AS n
      |  FROM (SELECT cw, unnest(qv) AS x,
      |          generate_subscripts(qv, 1) AS pos FROM a0) t
      |  GROUP BY 1, 2),
      |cb1 AS (SELECT cw, list(sx // n ORDER BY pos) AS cv FROM sums GROUP BY 1),
      |d1 AS (
      |  SELECT q.id, c.cw,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS d
      |  FROM q CROSS JOIN cb1 c),
      |asg AS (
      |  SELECT id, cw AS cluster, d AS dist FROM (
      |    SELECT id, cw, d,
      |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cw) AS rk
      |    FROM d1) WHERE rk = 1)""".stripMargin

  // filtered IVF-PQ: kmeansSqlCte replays the trained CELLS (the
  // v11/v16c index), the pq_* CTEs replay v10's per-subspace
  // integer Lloyd codebook; assignment restricts to label = 1
  // (per-vector functions commute with row predicates, so this
  // equals Spark's filtered posting-list build), and the ADC sum
  // runs over probed, filtered codes only
  // v18 serves the SAME filtered IVF-PQ search from the persisted
  // index tables — per-vector cell assignment and PQ encode commute
  // with the row predicate, so semi-joining the committed postings
  // to the filtered ids equals v17's filtered rebuild bit for bit;
  // ONE oracle therefore gates both the per-call and the persisted
  // serving path
  private val filteredIvfPqOracleSql: String =
    s"""WITH $kmeansSqlCte,
      |ct AS (SELECT cw AS cid,
      |        list_transform(cv, x -> (x - 2097152) / 1000000.0) AS cv
      |      FROM cb1),
      |s2 AS (SELECT e.vec_id AS id, e.label, ct.cid,
      |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.cv) AS cos
      |      FROM embeddings e CROSS JOIN ct),
      |r2 AS (SELECT id, label, cid,
      |        ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, cid) AS rk
      |      FROM s2),
      |assign AS (SELECT id AS nid, cid FROM r2 WHERE rk = 1 AND label = 1),
      |probes AS (SELECT id AS qid, cid FROM r2 WHERE rk <= 2 AND id < 10),
      |ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      |qsub AS (
      |  SELECT vec_id AS id, m,
      |    list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1 + 16*m, 16*m + 16),
      |      x -> CAST(FLOOR(1000000 * x) AS BIGINT) + 2097152) AS qv
      |  FROM embeddings CROSS JOIN ms),
      |pq_init AS (
      |  SELECT vec_id FROM embeddings WHERE vec_id % 31 = 0
      |  ORDER BY vec_id LIMIT 16),
      |pq_cb0 AS (
      |  SELECT m, id AS cw, qv AS cv FROM qsub
      |  JOIN pq_init ON qsub.id = pq_init.vec_id),
      |pq_d0 AS (
      |  SELECT q.id, q.m, q.qv, c.cw,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS d
      |  FROM qsub q JOIN pq_cb0 c USING (m)),
      |pq_a0 AS (
      |  SELECT id, m, qv, cw FROM (
      |    SELECT id, m, qv, cw,
      |      ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, cw) AS rk
      |    FROM pq_d0) WHERE rk = 1),
      |pq_sums AS (
      |  SELECT m, cw, pos, CAST(SUM(x) AS BIGINT) AS sx, COUNT(*) AS n
      |  FROM (SELECT m, cw, unnest(qv) AS x,
      |          generate_subscripts(qv, 1) AS pos FROM pq_a0) t
      |  GROUP BY 1, 2, 3),
      |pq_cb1 AS (
      |  SELECT m, cw, list(sx // n ORDER BY pos) AS cv
      |  FROM pq_sums GROUP BY 1, 2),
      |ed AS (
      |  SELECT q.id, q.m, c.cw,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS dist
      |  FROM qsub q JOIN pq_cb1 c USING (m)),
      |enc AS (
      |  SELECT id, m, cw,
      |    ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY dist, cw) AS rk
      |  FROM ed),
      |codes AS (SELECT id, m, cw AS code FROM enc WHERE rk = 1),
      |dt AS (SELECT id AS qid, m, cw, dist FROM ed WHERE id < 10),
      |cand AS (
      |  SELECT p.qid, a.nid FROM probes p JOIN assign a USING (cid)
      |  WHERE a.nid <> p.qid),
      |adc AS (
      |  SELECT c.qid, c.nid, CAST(SUM(d.dist) AS BIGINT) AS adc
      |  FROM cand c
      |  JOIN codes k ON k.id = c.nid
      |  JOIN dt d ON d.qid = c.qid AND d.m = k.m AND d.cw = k.code
      |  GROUP BY 1, 2),
      |rr AS (SELECT qid, nid,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rk
      |       FROM adc)
      |SELECT qid AS query_id, CAST(rk AS INTEGER) AS "rank", nid AS neighbor
      |FROM rr WHERE rk <= 5 ORDER BY query_id, "rank"""".stripMargin

  private val triangleOracleSql: String =
    """WITH e AS (
      |  SELECT DISTINCT i.l_partkey AS a, j.l_partkey AS b
      |  FROM lineitem i JOIN lineitem j
      |    ON i.l_orderkey = j.l_orderkey AND i.l_partkey < j.l_partkey),
      |tri AS (
      |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
      |  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b
      |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      |n AS (SELECT unnest([u, v, w]) AS node FROM tri)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      |FROM n GROUP BY 1
      |ORDER BY n_tri DESC, node LIMIT 20""".stripMargin

  private def triangleTop20(s: SparkSession, d: String): DataFrame =
    graft.operators.Graph.triangleCounts(coPurchasePairs(s, d))
      .orderBy(col("n_tri").desc, col("node")).limit(20)

  val all: Seq[Query] = Seq(

    // ---- T: text analysis ----
    Query("t1_token_stats",
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks, text FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS INTEGER) AS n_tok,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_subword,
         |  CAST((1000 * len(list_filter(toks, x -> x IN ($stopList)))) // len(toks) AS BIGINT) AS stop_pm,
         |  CAST((100 * list_sum(list_transform(toks, x -> length(x)))) // len(toks) AS BIGINT) AS mean_len_x100
         |FROM t ORDER BY doc_id""".stripMargin)((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tok"),
        Text.subwordCount(col("text")).as("n_subword"),
        Text.stopwordPermille(col("text")).as("stop_pm"),
        Text.meanTokenLenX100(col("text")).as("mean_len_x100"))
        .orderBy("doc_id")),

    Query("t3_language_id", {
      val cases = Text.langMarkers.map { case (lang, m) =>
        (lang, markerFilter(m))
      }
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |c AS (SELECT doc_id, ${cases.map { case (l, e) => s"$e AS c_$l" }.mkString(", ")} FROM t)
         |SELECT doc_id, CASE
         |  WHEN greatest(${cases.map("c_" + _._1).mkString(",")}) = 0 THEN 'und'
         |  WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
         |  WHEN c_en >= c_es AND c_en >= c_fr THEN 'en'
         |  WHEN c_es >= c_fr THEN 'es'
         |  ELSE 'fr' END AS lang_pred
         |FROM c ORDER BY doc_id""".stripMargin
    })((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.languageId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    Query("t4_fingerprint",
      s"""WITH t AS (SELECT doc_id, lower(text) AS lt, string_split(lower(text), ' ') AS toks FROM documents)
         |SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
         |    list_min(list_transform(generate_series(1, len(toks) - 2),
         |      i -> ${hex60("array_to_string(list_slice(toks, i, i + 2), ' ')")}))
         |  ELSE ${hex60("lt")} END AS fp
         |FROM t ORDER BY doc_id""".stripMargin)((s, d) =>
      Dedup.fingerprints(Tables.documents(s, d))
        .select(col("id").as("doc_id"), col("fp"))
        .orderBy("doc_id")),

    Query("t5_top_terms",
      """SELECT term, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY cnt DESC, term LIMIT 20""".stripMargin)((s, d) =>
      Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(20)),

    // ---- D: deduplication ----
    // exact dedup over a doubled corpus (every doc duplicated once)
    Query("d1_exact_dedup",
      """WITH u AS (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |SELECT md5(lower(text)) AS key, COUNT(*) AS copies,
        |       MIN(doc_id) AS canonical
        |FROM u GROUP BY 1 ORDER BY canonical""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.exact(docs.unionByName(docs)).orderBy("canonical")
    }),

    Query("d2_minhash_lsh",
      s"""WITH $minhashPairsCtes
         |SELECT a, b FROM pairs ORDER BY a, b""".stripMargin)((s, d) =>
      Dedup.minhashNearDup(Tables.documents(s, d), num = 1, den = 2)
        .orderBy("a", "b")),

    Query("d3_simhash",
      s"""WITH $simhashSql
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY a, b""".stripMargin)((s, d) =>
      Dedup.simhashNearDup(Tables.documents(s, d), maxDist = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("a", "b")),

    Query("d4_ngram_jaccard",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
         |  WHERE len(string_split(lower(text), ' ')) >= 3),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> ${hex60("array_to_string(list_slice(toks, i, i + 2), ' ')")}))) AS s
         |  FROM t),
         |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b FROM inter
         |JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         |WHERE i * 2 >= (sa.nsh + sb.nsh - i) * 1
         |ORDER BY a, b""".stripMargin)((s, d) =>
      Dedup.ngramJaccardNearDup(
        Tables.documents(s, d).filter(Text.tokenCount(col("text")) >= 3),
        num = 1, den = 2).orderBy("a", "b")),

    // ---- D11: asymmetric containment — the small-doc-inside-big-doc
    // dup Jaccard misses (Broder's containment); integer-permille
    // score of the smaller profile's coverage ----
    Query("d11_containment",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
         |  WHERE len(string_split(lower(text), ' ')) >= 3),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> ${hex60("array_to_string(list_slice(toks, i, i + 2), ' ')")}))) AS s
         |  FROM t),
         |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b,
         |  CAST((1000 * i) // least(sa.nsh, sb.nsh) AS BIGINT) AS cont_pm
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         |WHERE (1000 * i) // least(sa.nsh, sb.nsh) >= 800
         |ORDER BY a, b""".stripMargin)((s, d) =>
      Dedup.containmentPairs(
        Tables.documents(s, d).filter(Text.tokenCount(col("text")) >= 3),
        thresholdPm = 800).orderBy("a", "b")),

    // ---- V: similarity search over embeddings ----
    Query("v1_ann_bruteforce",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT qid, vec_id AS nid, list_cosine_similarity(qv, embedding) AS c
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
        |r AS (SELECT qid, nid,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rk
        |      FROM s)
        |SELECT qid AS query_id, CAST(rk AS INTEGER) AS "rank", nid AS neighbor
        |FROM r WHERE rk <= 5 ORDER BY query_id, "rank"""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annBruteForce(e, e.filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rank")
    }),

    Query("v2_cosine_neardup",
      """SELECT a.vec_id AS a, b.vec_id AS b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.46
        |ORDER BY a, b""".stripMargin)((s, d) =>
      Similarity.cosineNearDup(Tables.embeddings(s, d), threshold = 0.46)
        .orderBy("a", "b")),

    Query("v3_lsh_buckets",
      s"""WITH planes AS (
         |  SELECT p, j, ((${hex60("p || '|' || j")} % 2001) - 1000) / 1000.0 AS w
         |  FROM (SELECT unnest(generate_series(0, 7)) AS p)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)),
         |d AS (
         |  SELECT e.vec_id, pl.p, SUM(e.embedding[pl.j + 1] * pl.w) AS dot
         |  FROM embeddings e CROSS JOIN planes pl GROUP BY 1, 2),
         |b AS (
         |  SELECT vec_id, SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
         |  FROM d GROUP BY 1)
         |SELECT vec_id AS id, CAST(bucket AS BIGINT) AS bucket FROM b ORDER BY id""".stripMargin)((s, d) =>
      Similarity.hyperplaneBuckets(Tables.embeddings(s, d), planes = 8)
        .orderBy("id")),

    // ---- V4: LSH-bucketed ANN end-to-end (the scale path of v1) ----
    Query("v4_ann_lsh",
      s"""WITH planes AS (
         |  SELECT p, j, ((${hex60("p || '|' || j")} % 2001) - 1000) / 1000.0 AS w
         |  FROM (SELECT unnest(generate_series(0, 7)) AS p)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)),
         |dots AS (
         |  SELECT e.vec_id, pl.p, SUM(e.embedding[pl.j + 1] * pl.w) AS dot
         |  FROM embeddings e CROSS JOIN planes pl GROUP BY 1, 2),
         |bk AS (
         |  SELECT vec_id, SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
         |  FROM dots GROUP BY 1),
         |q AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10),
         |s AS (
         |  SELECT x.qid, e2.vec_id AS nid,
         |         list_cosine_similarity(e1.embedding, e2.embedding) AS c
         |  FROM q x
         |  JOIN embeddings e1 ON e1.vec_id = x.qid
         |  JOIN bk bq ON bq.vec_id = x.qid
         |  JOIN bk bn ON bn.bucket = bq.bucket
         |  JOIN embeddings e2 ON e2.vec_id = bn.vec_id AND e2.vec_id <> x.qid),
         |r AS (SELECT qid, nid,
         |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rk
         |      FROM s)
         |SELECT qid AS query_id, CAST(rk AS INTEGER) AS "rank", nid AS neighbor
         |FROM r WHERE rk <= 5 ORDER BY query_id, "rank"""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annLsh(e, e.filter(col("vec_id") < 10), k = 5, planes = 8)
        .orderBy("query_id", "rank")
    }),

    // ---- V15: ANN recall evaluation — the index-quality gate a
    // production vector pipeline ships with: LSH top-k vs exact
    // brute-force top-k per query, recall as integer permille. Both
    // sides reuse the library's own rankers; the hit count is one
    // equi-join on (query, neighbor) ----
    Query("v15_recall_eval",
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |bs AS (
         |  SELECT qid, vec_id AS nid, list_cosine_similarity(qv, embedding) AS c
         |  FROM embeddings CROSS JOIN bq WHERE vec_id <> qid),
         |br AS (SELECT qid, nid,
         |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rk
         |      FROM bs),
         |truth AS (SELECT qid, nid FROM br WHERE rk <= 5),
         |planes AS (
         |  SELECT p, j, ((${hex60("p || '|' || j")} % 2001) - 1000) / 1000.0 AS w
         |  FROM (SELECT unnest(generate_series(0, 7)) AS p)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)),
         |dots AS (
         |  SELECT e.vec_id, pl.p, SUM(e.embedding[pl.j + 1] * pl.w) AS dot
         |  FROM embeddings e CROSS JOIN planes pl GROUP BY 1, 2),
         |bk AS (
         |  SELECT vec_id, SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
         |  FROM dots GROUP BY 1),
         |ls AS (
         |  SELECT x.qid, e2.vec_id AS nid,
         |         list_cosine_similarity(e1.embedding, e2.embedding) AS c
         |  FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10) x
         |  JOIN embeddings e1 ON e1.vec_id = x.qid
         |  JOIN bk bq2 ON bq2.vec_id = x.qid
         |  JOIN bk bn ON bn.bucket = bq2.bucket
         |  JOIN embeddings e2 ON e2.vec_id = bn.vec_id AND e2.vec_id <> x.qid),
         |lr AS (SELECT qid, nid,
         |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rk
         |      FROM ls),
         |approx AS (SELECT qid, nid FROM lr WHERE rk <= 5),
         |h AS (
         |  SELECT t.qid, COUNT(*) AS hits FROM truth t
         |  JOIN approx a ON a.qid = t.qid AND a.nid = t.nid GROUP BY 1)
         |SELECT q.qid AS query_id, COALESCE(h.hits, 0) AS hits,
         |       COALESCE(h.hits, 0) * 200 AS recall_permille
         |FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10) q
         |LEFT JOIN h ON h.qid = q.qid
         |ORDER BY query_id""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val truth = Similarity.annBruteForce(e, q, k = 5)
        .select(col("query_id"), col("neighbor"))
      val approx = Similarity.annLsh(e, q, k = 5, planes = 8)
        .select(col("query_id"), col("neighbor"))
      val hits = truth.join(approx, Seq("query_id", "neighbor"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).as("hits"),
          (coalesce(col("h"), lit(0L)) * 200).as("recall_permille"))
        .orderBy("query_id")
    }),

    // ---- V16: filtered vector search — the pre-filter/post-filter
    // contrast every metadata-constrained ANN system faces. PRE
    // filters the corpus BEFORE the search (the label predicate
    // pushes into the parquet scan, so a selective filter shrinks
    // the candidate set at the source — the scale path); POST runs
    // the unfiltered search and discards non-matching neighbors
    // AFTER top-k, silently returning < k results. The row pins both
    // counts per query so the semantic gap is itself oracle-gated ----
    // v16: both branches replay v1's ranking CTE — PRE constrains the
    // candidate set before ranking, POST ranks everything then drops
    // non-matching neighbors from the top-k
    Query("v16_filtered_ann",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |pre_s AS (
        |  SELECT qid, vec_id AS nid, list_cosine_similarity(qv, embedding) AS c
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> qid AND label = 1),
        |pre_r AS (SELECT qid,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rk
        |      FROM pre_s),
        |pre AS (SELECT qid, COUNT(*) AS n_pre FROM pre_r WHERE rk <= 5 GROUP BY qid),
        |post_s AS (
        |  SELECT qid, vec_id AS nid, label, list_cosine_similarity(qv, embedding) AS c
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
        |post_r AS (SELECT qid, label,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rk
        |      FROM post_s),
        |post AS (SELECT qid, COUNT(*) FILTER (WHERE label = 1) AS n_post
        |         FROM post_r WHERE rk <= 5 GROUP BY qid)
        |SELECT pre.qid AS query_id,
        |  CAST(pre.n_pre AS BIGINT) AS n_pre,
        |  CAST(COALESCE(post.n_post, 0) AS BIGINT) AS n_post
        |FROM pre LEFT JOIN post ON pre.qid = post.qid
        |ORDER BY query_id""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val pre = Similarity.annBruteForce(e.filter(col("label") === 1), q, k = 5)
        .groupBy("query_id").agg(count(lit(1)).as("n_pre"))
      val post = Similarity.annBruteForce(e, q, k = 5)
        .join(e.select(col("vec_id").as("neighbor"), col("label")),
          Seq("neighbor"))
        .filter(col("label") === 1)
        .groupBy("query_id").agg(count(lit(1)).as("n_post"))
      pre.join(post, Seq("query_id"), "left")
        .select(col("query_id"), col("n_pre"),
          coalesce(col("n_post"), lit(0L)).as("n_post"))
        .orderBy("query_id")
    }),

    // ---- M: multimodal binary-column plumbing. The default decoder
    // is the REAL UTF-8 text codec (lines × widest line in code
    // points) — a genuine modality decode the oracle can recompute;
    // image/audio kinds plug into the same Decoder seam ----
    // real text decode: height = line count (split -1 semantics),
    // width = widest line in code points (DuckDB length() counts code
    // points, matching the decoder's codePointCount)
    Query("m1_multimodal_decode",
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CAST(list_max(list_transform(string_split(text, chr(10)),
        |    x -> length(x))) AS INTEGER) AS width,
        |  CAST(len(string_split(text, chr(10))) AS INTEGER) AS height
        |FROM documents ORDER BY media_id""".stripMargin)((s, d) =>
      Multimodal.decodeFeatures(
        Multimodal.asMediaTable(Tables.documents(s, d)))
        .orderBy("media_id")),

    // ---- M2: keyframe extraction over REAL frame containers — each
    // payload is an indexed sequence of genuine PNG frames
    // (videoMediaTable); the sampler seeks every 2nd frame via the
    // container index and decodes THAT frame's bytes through the JDK
    // codec. Ground-truth dims are pure id arithmetic the oracle
    // recomputes; Spark must round-trip real PNGs to recover them ----
    // m2: the oracle recomputes the container fixture's ground-truth
    // arithmetic (count = 3 + id mod 4; frame f dims 4 + (id·7 +
    // f·3) mod 13 × 4 + (id·5 + f·11) mod 9, every 2nd frame) — the
    // Spark side must seek the container index and decode genuine
    // PNG bytes to produce the same rows
    Query("m2_frame_sample",
      """SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_no,
        |  CAST(4 + (doc_id*7 + f*3) % 13 AS INTEGER) AS width,
        |  CAST(4 + (doc_id*5 + f*11) % 9 AS INTEGER) AS height
        |FROM documents
        |CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS f)
        |WHERE f < 3 + doc_id % 4 AND f % 2 = 0
        |ORDER BY media_id, frame_no""".stripMargin)((s, d) =>
      Multimodal.sampleImageFrames(
          Multimodal.videoMediaTable(Tables.documents(s, d)), everyN = 2)
        .orderBy("media_id", "frame_no")),

    // ---- M3: cross-modal frame alignment — two frame streams at
    // different cadences (the audio/video sync problem) zip via the
    // native as-of operator: each 64-byte keyframe attaches the most
    // recent 48-byte frame at or before its byte offset ----
    Query("m3_frame_align",
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(text) = octet_length(encode(text))),
        |idx AS (SELECT unnest(generate_series(0,
        |  (SELECT CAST(MAX(length(text)) / 48 AS INTEGER) + 1 FROM documents))) AS i),
        |a AS (
        |  SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_a,
        |         CAST(64*i AS BIGINT) AS pts_a
        |  FROM docs CROSS JOIN idx
        |  WHERE 64*i < length(text) AND i % 4 = 0),
        |b AS (
        |  SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_b,
        |         CAST(48*i AS BIGINT) AS pts_b
        |  FROM docs CROSS JOIN idx
        |  WHERE 48*i < length(text) AND i % 3 = 0)
        |SELECT a.media_id, a.frame_a, a.pts_a, b.frame_b, b.pts_b,
        |       a.pts_a - b.pts_b AS lag
        |FROM a ASOF JOIN b
        |  ON a.media_id = b.media_id AND a.pts_a >= b.pts_b
        |ORDER BY a.media_id, frame_a""".stripMargin)((s, d) => {
      val media = Multimodal.asMediaTable(Tables.documents(s, d)
        .filter(length(col("text")) === octet_length(col("text"))))
      val a = Multimodal.sampleFrames(media, frameBytes = 64, everyN = 4)
        .select(col("media_id"), col("frame_no").cast("long").as("frame_a"),
          (col("frame_no") * 64L).as("pts_a"))
      val b = Multimodal.sampleFrames(media, frameBytes = 48, everyN = 3)
        .select(col("media_id"), col("frame_no").cast("long").as("frame_b"),
          (col("frame_no") * 48L).as("pts_b"))
      graft.operators.AsOfJoin.leftAsOf(a, b, key = "media_id",
          ltime = "pts_a", lid = "frame_a", rtime = "pts_b", rid = "frame_b")
        // pin INNER semantics explicitly (DuckDB's ASOF JOIN is inner):
        // today every non-empty payload has a frame at pts_b=0 so the
        // left as-of never misses, but that is a property of the
        // current everyN/frameBytes choice, not of the operator —
        // without this filter a payload shorter than one b-frame would
        // emit a null-match row the oracle drops
        .filter(col("frame_b").isNotNull)
        .select(col("media_id"), col("frame_a"), col("pts_a"),
          col("frame_b"), col("pts_b"),
          (col("pts_a") - col("pts_b")).as("lag"))
        .orderBy("media_id", "frame_a")
    }),

    // ---- M4: REAL image decode — genuine PNG payloads (deterministic
    // dims from id arithmetic, pixels encoded through the JDK PNG
    // writer executor-side) decoded back by the javax.imageio decoder;
    // the oracle recomputes the ground-truth dims arithmetically, so
    // the round-trip through actual pixel decoding is what's gated ----
    // the Spark side must round-trip genuine PNG bytes through the
    // JDK codec to recover dims the oracle derives arithmetically
    Query("m4_image_decode",
      """SELECT doc_id AS media_id,
        |       CAST(8 + doc_id % 32 AS INTEGER) AS width,
        |       CAST(8 + doc_id % 16 AS INTEGER) AS height
        |FROM documents ORDER BY media_id""".stripMargin)((s, d) =>
      Multimodal.decodeFeatures(
          Multimodal.pngMediaTable(Tables.documents(s, d)),
          decoder = Multimodal.ImageIoDecoder)
        .select(col("media_id"), col("width"), col("height"))
        .orderBy("media_id")),

    // ---- M5: audio decode — deterministic PCM wrapped in real
    // RIFF/WAVE headers, decoded back through the genuine JDK audio
    // codec (javax.sound.sampled); header fields + exact integer
    // signal energy are the oracle-checkable ground truth ----
    // ground truth of the WAV fixture, recomputed independently:
    // the Spark side must round-trip real RIFF bytes through the JDK
    // audio codec to produce the same numbers
    Query("m5_audio_energy",
      """SELECT doc_id AS media_id,
        |       8000 AS sample_rate,
        |       CAST(64 + doc_id % 64 AS INTEGER) AS n_samples,
        |       CAST(list_sum(list_transform(
        |         range(0, CAST(64 + doc_id % 64 AS BIGINT)),
        |         k -> ((doc_id * 31 + k * 17) % 2048 - 1024)
        |            * ((doc_id * 31 + k * 17) % 2048 - 1024))) AS BIGINT) AS energy
        |FROM documents ORDER BY media_id""".stripMargin)((s, d) =>
      Multimodal.decodeAudio(
          Multimodal.wavMediaTable(Tables.documents(s, d)))
        .orderBy("media_id")),

    // ---- M8: audio downsample — m5's transform sibling: decode the
    // real WAV payload, decimate 4:1 with a block-mean anti-alias
    // filter (floorDiv, integer-exact), emit resampled stats. The
    // oracle recomputes the whole chain from the signal's generator
    // arithmetic — so a codec or filter defect shows as a hash miss ----
    // resampled ground truth: 4:1 block means over the same generator
    // signal (floor division matches the engine's floorDiv)
    Query("m8_audio_resample",
      """WITH r AS (
        |  SELECT doc_id AS media_id,
        |    list_transform(range(0, CAST((64 + doc_id % 64) // 4 AS BIGINT)),
        |      b -> CAST(FLOOR((
        |          ((doc_id * 31 + (4*b + 0) * 17) % 2048 - 1024) +
        |          ((doc_id * 31 + (4*b + 1) * 17) % 2048 - 1024) +
        |          ((doc_id * 31 + (4*b + 2) * 17) % 2048 - 1024) +
        |          ((doc_id * 31 + (4*b + 3) * 17) % 2048 - 1024)) / 4.0)
        |        AS BIGINT)) AS outs
        |  FROM documents)
        |SELECT media_id, 2000 AS out_rate,
        |       CAST(len(outs) AS INTEGER) AS n_out,
        |       CAST(list_sum(list_transform(outs, x -> x * x)) AS BIGINT)
        |         AS energy_out
        |FROM r ORDER BY media_id""".stripMargin)((s, d) =>
      Multimodal.resampleAudio(
          Multimodal.wavMediaTable(Tables.documents(s, d)), factor = 4)
        .orderBy("media_id")),

    // ---- M6: perceptual image hash — REAL PNG decode through the
    // JDK codec, then aHash over the pixel buffer (integer luma,
    // floored-mean threshold, 64 bits packed sign-safe as two 32-bit
    // halves); ground truth recomputed arithmetically by the oracle ----
    // pixel ground truth of the phash fixture, recomputed from the md5
    // arithmetic the generator uses; the Spark side must decode real
    // PNG bytes to reproduce these hashes
    Query("m6_image_phash",
      s"""WITH gy AS (
         |  SELECT doc_id, unnest(generate_series(0, 7)) AS y FROM documents),
         |gx AS (
         |  SELECT doc_id, y, unnest(generate_series(0, 7)) AS x FROM gy),
         |px0 AS (
         |  SELECT doc_id, x, y,
         |    ${hex60("'p' || (doc_id // 10) || ':' || x || ':' || y")} % 256 AS base,
         |    ${hex60("'f' || (doc_id % 10) || ':' || x || ':' || y")} % 32 AS fh
         |  FROM gx),
         |px AS (
         |  SELECT doc_id, x, y,
         |    CASE WHEN doc_id % 10 > 0 AND fh = 0 THEN 255 - base
         |         ELSE base END AS l
         |  FROM px0),
         |m AS (SELECT doc_id, SUM(l) // 64 AS mean FROM px GROUP BY 1),
         |bits AS (
         |  SELECT p.doc_id,
         |    CAST(SUM(CASE WHEN l > mean AND y * 8 + x >= 32
         |      THEN CAST(1 AS BIGINT) << (y * 8 + x - 32) ELSE 0 END) AS BIGINT)
         |      AS phash_hi,
         |    CAST(SUM(CASE WHEN l > mean AND y * 8 + x < 32
         |      THEN CAST(1 AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT)
         |      AS phash_lo
         |  FROM px p JOIN m USING (doc_id) GROUP BY 1)
         |SELECT doc_id AS media_id, phash_hi, phash_lo
         |FROM bits ORDER BY media_id""".stripMargin)((s, d) =>
      Multimodal.imagePhash(
          Multimodal.phashMediaTable(Tables.documents(s, d)))
        .orderBy("media_id")),

    // ---- M7: hamming near-dup over perceptual hashes — 4×16-bit
    // band blocking (pigeonhole-exact to hamming 3) + bit_count(xor)
    // verify; the image-modality twin of the SimHash text dedup ----
    Query("m7_phash_neardup",
      s"""WITH gy AS (
         |  SELECT doc_id, unnest(generate_series(0, 7)) AS y FROM documents),
         |gx AS (
         |  SELECT doc_id, y, unnest(generate_series(0, 7)) AS x FROM gy),
         |px0 AS (
         |  SELECT doc_id, x, y,
         |    ${hex60("'p' || (doc_id // 10) || ':' || x || ':' || y")} % 256 AS base,
         |    ${hex60("'f' || (doc_id % 10) || ':' || x || ':' || y")} % 32 AS fh
         |  FROM gx),
         |px AS (
         |  SELECT doc_id, x, y,
         |    CASE WHEN doc_id % 10 > 0 AND fh = 0 THEN 255 - base
         |         ELSE base END AS l
         |  FROM px0),
         |m AS (SELECT doc_id, SUM(l) // 64 AS mean FROM px GROUP BY 1),
         |bits AS (
         |  SELECT p.doc_id,
         |    CAST(SUM(CASE WHEN l > mean AND y * 8 + x >= 32
         |      THEN CAST(1 AS BIGINT) << (y * 8 + x - 32) ELSE 0 END) AS BIGINT)
         |      AS phash_hi,
         |    CAST(SUM(CASE WHEN l > mean AND y * 8 + x < 32
         |      THEN CAST(1 AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT)
         |      AS phash_lo
         |  FROM px p JOIN m USING (doc_id) GROUP BY 1)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.phash_hi, y.phash_hi))
         |     + bit_count(xor(x.phash_lo, y.phash_lo)) AS INTEGER) AS dist
         |FROM bits x JOIN bits y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.phash_hi, y.phash_hi))
         |    + bit_count(xor(x.phash_lo, y.phash_lo)) <= 3
         |ORDER BY a, b""".stripMargin)((s, d) =>
      Multimodal.phashNearDup(
          Multimodal.imagePhash(
            Multimodal.phashMediaTable(Tables.documents(s, d))),
          maxDist = 3)
        .orderBy("a", "b")),

    // ---- D12: Fellegi–Sunter record linkage — sorted-neighborhood
    // blocks on the id, integer agreement weights over (nation,
    // segment, balance, name edit distance); the entity-resolution
    // operator entity-heavy corpora dedup with ----
    Query("d12_record_linkage",
      """WITH c AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |         c_custkey // 50 AS blk
        |  FROM customer),
        |p AS (
        |  SELECT x.c_custkey AS a, y.c_custkey AS b,
        |    CAST((CASE WHEN x.c_nationkey = y.c_nationkey THEN 40 ELSE 0 END)
        |       + (CASE WHEN x.c_mktsegment = y.c_mktsegment THEN 25 ELSE 0 END)
        |       + (CASE WHEN abs(CAST(round(x.c_acctbal * 100) AS BIGINT)
        |                      - CAST(round(y.c_acctbal * 100) AS BIGINT))
        |               <= 50000 THEN 35 ELSE 0 END)
        |       + (CASE WHEN levenshtein(x.c_name, y.c_name) <= 4
        |               THEN 50 ELSE 0 END) AS INTEGER) AS score
        |  FROM c x JOIN c y ON x.blk = y.blk AND x.c_custkey < y.c_custkey)
        |SELECT a, b, score FROM p WHERE score >= 100
        |ORDER BY score DESC, a, b LIMIT 100""".stripMargin)((s, d) => {
      import graft.dedup.Linkage
      val c = Tables.customer(s, d)
        .withColumn("blk", expr("c_custkey div 50"))
      Linkage.linkagePairs(c, "c_custkey", Seq("blk"),
          Seq(
            Linkage.Agreement("c_nationkey", (l, r) => l === r, 40),
            Linkage.Agreement("c_mktsegment", (l, r) => l === r, 25),
            Linkage.Agreement("c_acctbal", (l, r) =>
              abs(round(l * 100).cast("long") - round(r * 100).cast("long"))
                <= 50000L, 35),
            // bounded form (Spark 3.5+): the banded DP early-exits
            // once the distance provably exceeds the threshold and
            // returns -1 — O(threshold·len) instead of O(len²) per
            // pair across the ~3.7M blocked candidates (guide §1.2
            // step 2: per-task work). `>= 0` ⇔ distance <= 4; null
            // inputs yield null ⇔ false under when(), same as before.
            Linkage.Agreement("c_name", (l, r) => levenshtein(l, r, 4) >= 0, 50)),
          threshold = 100)
        .orderBy(col("score").desc, col("a"), col("b"))
        .limit(100)
    }),

    // ---- T6: Gopher-style quality rules (integer flags) ----
    Query("t6_quality_rules",
      s"""WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents),
         |q AS (SELECT doc_id,
         |  CAST(len(toks) AS INTEGER) AS n_tok,
         |  CAST(len(toks) BETWEEN 20 AND 90 AS INTEGER) AS r_len,
         |  CAST(((100 * list_sum(list_transform(toks, x -> length(x)))) // len(toks))
         |    BETWEEN 400 AND 1000 AS INTEGER) AS r_meanlen,
         |  CAST(len(list_filter(toks, x -> x IN ($stopList))) >= 2 AS INTEGER) AS r_stop,
         |  CAST(((1000 * length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')))
         |    // length(text)) <= 100 AS INTEGER) AS r_symbol
         | FROM t)
         |SELECT doc_id, n_tok, r_len, r_meanlen, r_stop, r_symbol,
         |  CAST(r_len = 1 AND r_meanlen = 1 AND r_stop = 1 AND r_symbol = 1
         |    AS INTEGER) AS keep
         |FROM q ORDER BY doc_id""".stripMargin)((s, d) => {
      val t = col("text")
      Tables.documents(s, d).select(col("doc_id"),
        Text.tokenCount(t).as("n_tok"),
        (Text.tokenCount(t) >= 20 && Text.tokenCount(t) <= 90)
          .cast("int").as("r_len"),
        (Text.meanTokenLenX100(t) >= 400 && Text.meanTokenLenX100(t) <= 1000)
          .cast("int").as("r_meanlen"),
        (Text.stopwordCount(t) >= 2).cast("int").as("r_stop"),
        (Text.symbolPermille(t) <= 100).cast("int").as("r_symbol"))
        .withColumn("keep",
          (col("r_len") === 1 && col("r_meanlen") === 1 &&
            col("r_stop") === 1 && col("r_symbol") === 1).cast("int"))
        .orderBy("doc_id")
    }),

    // ---- T7: PII scrub — deterministic PII injected per doc, then the
    // REAL regex counters/scrubber run over it (engine-mirrored) ----
    Query("t7_pii_scrub",
      """WITH t AS (SELECT doc_id,
        |  text || ' contact u' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com or call 555-' || CAST(doc_id % 10000 AS VARCHAR) AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt, '[a-z0-9.]+@[a-z0-9.]+')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(txt, '[0-9]{3}-[0-9]+')) AS INTEGER) AS n_phone,
        |  CAST(length(regexp_replace(regexp_replace(txt,
        |    '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]+', '<PHONE>', 'g')) AS INTEGER) AS red_len
        |FROM t ORDER BY doc_id""".stripMargin)((s, d) => {
      val txt = concat(col("text"), lit(" contact u"),
        col("doc_id").cast("string"), lit("@example.com or call 555-"),
        pmod(col("doc_id"), lit(10000)).cast("string"))
      Tables.documents(s, d).withColumn("txt", txt)
        .select(col("doc_id"),
          Text.emailCount(col("txt")).as("n_email"),
          Text.phoneCount(col("txt")).as("n_phone"),
          length(Text.scrubPii(col("txt"))).as("red_len"))
        .orderBy("doc_id")
    }),

    // ---- T8: deterministic train/val split (salted-hash bucket; no
    // rand() — rerun-stable and engine-reproducible) ----
    Query("t8_train_split",
      s"""SELECT lang,
         |  CASE WHEN ${hex60("CAST(doc_id AS VARCHAR) || '|split-v1'")} % 100 < 90
         |    THEN 'train' ELSE 'val' END AS split,
         |  COUNT(*) AS cnt
         |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)((s, d) =>
      Tables.documents(s, d)
        .withColumn("split",
          Text.splitAssign(col("doc_id"), "split-v1", 90))
        .groupBy("lang", "split").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "split")),

    // ---- T9: stratified reproducible sample — smallest salted hash
    // per language stratum ----
    Query("t9_stratified_sample",
      s"""WITH r AS (
         |  SELECT lang, doc_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ${hex60("CAST(doc_id AS VARCHAR) || '|sample-v1'")}, doc_id)
         |      AS INTEGER) AS rn
         |  FROM documents)
         |SELECT lang, rn, doc_id FROM r WHERE rn <= 20
         |ORDER BY lang, rn""".stripMargin)((s, d) => {
      val w = Window.partitionBy("lang")
        .orderBy(Text.sampleRank(col("doc_id"), "sample-v1"), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("doc_id"))
        .orderBy("lang", "rn")
    }),

    // ---- T10: frequent terms via the Misra–Gries mergeable sketch
    // (the scale path of t5): one bounded capacity-entry map per
    // partition crosses the shuffle instead of one row per token
    // occurrence. Capacity above the corpus dictionary => exact, which
    // is the regime the oracle gates; the lossy regime's error bounds
    // are spec-tested (FrequentItemsSpec) ----
    // exact regime: sketch capacity (65536) far exceeds the corpus
    // dictionary, so the Misra–Gries counts equal the exact group-by
    Query("t10_frequent_terms",
      """SELECT term, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY cnt DESC, term LIMIT 20""".stripMargin)((s, d) => {
      val sketch = udaf(new FrequentItems(1 << 16))
      Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("term"))
        .agg(sketch(col("term")).as("sk"))
        .select(explode(col("sk")).as(Seq("term", "cnt")))
        .orderBy(col("cnt").desc, col("term")).limit(20)
    }),

    // ---- T11: TF-IDF term scoring, top-3 discriminative terms per
    // doc. Integer score tf*1e6 div df (a monotone rational-idf
    // variant) — log-idf is a cross-engine float hazard under the
    // bit-exact oracle. The df dictionary aggregates far below the
    // term-occurrence table, so it broadcasts: the big tf side joins
    // without a second shuffle ----
    Query("t11_tfidf",
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |ranked AS (
        |  SELECT tf.doc_id, tf.term, tf.tf * 1000000 // df.df AS score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * 1000000 // df.df DESC, tf.term) AS INTEGER) AS rn
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, rn, term, score FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin)((s, d) => {
      val terms = Tables.documents(s, d).select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(broadcast(dfreq), "term")
        .withColumn("score", expr("tf * 1000000 div df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("term"), col("score"))
        .orderBy("doc_id", "rn")
    }),

    // ---- T12: count-min sketch point frequencies, exact regime
    // (width 27k ≫ 5 probe keys -> estimates equal exact counts and
    // the plain GROUP BY oracle applies; lossy-regime bound is
    // spec-tested in FrequentItemsSpec) ----
    // exact regime: CMS width far exceeds the 5 probed keys, so the
    // estimates equal the exact group-by counts
    Query("t12_cms_counts",
      """SELECT event_type AS value, COUNT(*) AS est
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)((s, d) =>
      graft.functions.Cms.termCounts(ev(s, d), "event_type",
          Seq("view", "click", "purchase", "error", "signup"))
        .orderBy("value")),

    // ---- D5: line-level dedup (boilerplate chunks shared across docs) ----
    Query("d5_line_dedup",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |ch AS (
        |  SELECT doc_id, array_to_string(list_slice(toks, 8*i + 1, 8*i + 8), ' ') AS chunk
        |  FROM t CROSS JOIN (SELECT unnest(generate_series(0,
        |    (SELECT CAST(MAX(len(toks)) / 8 AS INTEGER) + 1 FROM t))) AS i)
        |  WHERE 8*i + 8 <= len(toks)),
        |g AS (
        |  SELECT chunk, COUNT(*) AS copies, MIN(doc_id) AS canonical
        |  FROM ch GROUP BY chunk HAVING COUNT(*) > 1)
        |SELECT md5(chunk) AS key, copies, canonical FROM g ORDER BY key""".stripMargin)((s, d) =>
      Dedup.lineDedup(Tables.documents(s, d)).orderBy("key")),

    // ---- T27: boilerplate detection — d5's per-SOURCE twin: chunks
    // repeated across one source's documents are that source's
    // template (strip), not clone evidence (dedup) ----
    Query("t27_boilerplate",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |ch AS (
        |  SELECT doc_id, array_to_string(list_slice(toks, 8*i + 1, 8*i + 8), ' ') AS chunk
        |  FROM t CROSS JOIN (SELECT unnest(generate_series(0,
        |    (SELECT CAST(MAX(len(toks)) / 8 AS INTEGER) + 1 FROM t))) AS i)
        |  WHERE 8*i + 8 <= len(toks)),
        |g AS (
        |  SELECT s.source, md5(ch.chunk) AS key,
        |         COUNT(DISTINCT ch.doc_id) AS df,
        |         MIN(ch.doc_id) AS canonical
        |  FROM ch JOIN documents s ON ch.doc_id = s.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT ch.doc_id) >= 2)
        |SELECT source, key, df, canonical FROM g
        |ORDER BY source, key""".stripMargin)((s, d) =>
      Dedup.boilerplateChunks(Tables.documents(s, d), minDf = 2)
        .orderBy("source", "key")),

    // ---- D6: near-dup clusters — connected components over the
    // minhash pair graph (the keep-one-per-cluster assignment),
    // served from the write-once clusters table: the chain builds
    // and writes ONCE per (JVM, corpus, params); d6/d13/d14 all read
    // the same files (the production trade — the assignment is a
    // curated table written per corpus generation, not a per-report
    // recomputation; mirrors store/LifetimeMv and the o19/o20
    // bucket layout) ----
    Query("d6_dedup_clusters",
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT a AS x, b AS y FROM pairs
         |  UNION SELECT b AS x, a AS y FROM pairs),
         |rr(x, y) AS (
         |  SELECT x, y FROM edges
         |  UNION
         |  SELECT rr.x, e.y FROM rr JOIN edges e ON rr.y = e.x),
         |m AS (SELECT x, MIN(y) AS mn FROM rr GROUP BY x)
         |SELECT doc_id, CAST(CASE WHEN m.mn IS NULL OR m.mn > doc_id
         |  THEN doc_id ELSE m.mn END AS BIGINT) AS cluster
         |FROM documents LEFT JOIN m ON m.x = doc_id
         |ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clustersTable(docs, num = 1, den = 2)
        .orderBy("doc_id")
    }),

    // ---- D13: survivorship — the dedup pipeline's final decision:
    // per near-dup cluster, keep the longest member (ties to the
    // lower id). Reads the write-once clusters table (shared with
    // d6/d14), then one argmin-struct aggregate picks survivors ----
    // d13 extends the d6 closure with the survivorship pick
    Query("d13_survivorship",
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT a AS x, b AS y FROM pairs
         |  UNION SELECT b AS x, a AS y FROM pairs),
         |rr(x, y) AS (
         |  SELECT x, y FROM edges
         |  UNION
         |  SELECT rr.x, e.y FROM rr JOIN edges e ON rr.y = e.x),
         |m AS (SELECT x, MIN(y) AS mn FROM rr GROUP BY x),
         |cl AS (
         |  SELECT doc_id, n_chars, CAST(CASE WHEN m.mn IS NULL OR m.mn > doc_id
         |    THEN doc_id ELSE m.mn END AS BIGINT) AS cluster
         |  FROM documents LEFT JOIN m ON m.x = doc_id),
         |sv AS (
         |  SELECT cluster, doc_id AS survivor, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY cluster
         |      ORDER BY n_chars DESC, doc_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY cluster) AS n_members
         |  FROM cl)
         |SELECT cluster, survivor, CAST(n_chars AS BIGINT) AS survivor_len,
         |       CAST(n_members AS BIGINT) AS n_members
         |FROM sv WHERE rk = 1 ORDER BY cluster""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = Dedup.clustersTable(docs, num = 1, den = 2)
      clusters.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .groupBy("cluster")
        .agg(min(struct((-col("n_chars")).as("nl"), col("doc_id").as("id")))
            .as("m"),
          count(lit(1)).as("n_members"))
        .select(col("cluster"), col("m.id").as("survivor"),
          (-col("m.nl")).as("survivor_len"), col("n_members"))
        .orderBy("cluster")
    }),

    // ---- D14: soft dedup — instead of DROPPING near-duplicates
    // (d13's survivorship pick), weight every doc by 1/cluster_size
    // so each near-dup family contributes ONE doc-equivalent of mass;
    // the per-language effective corpus size after soft dedup. The
    // modern alternative when dup families carry distinct metadata
    // worth keeping. Weights are integer permille (floor(1000/size),
    // floor(n*1000/size)) so the row is engine-exact. Plan shape:
    // the write-once clusters table (shared with d6/d13) scans back,
    // the doc table joins its (id, cluster) labels on one shuffle
    // and the tiny cluster-size frame broadcasts ----
    // d6's closure, then 1/cluster_size permille weights — integer
    // floor both sides ((n*1000)//csize)
    Query("d14_soft_dedup",
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT a AS x, b AS y FROM pairs
         |  UNION SELECT b AS x, a AS y FROM pairs),
         |rr(x, y) AS (
         |  SELECT x, y FROM edges
         |  UNION
         |  SELECT rr.x, e.y FROM rr JOIN edges e ON rr.y = e.x),
         |m AS (SELECT x, MIN(y) AS mn FROM rr GROUP BY x),
         |cl AS (
         |  SELECT doc_id, CASE WHEN m.mn IS NULL OR m.mn > doc_id
         |    THEN doc_id ELSE m.mn END AS cluster
         |  FROM documents LEFT JOIN m ON m.x = doc_id),
         |sz AS (SELECT cluster, COUNT(*) AS csize FROM cl GROUP BY 1),
         |docw AS (
         |  SELECT d.lang, len(string_split(lower(d.text), ' ')) AS n, sz.csize
         |  FROM documents d
         |  JOIN cl ON cl.doc_id = d.doc_id
         |  JOIN sz USING (cluster))
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
         |  CAST(SUM(n) AS BIGINT) AS tokens,
         |  CAST(SUM(1000 // csize) AS BIGINT) AS weight_x1000,
         |  CAST(SUM((n * 1000) // csize) AS BIGINT) AS tok_weight_x1000
         |FROM docw GROUP BY lang ORDER BY lang""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = Dedup.clustersTable(docs, num = 1, den = 2)
      val sized = clusters.groupBy("cluster").agg(count(lit(1)).as("csize"))
      docs.select(col("doc_id"), col("lang"),
          Text.tokenCount(col("text")).cast("long").as("n"))
        .join(clusters, Seq("doc_id"))
        .join(sized, Seq("cluster"))
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum("n").as("tokens"),
          sum(expr("1000 div csize")).as("weight_x1000"),
          sum(expr("(n * 1000) div csize")).as("tok_weight_x1000"))
        .orderBy("lang")
    }),

    // ---- G1: PageRank centrality over the co-purchase part graph
    // (parts sharing an order) — integer-exact damping arithmetic,
    // 2 Lloyd-style iterations, the whole loop oracle-checked ----
    Query("g1_pagerank",
      """WITH pr0 AS (
        |  SELECT DISTINCT i.l_partkey AS a, j.l_partkey AS b
        |  FROM lineitem i JOIN lineitem j
        |    ON i.l_orderkey = j.l_orderkey AND i.l_partkey < j.l_partkey),
        |und AS (SELECT a AS src, b AS dst FROM pr0
        |        UNION ALL SELECT b AS src, a AS dst FROM pr0),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
        |c0 AS (SELECT u.dst, CAST(SUM(r.pr // d.deg) AS BIGINT) AS sc
        |       FROM und u JOIN r0 r ON u.src = r.node JOIN deg d ON u.src = d.src
        |       GROUP BY 1),
        |r1 AS (SELECT dst AS node, 150000 + (850 * sc) // 1000 AS pr FROM c0),
        |c1 AS (SELECT u.dst, CAST(SUM(r.pr // d.deg) AS BIGINT) AS sc
        |       FROM und u JOIN r1 r ON u.src = r.node JOIN deg d ON u.src = d.src
        |       GROUP BY 1),
        |r2 AS (SELECT dst AS node, 150000 + (850 * sc) // 1000 AS pr FROM c1)
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM r2
        |ORDER BY pr DESC, node LIMIT 20""".stripMargin)((s, d) => {
      import graft.operators.Graph
      Graph.pageRank(coPurchasePairs(s, d), iters = 2)
        .orderBy(col("pr").desc, col("node")).limit(20)
    }),

    // ---- G2: triangle counting — degree-ordered orientation bounds
    // fan-out on skewed co-occurrence graphs; per-node participation
    // counts over the same parts-bought-together edge set as g1 ----
    Query("g2_triangles", triangleOracleSql)(triangleTop20),

    // ---- G2b: g2 under a second name, kept so its committed bench
    // and scale-gate pins stay comparable ----
    Query("g2b_triangles_adj", triangleOracleSql)(triangleTop20),

    // ---- T24: collocation extraction — adjacent-bigram PMI with
    // min support; the multi-word-unit miner of a tokenizer/quality
    // pipeline ----
    Query("t24_collocations",
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT toks[i] AS w1, toks[i+1] AS w2
        |  FROM t CROSS JOIN LATERAL
        |    (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) u
        |  WHERE len(toks) >= 2),
        |uni AS (SELECT unnest(toks) AS w FROM t),
        |c1t AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
        |nt AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM c1t),
        |nbt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bg),
        |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |       FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w1 || ' ' || w2 AS bigram, c12,
        |  CAST(FLOOR(1000 * LN(
        |    (CAST(c12 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) /
        |    (CAST(nb AS DOUBLE) * CAST(a.cu AS DOUBLE) * CAST(b.cu AS DOUBLE))))
        |    AS BIGINT) AS pmi_x1000
        |FROM cb JOIN c1t a ON a.w = cb.w1 JOIN c1t b ON b.w = cb.w2
        |CROSS JOIN nt CROSS JOIN nbt
        |ORDER BY pmi_x1000 DESC, bigram LIMIT 20""".stripMargin)((s, d) =>
      Text.collocations(Tables.documents(s, d), "doc_id", "text", minCount = 5)
        .orderBy(col("pmi_x1000").desc, col("bigram")).limit(20)),

    // ---- T25: winnowing fingerprints (MOSS) — the guaranteed-recall
    // plagiarism/overlap fingerprint: windowed min-hash selection with
    // rightmost tie-break, packed into one integer so the selection is
    // engine-exact ----
    Query("t25_winnowing",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, len(toks) - 2 AS ng,
         |    unnest(list_transform(generate_series(1, len(toks) - 2),
         |      i -> struct_pack(pos := i - 1,
         |        key := (${hex60("array_to_string(list_slice(toks, i, i + 2), ' ')")}
         |                  % 8796093022208) * 1048576 + (1048575 - (i - 1))))) AS u
         |  FROM t WHERE len(toks) - 2 >= 4),
         |k AS (SELECT doc_id, ng, u.pos AS pos, u.key AS key FROM g),
         |f AS (
         |  SELECT doc_id, ng, pos,
         |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM k)
         |SELECT DISTINCT doc_id,
         |  CAST(1048575 - fp % 1048576 AS BIGINT) AS fp_pos,
         |  CAST(fp // 1048576 AS BIGINT) AS fp_hash
         |FROM f WHERE pos <= ng - 4
         |ORDER BY doc_id, fp_pos, fp_hash""".stripMargin)((s, d) =>
      Text.winnowing(Tables.documents(s, d), "doc_id", "text", k = 3, w = 4)
        .orderBy("doc_id", "fp_pos", "fp_hash")),

    // ---- T26: content-defined chunking — Rabin-style local cut rule
    // (rolling 2-token hash mod 16 == 0); insertion-stable chunk
    // boundaries, the storage-dedup chunking ----
    Query("t26_cdc_chunks",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, u.pos AS pos, u.tok AS tok
         |  FROM (SELECT doc_id, unnest(list_transform(
         |          generate_series(1, len(toks)),
         |          i -> struct_pack(pos := i - 1, tok := toks[i]))) AS u
         |        FROM t)),
         |p AS (
         |  SELECT doc_id, pos, tok,
         |    LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM tok),
         |b AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos > 0 AND
         |      ${hex60("prev || ' ' || tok")} % 16 = 0
         |    THEN 1 ELSE 0 END AS boundary
         |  FROM p),
         |c AS (
         |  SELECT doc_id, pos,
         |    SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
         |  FROM b)
         |SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
         |  MIN(pos) AS start_pos, CAST(COUNT(*) AS BIGINT) AS n_tok
         |FROM c GROUP BY 1, 2 ORDER BY doc_id, chunk_no""".stripMargin)((s, d) =>
      Text.cdcChunks(Tables.documents(s, d), "doc_id", "text", mask = 15)
        .orderBy("doc_id", "chunk_no")),

    // ---- D7: blocked edit-distance pairs — character-level near-dup
    // verify (prefix blocking + bounded Levenshtein; the linkage shape
    // MinHash token overlap can't express) ----
    // dist type: Spark's levenshtein returns INT, DuckDB's BIGINT
    Query("d7_fuzzy_pairs",
      """WITH k AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 40) AS key,
        |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 8) AS block
        |  FROM documents),
        |adm AS (SELECT block FROM k GROUP BY block HAVING COUNT(*) <= 64),
        |kk AS (SELECT k.* FROM k JOIN adm USING (block))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       CAST(levenshtein(a.key, b.key) AS INTEGER) AS dist
        |FROM kk a JOIN kk b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.key, b.key) <= 10
        |ORDER BY id1, id2""".stripMargin)((s, d) =>
      Fuzzy.levenshteinPairs(Tables.documents(s, d))
        .orderBy("id1", "id2")),

    // ---- D8: exact-substring dedup spans (Lee et al. 2022) — maximal
    // token spans whose every 8-gram repeats somewhere in the corpus;
    // suffix-array semantics as two shuffles (digest-count window +
    // per-doc gaps-and-islands) ----
    Query("d8_substring_spans",
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |         md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS key
        |  FROM t CROSS JOIN LATERAL
        |    (SELECT unnest(generate_series(0, len(toks) - 8)) AS i) u
        |  WHERE len(toks) >= 8),
        |hits AS (
        |  SELECT doc_id, pos,
        |         COUNT(*) OVER (PARTITION BY key) AS copies
        |  FROM g QUALIFY copies >= 2),
        |flg AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
        |         THEN 0 ELSE 1 END AS gap
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, pos,
        |    SUM(gap) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flg),
        |spans AS (
        |  SELECT doc_id, island, CAST(MIN(pos) AS BIGINT) AS start_pos,
        |         CAST(MAX(pos) + 7 AS BIGINT) AS end_pos
        |  FROM isl GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_pos)
        |    AS INTEGER) AS span_id,
        |  start_pos, end_pos, end_pos - start_pos + 1 AS n_tok
        |FROM spans ORDER BY doc_id, span_id""".stripMargin)((s, d) =>
      Dedup.substringSpans(Tables.documents(s, d), n = 8)
        .orderBy("doc_id", "span_id")),

    // ---- V5: IVF ANN — centroid cells + nprobe search (scale path) ----
    Query("v5_ann_ivf",
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 43 = 0),
        |s AS (SELECT e.vec_id AS id, c.cid,
        |        list_cosine_similarity(e.embedding, c.cv) AS cos
        |      FROM embeddings e CROSS JOIN c),
        |r AS (SELECT id, cid,
        |        ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, cid) AS rk
        |      FROM s),
        |assign AS (SELECT id AS nid, cid FROM r WHERE rk = 1),
        |probes AS (SELECT id AS qid, cid FROM r WHERE rk <= 2 AND id < 10),
        |cand AS (
        |  SELECT p.qid, a.nid,
        |         list_cosine_similarity(eq.embedding, en.embedding) AS cos
        |  FROM probes p JOIN assign a USING (cid)
        |  JOIN embeddings eq ON eq.vec_id = p.qid
        |  JOIN embeddings en ON en.vec_id = a.nid
        |  WHERE a.nid <> p.qid),
        |rr AS (SELECT qid, nid,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        |       FROM cand)
        |SELECT qid AS query_id, CAST(rk AS INTEGER) AS "rank", nid AS neighbor
        |FROM rr WHERE rk <= 5 ORDER BY query_id, "rank"""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annIvf(e, e.filter(col("vec_id") < 10),
          k = 5, nprobe = 2, centroidStride = 43)
        .orderBy("query_id", "rank")
    }),

    // ---- V16b: filtered ANN through the IVF path — the
    // production-shaped composition of v16's pre-filter with v5's
    // cell-blocked search: ONE index (full-corpus centroids) serves
    // every filter, the label predicate pushes into the posting-list
    // scan (plan-pinned), and the probe scores matching vectors
    // only — never the post-top-k discard ----
    // v16b: v5's IVF CTE chain with the posting side label-filtered
    // AFTER the per-vector cell ranking (rank-1-nearest-centroid is
    // per-vector, so the filter commutes with assignment — the Spark
    // side filters BEFORE, pushing the predicate into the scan) and
    // centroids from the FULL corpus (one index serves every filter)
    Query("v16b_filtered_ivf",
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 43 = 0),
        |s AS (SELECT e.vec_id AS id, e.label, c.cid,
        |        list_cosine_similarity(e.embedding, c.cv) AS cos
        |      FROM embeddings e CROSS JOIN c),
        |r AS (SELECT id, label, cid,
        |        ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, cid) AS rk
        |      FROM s),
        |assign AS (SELECT id AS nid, cid FROM r WHERE rk = 1 AND label = 1),
        |probes AS (SELECT id AS qid, cid FROM r WHERE rk <= 2 AND id < 10),
        |cand AS (
        |  SELECT p.qid, a.nid,
        |         list_cosine_similarity(eq.embedding, en.embedding) AS cos
        |  FROM probes p JOIN assign a USING (cid)
        |  JOIN embeddings eq ON eq.vec_id = p.qid
        |  JOIN embeddings en ON en.vec_id = a.nid
        |  WHERE a.nid <> p.qid),
        |rr AS (SELECT qid, nid,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        |       FROM cand)
        |SELECT qid AS query_id, CAST(rk AS INTEGER) AS "rank", nid AS neighbor
        |FROM rr WHERE rk <= 5 ORDER BY query_id, "rank"""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annIvfFiltered(e, e.filter(col("vec_id") < 10),
          col("label") === 1, k = 5, nprobe = 2, centroidStride = 43)
        .orderBy("query_id", "rank")
    }),

    // ---- V16c: filtered ANN over the TRAINED index — v16b with
    // v11's integer-exact k-means centroids (dequantized to cosine
    // space) replacing the stride sample: the production contract
    // that ONE trained index serves clustering, unfiltered search
    // and every filtered search; the label predicate still reaches
    // the posting-list scan (plan-pinned) ----
    // v16c: v16b's filtered IVF chain with the centroids replaced by
    // the TRAINED set — the oracle replays v11's integer-exact Lloyd
    // step (kmeansSqlCte through cb1), dequantizes the codebook back
    // to cosine space ((q - 2^21) / 1e6 — small exact longs through
    // one IEEE divide, engine-identical), and searches as v16b
    Query("v16c_trained_filtered_ivf",
      s"""WITH $kmeansSqlCte,
        |ct AS (SELECT cw AS cid,
        |        list_transform(cv, x -> (x - 2097152) / 1000000.0) AS cv
        |      FROM cb1),
        |s2 AS (SELECT e.vec_id AS id, e.label, ct.cid,
        |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.cv) AS cos
        |      FROM embeddings e CROSS JOIN ct),
        |r2 AS (SELECT id, label, cid,
        |        ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, cid) AS rk
        |      FROM s2),
        |assign AS (SELECT id AS nid, cid FROM r2 WHERE rk = 1 AND label = 1),
        |probes AS (SELECT id AS qid, cid FROM r2 WHERE rk <= 2 AND id < 10),
        |cand AS (
        |  SELECT p.qid, a.nid,
        |         list_cosine_similarity(eq.embedding, en.embedding) AS cos
        |  FROM probes p JOIN assign a USING (cid)
        |  JOIN embeddings eq ON eq.vec_id = p.qid
        |  JOIN embeddings en ON en.vec_id = a.nid
        |  WHERE a.nid <> p.qid),
        |rr AS (SELECT qid, nid,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        |       FROM cand)
        |SELECT qid AS query_id, CAST(rk AS INTEGER) AS "rank", nid AS neighbor
        |FROM rr WHERE rk <= 5 ORDER BY query_id, "rank"""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedIvfCentroids(e,
        dim = 64, stride = 31, k = 8, iters = 1)
      Similarity.annIvfFilteredTrained(e, e.filter(col("vec_id") < 10),
          col("label") === 1, cents, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // ---- V17: filtered IVF-PQ — the billion-scale layout (v9) with
    // the one-trained-index filtered-search contract (v16c): trained
    // coarse centroids (shared with v11/v16c) + v10's trained PQ
    // codebook serve every predicate; posting lists (cell assignment
    // + codes) rebuild from the filtered corpus so the label reaches
    // the parquet scan, and ADC scores matching entries only ----
    Query("v17_filtered_ivf_pq", filteredIvfPqOracleSql)((s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedIvfCentroids(e,
        dim = 64, stride = 31, k = 8, iters = 1)
      val cb = Similarity.pqCodebookTrained(e,
        m = 4, subDim = 16, stride = 31, k = 16, iters = 1)
      Similarity.annIvfPqFilteredTrained(e, e.filter(col("vec_id") < 10),
          col("label") === 1, cents, cb, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // ---- V18: filtered IVF-PQ served from the PERSISTED index —
    // the deployment shape: ivfPqIndexTable trains once per corpus
    // generation and commits centroids/codebook/postings as curated
    // parquet (sidecar-guarded, cross-JVM); the search semi-joins the
    // committed postings to the filtered id set — no re-encode per
    // predicate (per-vector assignment/encode commute with any row
    // filter, so this equals v17 bit for bit; one oracle gates both) ----
    Query("v18_persisted_ivf_pq", filteredIvfPqOracleSql)((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annIvfPqPersisted(e, e.filter(col("vec_id") < 10),
          col("label") === 1, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // ---- V8: product-quantization ANN with asymmetric distance —
    // the corpus compresses to m integer codes per vector (THE
    // billion-scale index layout); queries broadcast per-subspace
    // distance tables into one scan of the codes ----
    Query("v8_pq_adc",
      """WITH ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
        |cb AS (
        |  SELECT m, vec_id AS cw,
        |         list_slice(CAST(embedding AS DOUBLE[]), 1 + 16*m, 16*m + 16) AS cv
        |  FROM (SELECT * FROM embeddings WHERE vec_id % 31 = 0
        |        ORDER BY vec_id LIMIT 16) e CROSS JOIN ms),
        |sub AS (
        |  SELECT vec_id AS id, m,
        |         list_slice(CAST(embedding AS DOUBLE[]), 1 + 16*m, 16*m + 16) AS sv
        |  FROM embeddings CROSS JOIN ms),
        |ed AS (
        |  SELECT s.id, s.m, c.cw,
        |         CAST(FLOOR(1000000.0 * list_distance(s.sv, c.cv)
        |           * list_distance(s.sv, c.cv)) AS BIGINT) AS dist
        |  FROM sub s JOIN cb c USING (m)),
        |enc AS (
        |  SELECT id, m, cw,
        |         ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY dist, cw) AS rk
        |  FROM ed),
        |codes AS (SELECT id, m, cw AS code FROM enc WHERE rk = 1),
        |dt AS (SELECT id AS qid, m, cw, dist FROM ed WHERE id < 10),
        |adc AS (
        |  SELECT d.qid, c.id AS nid, CAST(SUM(d.dist) AS BIGINT) AS adc
        |  FROM codes c JOIN dt d ON c.m = d.m AND c.code = d.cw
        |  WHERE c.id <> d.qid GROUP BY 1, 2),
        |rr AS (SELECT qid, nid,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rk
        |       FROM adc)
        |SELECT qid AS query_id, CAST(rk AS INTEGER) AS "rank", nid AS neighbor
        |FROM rr WHERE rk <= 5 ORDER BY query_id, "rank"""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annPqAdc(e, e.filter(col("vec_id") < 10),
          k = 5, m = 4, subDim = 16, stride = 31)
        .orderBy("query_id", "rank")
    }),

    // ---- T20: corpus bigram-LM quality scoring (CCNet perplexity
    // shape, self-trained) — per-doc avg negative log-likelihood,
    // add-one smoothing, integer thousandths-of-a-nat ----
    Query("t20_bigram_lm",
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS b
        |  FROM t CROSS JOIN LATERAL
        |    (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) u
        |  WHERE len(toks) >= 2),
        |uni AS (SELECT unnest(toks) AS w FROM t),
        |c1 AS (SELECT w, COUNT(*) AS cu FROM uni GROUP BY 1),
        |vv AS (SELECT COUNT(DISTINCT w) AS v FROM uni),
        |cb AS (SELECT b, COUNT(*) AS cb FROM bg GROUP BY 1),
        |scored AS (
        |  SELECT bg.doc_id,
        |    CAST(FLOOR(1000 * LN((cb.cb + 1.0) / (c1.cu + vv.v))) AS BIGINT) AS lp
        |  FROM bg JOIN cb USING (b)
        |  JOIN c1 ON c1.w = bg.w1
        |  CROSS JOIN vv)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       CAST((-SUM(lp)) // COUNT(*) AS BIGINT) AS nll_x1000
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin)((s, d) =>
      Text.bigramNll(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- T21: DSIR importance scoring — rank the non-English pool
    // by target-likeness under unigram models of target (lang='en')
    // vs raw; the data-mixing selector of an LLM pipeline. Floored
    // log-ratio per word TYPE, long sums per doc (engine-exact) ----
    Query("t21_dsir",
      """WITH tk AS (
        |  SELECT doc_id AS id, lang = 'en' AS is_t, w FROM (
        |    SELECT doc_id, lang,
        |           unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) u
        |  WHERE len(w) > 0),
        |counts AS (
        |  SELECT w, COUNT(*) AS cr,
        |         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM tk GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(cr) AS BIGINT) AS nr,
        |         CAST(SUM(ct) AS BIGINT) AS nt,
        |         COUNT(*) AS v
        |  FROM counts),
        |wt AS (
        |  SELECT w, CAST(FLOOR(1000 * LN(
        |      (CAST(ct + 1 AS DOUBLE) * CAST(nr + v AS DOUBLE)) /
        |      (CAST(cr + 1 AS DOUBLE) * CAST(nt + v AS DOUBLE)))) AS BIGINT) AS lw
        |  FROM counts CROSS JOIN tot)
        |SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |       CAST(SUM(lw) AS BIGINT) AS score_x1000
        |FROM tk JOIN wt USING (w)
        |WHERE NOT is_t
        |GROUP BY id
        |ORDER BY score_x1000 DESC, id
        |LIMIT 20""".stripMargin)((s, d) =>
      Text.dsirScores(Tables.documents(s, d), col("lang") === "en")
        .orderBy(col("score_x1000").desc, col("id"))
        .limit(20)),

    // ---- T22: BPE merge training (Sennrich 2016) — 2 rounds of
    // pair-statistics over the word-frequency table (ONE corpus pass,
    // then vocab-sized rounds); round 2 counts AFTER applying round
    // 1's top merge, so the oracle checks the whole train loop ----
    Query("t22_bpe_train", {
      // one BPE round in SQL: pair-count the vocab, rank top-8
      def roundCte(src: String, r: Int) =
        s"""p$r AS (
           |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
           |    SELECT freq, unnest(list_transform(range(1, len(s)),
           |        i -> s[i] || ' ' || s[i+1])) AS pair
           |    FROM (SELECT string_split(repr, ' ') AS s, freq FROM $src) q) z
           |  GROUP BY 1),
           |r$r AS (
           |  SELECT $r AS round,
           |         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS "rank",
           |         pair, cnt
           |  FROM (SELECT * FROM p$r ORDER BY cnt DESC, pair LIMIT 8) q)""".stripMargin
      s"""WITH wf AS (
         |  SELECT w, COUNT(*) AS freq FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents) u
         |  WHERE len(w) > 0 GROUP BY 1),
         |v0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS repr, freq FROM wf),
         |${roundCte("v0", 1)},
         |b1 AS (SELECT pair, replace(pair, ' ', '') AS m FROM r1 WHERE "rank" = 1),
         |v1 AS (
         |  SELECT trim(replace(replace(replace(
         |      ' ' || repr || ' ',
         |      ' ' || b.pair || ' ', ' ' || b.m || ' '),
         |      ' ' || b.pair || ' ', ' ' || b.m || ' '),
         |      ' ' || b.pair || ' ', ' ' || b.m || ' ')) AS repr, freq
         |  FROM v0 CROSS JOIN b1 b),
         |${roundCte("v1", 2)}
         |SELECT round, "rank", pair, cnt
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2) z
         |ORDER BY round, "rank"""".stripMargin
    })((s, d) =>
      graft.functions.Bpe.train(Tables.documents(s, d), rounds = 2, topK = 8)),

    // ---- T23: Unicode NFC normalization — the native codegen'd
    // nfc_normalize expression (driver text is ASCII, so each doc
    // gets a decomposed suffix appended: e+U+0301, u+U+0308; NFC
    // composes both, shrinking the text by exactly 2 codepoints) ----
    Query("t23_nfc_normalize",
      """WITH t AS (
        |  SELECT doc_id,
        |         text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(length(raw) AS INTEGER) AS len_raw,
        |       CAST(length(nfc_normalize(raw)) AS INTEGER) AS len_nfc,
        |       (nfc_normalize(raw) <> raw) AS changed
        |FROM t ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val decomposed = concat(col("text"),
        lit(" cafe\u0301 u\u0308ber"))  // combining acute / diaeresis
      val norm = Text.nfcNormalize(decomposed)
      docs.select(col("doc_id"),
          length(decomposed).as("len_raw"), length(norm).as("len_nfc"),
          (norm =!= decomposed).as("changed"))
        .orderBy("doc_id")
    }),

    // ---- V11: full-vector k-means clustering — the quantized Lloyd
    // loop on the WHOLE vector (m=1), every assignment oracle-checked;
    // the semantic-bucketing operator of an LLM data mix ----
    Query("v11_kmeans_cluster",
      s"""WITH $kmeansSqlCte
         |SELECT id, cluster, dist FROM asg ORDER BY id""".stripMargin)((s, d) =>
      Similarity.kmeansAssignments(Tables.embeddings(s, d),
          dim = 64, stride = 31, k = 8, iters = 1)
        .orderBy("id")),

    // ---- V12: cluster-stratified diversity selection — per-cluster
    // medoid + member count over the v11 assignments ----
    Query("v12_diversity_medoid",
      s"""WITH $kmeansSqlCte,
         |md AS (
         |  SELECT cluster, id AS medoid, dist,
         |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY dist, id) AS rk,
         |    COUNT(*) OVER (PARTITION BY cluster) AS n_members
         |  FROM asg)
         |SELECT cluster, medoid, dist, CAST(n_members AS BIGINT) AS n_members
         |FROM md WHERE rk = 1 ORDER BY cluster""".stripMargin)((s, d) =>
      Similarity.diversityMedoids(Tables.embeddings(s, d),
          dim = 64, stride = 31, k = 8, iters = 1)
        .orderBy("cluster")),

    // ---- V13: kNN label classification — majority vote over the
    // top-k cosine neighbors (ties to the smaller label); the
    // annotate-by-nearest-labeled-example primitive. The tiny vote
    // table broadcasts into the label dim, so the corpus is never
    // shuffled ----
    Query("v13_knn_classify",
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id < 10),
        |s AS (
        |  SELECT qid, vec_id AS nid, label,
        |         list_cosine_similarity(qv, embedding) AS c
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
        |r AS (
        |  SELECT qid, label,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rk
        |  FROM s),
        |v AS (
        |  SELECT qid, label, COUNT(*) AS votes
        |  FROM r WHERE rk <= 5 GROUP BY 1, 2),
        |p AS (
        |  SELECT qid, label, votes,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY votes DESC, label) AS rn
        |  FROM v)
        |SELECT qid AS query_id, label AS pred, CAST(votes AS BIGINT) AS votes
        |FROM p WHERE rn = 1 ORDER BY query_id""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      val knn = Similarity.annBruteForce(e, e.filter(col("vec_id") < 10), k = 5)
      val labels = e.select(col("vec_id").as("neighbor"), col("label"))
      val votes = labels.join(broadcast(knn), "neighbor")
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("label"))
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("label").as("pred"), col("votes"))
        .orderBy("query_id")
    }),

    // ---- V14: structured random projection (Walsh rows) — each
    // embedding to 8 orthogonal ±1-signed integer sums, pure array
    // expressions at scan speed (no shuffle/join/UDF); the JL-style
    // dimensionality cut that shrinks every downstream index build ----
    Query("v14_random_projection",
      ("""WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        |  FROM embeddings)
        |SELECT vec_id,
        |""".stripMargin +
        (0 until 8).map { j =>
          s"""  CAST(list_sum(list_transform(generate_series(1, len(q)),
             |    i -> q[i] * (1 - 2 * (bit_count((i-1) & ${j + 1}) % 2))))
             |    AS BIGINT) AS p$j""".stripMargin
        }.mkString(",\n") +
        "\nFROM q ORDER BY vec_id"))((s, d) =>
      graft.similarity.Similarity.walshProject(Tables.embeddings(s, d))
        .orderBy("vec_id")),

    // ---- V9: IVF-PQ (the FAISS IVFADC layout) — probe-limited
    // cells + PQ codes + broadcast ADC tables; both size knobs
    // capped independently of corpus size ----
    Query("v9_ivf_pq",
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM (
        |    SELECT * FROM embeddings WHERE vec_id % 43 = 0
        |    ORDER BY vec_id LIMIT 32)),
        |sc AS (
        |  SELECT e.vec_id AS id, c.cid,
        |         list_cosine_similarity(e.embedding, c.cv) AS cos
        |  FROM embeddings e CROSS JOIN cents c),
        |rr0 AS (SELECT id, cid,
        |          ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, cid) AS rk
        |        FROM sc),
        |assign AS (SELECT id, cid FROM rr0 WHERE rk = 1),
        |probes AS (SELECT id AS qid, cid FROM rr0 WHERE rk <= 2 AND id < 10),
        |ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
        |cb AS (
        |  SELECT m, vec_id AS cw,
        |         list_slice(CAST(embedding AS DOUBLE[]), 1 + 16*m, 16*m + 16) AS cv
        |  FROM (SELECT * FROM embeddings WHERE vec_id % 31 = 0
        |        ORDER BY vec_id LIMIT 16) e CROSS JOIN ms),
        |sub AS (
        |  SELECT vec_id AS id, m,
        |         list_slice(CAST(embedding AS DOUBLE[]), 1 + 16*m, 16*m + 16) AS sv
        |  FROM embeddings CROSS JOIN ms),
        |ed AS (
        |  SELECT s.id, s.m, c.cw,
        |         CAST(FLOOR(1000000.0 * list_distance(s.sv, c.cv)
        |           * list_distance(s.sv, c.cv)) AS BIGINT) AS dist
        |  FROM sub s JOIN cb c USING (m)),
        |enc AS (
        |  SELECT id, m, cw,
        |         ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY dist, cw) AS rk
        |  FROM ed),
        |codes AS (SELECT id, m, cw AS code FROM enc WHERE rk = 1),
        |dt AS (SELECT id AS qid, m, cw, dist FROM ed WHERE id < 10),
        |cand AS (
        |  SELECT p.qid, a.id AS nid FROM probes p JOIN assign a USING (cid)
        |  WHERE a.id <> p.qid),
        |adc AS (
        |  SELECT c.qid, c.nid, CAST(SUM(d.dist) AS BIGINT) AS adc
        |  FROM cand c
        |  JOIN codes k ON k.id = c.nid
        |  JOIN dt d ON d.qid = c.qid AND d.m = k.m AND d.cw = k.code
        |  GROUP BY 1, 2),
        |rr AS (SELECT qid, nid,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rk
        |       FROM adc)
        |SELECT qid AS query_id, CAST(rk AS INTEGER) AS "rank", nid AS neighbor
        |FROM rr WHERE rk <= 5 ORDER BY query_id, "rank"""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annIvfPq(e, e.filter(col("vec_id") < 10),
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // ---- V10: PQ/ADC with TRAINED codebooks — per-subspace k-means
    // (one Lloyd step) in exact integer space, so the whole training
    // loop is oracle-checked, not just the search; same broadcast-ADC
    // dataflow as v8 ----
    // trained-PQ: the oracle replays the ENTIRE integer-space Lloyd
    // step (quantize → init → assign → floor-mean) before encode/ADC
    Query("v10_pq_trained",
      """WITH ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
        |qsub AS (
        |  SELECT vec_id AS id, m,
        |    list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1 + 16*m, 16*m + 16),
        |      x -> CAST(FLOOR(1000000 * x) AS BIGINT) + 2097152) AS qv
        |  FROM embeddings CROSS JOIN ms),
        |init_ids AS (
        |  SELECT vec_id FROM embeddings WHERE vec_id % 31 = 0
        |  ORDER BY vec_id LIMIT 16),
        |cb0 AS (
        |  SELECT m, id AS cw, qv AS cv FROM qsub
        |  JOIN init_ids ON qsub.id = init_ids.vec_id),
        |d0 AS (
        |  SELECT q.id, q.m, q.qv, c.cw,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS d
        |  FROM qsub q JOIN cb0 c USING (m)),
        |assign0 AS (
        |  SELECT id, m, qv, cw FROM (
        |    SELECT id, m, qv, cw,
        |      ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, cw) AS rk
        |    FROM d0) WHERE rk = 1),
        |sums AS (
        |  SELECT m, cw, pos, CAST(SUM(x) AS BIGINT) AS sx, COUNT(*) AS n
        |  FROM (SELECT m, cw, unnest(qv) AS x,
        |          generate_subscripts(qv, 1) AS pos FROM assign0) t
        |  GROUP BY 1, 2, 3),
        |cb1 AS (
        |  SELECT m, cw, list(sx // n ORDER BY pos) AS cv
        |  FROM sums GROUP BY 1, 2),
        |ed AS (
        |  SELECT q.id, q.m, c.cw,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS dist
        |  FROM qsub q JOIN cb1 c USING (m)),
        |enc AS (
        |  SELECT id, m, cw,
        |    ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY dist, cw) AS rk
        |  FROM ed),
        |codes AS (SELECT id, m, cw AS code FROM enc WHERE rk = 1),
        |dt AS (SELECT id AS qid, m, cw, dist FROM ed WHERE id < 10),
        |adc AS (
        |  SELECT d.qid, c.id AS nid, CAST(SUM(d.dist) AS BIGINT) AS adc
        |  FROM codes c JOIN dt d ON c.m = d.m AND c.code = d.cw
        |  WHERE c.id <> d.qid GROUP BY 1, 2),
        |rr AS (SELECT qid, nid,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rk
        |       FROM adc)
        |SELECT qid AS query_id, CAST(rk AS INTEGER) AS "rank", nid AS neighbor
        |FROM rr WHERE rk <= 5 ORDER BY query_id, "rank"""".stripMargin)((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annPqAdcTrained(e, e.filter(col("vec_id") < 10),
          k = 5, m = 4, subDim = 16, stride = 31, codebookK = 16, iters = 1)
        .orderBy("query_id", "rank")
    }),

    // ---- T19: Okapi BM25 top-k retrieval (k1=1.2, b=0.75) — tf
    // saturation + doc-length normalization as exact integer ratios,
    // idf floored to thousandths, so the per-doc score sum is
    // engine-exact in any shuffle order ----
    Query("t19_bm25",
      """WITH dl AS (
        |  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |totals AS (
        |  SELECT n_docs, sum_dl // n_docs AS avgdl FROM (
        |    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |           CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl)),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |    FROM documents) t
        |  WHERE term IN ('hash', 'scan', 'merge', 'table')
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    (CAST(FLOOR(1000 * LN((n_docs - df + 0.5) / (df + 0.5) + 1)) AS BIGINT)
        |      * (44 * avgdl * tf))
        |    // (20 * avgdl * tf + 6 * avgdl + 18 * dl) AS s
        |  FROM tf JOIN dfreq USING (term)
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN totals),
        |agg AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score
        |        FROM scored GROUP BY 1
        |        ORDER BY score DESC, doc_id LIMIT 10)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS "rank",
        |  score
        |FROM agg ORDER BY "rank"""".stripMargin)((s, d) =>
      Text.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("hash", "scan", "merge", "table"), k = 10)),

    // ---- O13: Z-order layout key — interleave (custkey, order-day)
    // bits and bucket by key prefix; per-bucket min/max of BOTH
    // dimensions stay narrow, which is exactly the file-footer
    // pruning a Z-sorted 100 TB table gets on either predicate ----
    Query("o13_zorder",
      """WITH dims AS (
        |  SELECT o_custkey % 256 AS d1,
        |         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS d2
        |  FROM orders),
        |z AS (
        |  SELECT d1, d2, CAST(
        |      ((d1 >> 0) & 1) * 1     + ((d2 >> 0) & 1) * 2
        |    + ((d1 >> 1) & 1) * 4     + ((d2 >> 1) & 1) * 8
        |    + ((d1 >> 2) & 1) * 16    + ((d2 >> 2) & 1) * 32
        |    + ((d1 >> 3) & 1) * 64    + ((d2 >> 3) & 1) * 128
        |    + ((d1 >> 4) & 1) * 256   + ((d2 >> 4) & 1) * 512
        |    + ((d1 >> 5) & 1) * 1024  + ((d2 >> 5) & 1) * 2048
        |    + ((d1 >> 6) & 1) * 4096  + ((d2 >> 6) & 1) * 8192
        |    + ((d1 >> 7) & 1) * 16384 + ((d2 >> 7) & 1) * 32768
        |    AS BIGINT) AS zkey
        |  FROM dims)
        |SELECT zkey // 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       MIN(d1) AS min_d1, MAX(d1) AS max_d1,
        |       MIN(d2) AS min_d2, MAX(d2) AS max_d2
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin)((s, d) => {
      import graft.operators.Layout
      val o = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(256)).cast("long").as("d1"),
        pmod(datediff(to_date(col("o_orderdate")), lit("1992-01-01")),
          lit(256)).cast("long").as("d2"))
      o.select(Layout.zOrder2(col("d1"), col("d2"), 8).as("zkey"),
          col("d1"), col("d2"))
        .groupBy(shiftright(col("zkey"), 10).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          min("d1").as("min_d1"), max("d1").as("max_d1"),
          min("d2").as("min_d2"), max("d2").as("max_d2"))
        .orderBy("bucket")
    }),

    // ---- O14: N-dim Z-order with per-dimension bit budgets —
    // (custkey: 6, order-day: 6, status: 2), the (date, id, source)
    // layout shape a 100 TB table actually clusters by. Bucket = the
    // top 6 key bits = the top 3 bits of EACH 6-bit dim, so both wide
    // dims' per-bucket min/max spread stays ≤ 7 — the file-footer
    // pruning width the sort buys on either predicate ----
    // the interleave expression is GENERATED by the same (level, dim)
    // walk the Column form uses (Layout.zOrderNSql) — the two cannot
    // drift apart
    Query("o14_zorder3",
      s"""WITH dims AS (
         |  SELECT o_custkey % 64 AS d1,
         |         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 64 AS d2,
         |         CAST(CASE o_orderstatus WHEN 'O' THEN 0 WHEN 'F' THEN 1
         |              ELSE 2 END AS BIGINT) AS d3
         |  FROM orders),
         |z AS (
         |  SELECT d1, d2, d3, CAST(${graft.operators.Layout.zOrderNSql(
                Seq("d1" -> 6, "d2" -> 6, "d3" -> 2))} AS BIGINT) AS zkey
         |  FROM dims)
         |SELECT zkey // 256 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
         |       MIN(d1) AS min_d1, MAX(d1) AS max_d1,
         |       MIN(d2) AS min_d2, MAX(d2) AS max_d2,
         |       MIN(d3) AS min_d3, MAX(d3) AS max_d3
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin)((s, d) => {
      import graft.operators.Layout
      val o = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(64)).cast("long").as("d1"),
        pmod(datediff(to_date(col("o_orderdate")), lit("1992-01-01")),
          lit(64)).cast("long").as("d2"),
        when(col("o_orderstatus") === "O", 0L)
          .when(col("o_orderstatus") === "F", 1L)
          .otherwise(2L).as("d3"))
      o.select(Layout.zOrderN(
            Seq(col("d1") -> 6, col("d2") -> 6, col("d3") -> 2)).as("zkey"),
          col("d1"), col("d2"), col("d3"))
        .groupBy(shiftright(col("zkey"), 8).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          min("d1").as("min_d1"), max("d1").as("max_d1"),
          min("d2").as("min_d2"), max("d2").as("max_d2"),
          min("d3").as("min_d3"), max("d3").as("max_d3"))
        .orderBy("bucket")
    }),

    // ---- T13: repetition signals (Gopher rep/dup fractions) —
    // duplicate-token and top-bigram coverage permille per document ----
    Query("t13_repetition",
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |u AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS d FROM t),
        |bgs AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(toks) - 1),
        |    i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bg
        |  FROM t),
        |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY 1, 2),
        |bm AS (SELECT doc_id, MAX(c) AS m FROM bc GROUP BY 1)
        |SELECT u.doc_id,
        |  CAST(((u.n - u.d) * 1000) // u.n AS BIGINT) AS dup_tok_pm,
        |  CAST((bm.m * 1000) // (u.n - 1) AS BIGINT) AS top_bigram_pm
        |FROM u JOIN bm ON u.doc_id = bm.doc_id ORDER BY u.doc_id""".stripMargin)((s, d) =>
      Text.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- T14: sequence packing — fixed-token-budget training packs,
    // next-fit by id within each source shard (pure prefix sum) ----
    Query("t14_pack",
      """WITH t AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT source, CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS tok_sum
        |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin)((s, d) =>
      Text.packSequences(Tables.documents(s, d), "doc_id", "text",
          shardCol = "source", budget = 512L)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"))
        .orderBy("source", "pack_id")),

    // ---- T16: benchmark decontamination — eval docs (source src1)
    // sharing any sliding 8-gram with the train split ----
    Query("t16_contamination",
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, source, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 7),
         |    i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))))) AS key
         |  FROM t WHERE len(toks) >= 8),
         |tr AS (SELECT DISTINCT key FROM g WHERE source <> 'src1'),
         |ev AS (SELECT doc_id, key FROM g WHERE source = 'src1')
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS hit_grams
         |FROM ev JOIN tr USING (key) GROUP BY 1 ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          train = docs.filter(col("source") =!= "src1"),
          evalDocs = docs.filter(col("source") === "src1"), n = 8)
        .orderBy("doc_id")
    }),

    // ---- T15: overlapping token chunking — RAG/long-doc chunk spans
    // from token counts alone (O(chunks), zero shuffle) ----
    Query("t15_chunk_spans",
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n,
        |        CASE WHEN n <= 64 THEN 1
        |             ELSE ((n - 64 + 47) // 48) + 1 END AS nch
        |      FROM t),
        |k AS (SELECT doc_id, n,
        |        unnest(generate_series(0, nch - 1)) AS chunk_id
        |      FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(chunk_id * 48 AS BIGINT) AS start_pos,
        |       CAST(LEAST(64, n - chunk_id * 48) AS BIGINT) AS n_tok
        |FROM k ORDER BY doc_id, chunk_id""".stripMargin)((s, d) =>
      Text.chunkSpans(Tables.documents(s, d), "doc_id", "text",
          size = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")),

    // ---- D9: semantic dedup — IVF-cell-blocked greedy near-dup drop
    // (the embedding-space scale path of v2's all-pairs cosine) ----
    Query("d9_semantic_dedup",
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |           WHERE vec_id % 43 = 0),
        |s AS (SELECT e.vec_id AS id, e.embedding AS v, c.cid,
        |        list_cosine_similarity(e.embedding, c.cv) AS cos
        |      FROM embeddings e CROSS JOIN c),
        |r AS (SELECT id, v, cid,
        |        ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, cid) AS rk
        |      FROM s),
        |assign AS (SELECT id, v, cid FROM r WHERE rk = 1),
        |dropped AS (
        |  SELECT DISTINCT b.id AS id
        |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.46)
        |SELECT e.vec_id AS id,
        |  CAST(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.id
        |ORDER BY id""".stripMargin)((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d),
          threshold = 0.46, centroidStride = 43)
        .orderBy("id")),

    // ---- D10: incremental cross-corpus dedup — classify an incoming
    // batch (doc_id % 10 == 0) against the already-ingested corpus
    // (the other 90%) by content digest: dup_corpus / dup_batch /
    // new. Only 16-byte digests shuffle from the corpus side; the
    // batch's canonical window and the corpus join share the key
    // exchange ----
    Query("d10_incremental",
      """WITH b AS (
        |  SELECT doc_id AS id,
        |         COALESCE(md5(lower(text)), '__null_text__') AS key,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY COALESCE(md5(lower(text)), '__null_text__')
        |           ORDER BY doc_id) AS rn
        |  FROM documents WHERE doc_id % 10 = 0),
        |ck AS (SELECT DISTINCT COALESCE(md5(lower(text)), '__null_text__') AS key
        |       FROM documents WHERE doc_id % 10 <> 0),
        |cls AS (
        |  SELECT b.id,
        |         CASE WHEN ck.key IS NOT NULL THEN 'dup_corpus'
        |              WHEN b.rn > 1 THEN 'dup_batch'
        |              ELSE 'new' END AS status
        |  FROM b LEFT JOIN ck ON b.key = ck.key)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n, MIN(id) AS first_id
        |FROM cls GROUP BY 1 ORDER BY status""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.Dedup.incrementalExact(
          corpus = docs.filter(col("doc_id") % 10 =!= 0),
          batch = docs.filter(col("doc_id") % 10 === 0))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), min("id").as("first_id"))
        .orderBy("status")
    }),

    // ---- O15: small-file compaction planning — the lakehouse
    // maintenance pass a 100 TB table needs continuously: per
    // partition-shard, pack consecutive small "files" (here the
    // (day, event_type) row-group proxies) into target-size output
    // groups by prefix sum — the packSequences shape applied to
    // storage. Planning is metadata-only: the window runs over file
    // STATS (one row per file), never data rows, so the plan for a
    // million-file table is a million-row job ----
    Query("o15_compaction_plan",
      """WITH files AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |         CAST(COUNT(*) AS BIGINT) AS size_rows
        |  FROM events GROUP BY 1, 2),
        |packed AS (
        |  SELECT day, event_type, size_rows,
        |         SUM(size_rows) OVER (PARTITION BY day ORDER BY event_type
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM files)
        |SELECT day, CAST((cum - size_rows) // 500 AS BIGINT) AS out_group,
        |       COUNT(*) AS n_files,
        |       CAST(SUM(size_rows) AS BIGINT) AS rows_packed
        |FROM packed GROUP BY 1, 2 ORDER BY day, out_group""".stripMargin)((s, d) => {
      val files = ev(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("size_rows"))
      val w = Window.partitionBy("day").orderBy("event_type")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files
        .withColumn("cum", sum("size_rows").over(w))
        .withColumn("out_group",
          expr("(cum - size_rows) div 500").cast("long"))
        .groupBy("day", "out_group")
        .agg(count(lit(1)).as("n_files"), sum("size_rows").as("rows_packed"))
        .orderBy("day", "out_group")
    }),

    // ---- O12: deterministic global shuffle — the reproducible
    // training-order permutation (position = exact global rank under
    // a salted content-free hash; no rand(), so re-runs and engine
    // swaps give byte-identical order, and GlobalRank keeps every
    // stage parallel — no single-partition sort anywhere). The
    // mod-8 checksum buckets pin EVERY row's assigned position, not
    // just a displayed prefix ----
    Query("o12_global_shuffle",
      """WITH p AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|epoch0'), doc_id) AS pos
        |  FROM documents)
        |SELECT pos % 8 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(pos * doc_id) AS BIGINT) AS checksum
        |FROM p GROUP BY 1 ORDER BY bucket""".stripMargin)((s, d) => {
      val keyed = Tables.documents(s, d).select("doc_id")
        .withColumn("skey",
          md5(concat(col("doc_id").cast("string"), lit("|epoch0"))))
      graft.operators.GlobalRank
        .withRowNumber(keyed, Seq(col("skey"), col("doc_id")), out = "pos")
        .groupBy((col("pos") % 8).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("pos") * col("doc_id")).as("checksum"))
        .orderBy("bucket")
    }),
  )
}
