package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.Materialize

/** Iterative graph analytics over edge DataFrames — the weighted
  * companion to [[graft.dedup.Dedup.nearDupClusters]]'s min-label
  * propagation (connected components): PageRank scores node
  * centrality in, e.g., a co-occurrence graph (parts bought
  * together, documents sharing near-dup shingles, domains linking).
  *
  * Integer-exact formulation (Page et al., "The PageRank Citation
  * Ranking", 1999, with ranks scaled ×10⁶ and the damping split as
  * integer permille): every iteration is long arithmetic —
  * `contrib(u) = pr(u) div deg(u)`,
  * `pr'(v) = 150000 + (850 · Σ contrib) div 1000` — so the whole
  * loop is engine-exact and oracle-checkable, unlike float PageRank
  * whose sum order perturbs ranks.
  *
  * Scale posture: the edge list (with degree attached) is built ONCE
  * and checkpointed; each iteration is one join on the edge key and
  * one map-side-combining sum — the standard scalable PageRank shape
  * (no driver-side adjacency, no per-node loops). Materializing
  * ([[Materialize]]) truncates the per-iteration lineage so plan
  * analysis stays O(1) in the iteration count. The returned frames
  * read the materialized tables, so the caller owns them.
  */
object Graph {

  /** PageRank over an undirected pair set (a, b), a ≠ b. Returns
    * (node, pr) with pr scaled ×10⁶ (initial rank 1000000, damping
    * 0.85 as permille). Nodes are those appearing in pairs.
    *
    * Overflow bound (same audit class as [[graft.functions.Text.bm25]]
    * 's reworked integer form): the widest intermediate is `850 * sc`
    * where sc = Σ of in-neighbor contributions ≤ n·10⁶, so the
    * iteration is exact below ~1.08e10 nodes all pointing at one hub
    * (850·n·10⁶ < 2⁶³). Under ANSI an overflow THROWS rather than
    * wrapping; graphs beyond that scale need the rank scale dropped
    * to ×10³ (exactness trade documented here, not silently made). */
  def pageRank(pairs: DataFrame, iters: Int = 2): DataFrame =
    Materialize.scope(pairs.sparkSession, "Graph.pageRank") { m =>
      val und = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      // ADJACENCY form (round-18 rework, guide §2.4/§3): the old edge
      // table was (src, dst, deg) — m rows — and every iteration paid a
      // sort-merge join of those m rows against the n-row rank table
      // (two sorts of corpus-scale input per iteration). Grouping the
      // out-neighborhoods once into (src, deg, ds: array<dst>) makes
      // the per-iteration join NODE-sized on both sides (n vs n, the
      // rank table is already partitioned by node from the previous
      // groupBy); contributions then fan out map-side via explode —
      // the only per-iteration shuffle left is the groupBy(dst) partial
      // sum the algorithm fundamentally requires. deg = size(ds): one
      // aggregate builds both. Materialized: it feeds every iteration,
      // and the rank table below is lazy.
      val adjd = m("adjacency")(und.groupBy("src")
        .agg(count(lit(1)).as("deg"), collect_list(col("dst")).as("ds")))
      var ranks = adjd.select(col("src").as("node"), lit(1000000L).as("pr"))
      (1 to iters).foreach { i =>
        ranks = adjd.join(ranks, adjd("src") === ranks("node"))
          // contrib(u) = pr(u) div deg(u), identical per out-edge, so
          // compute it ONCE per node and explode it over the
          // out-neighborhood — map-side fan-out, no m-row join
          .select(explode(col("ds")).as("dst"), expr("pr div deg").as("c"))
          .groupBy(col("dst").as("node"))
          .agg(sum("c").as("sc"))
          .select(col("node"), expr("150000 + (850 * sc) div 1000").as("pr"))
        // Per-iteration eager checkpoints forced one synchronous job
        // per iteration (3 jobs for the benched 2-iteration call) where
        // a lazy chain pipelines into the caller's single action. Rank
        // lineage still cannot grow unboundedly for long loops: cut it
        // every 4 iterations (node-sized, serialized like the adjacency
        // table) so plan analysis stays O(1) in the iteration count.
        if (i % 4 == 0 && i < iters) ranks = m("ranks")(ranks)
      }
      ranks
    }

  /** Per-node triangle participation counts over an undirected pair
    * set (a, b), a < b, distinct. Degree-ordered orientation (the
    * Cohen / Suri-Vassilvitskii MapReduce form): direct each edge
    * from its lower-(degree, id) endpoint, which bounds every node's
    * out-degree by O(√m), so one celebrity node cannot fan out into
    * deg² work. Triangles close by adjacency-set intersection (the
    * edge-iterator form of Chiba-Nishizeki / Latapy's compact-
    * forward): each node's oriented out-neighborhood is packed once
    * into a sorted array and every oriented edge (u, v) closes its
    * triangles locally via `array_intersect(adj(u), adj(v))` — the
    * only triangle-dependent row set materialized is the
    * O(#triangles) exploded members. The Σ outdeg² volume moves as
    * packed arrays inside m rows, not as one row per wedge feeding a
    * shuffle-join build side (the wedge self-join form this replaced
    * measured 1.4-2.0x slower at every benched scale). Equi-joins on
    * node keys only, no cartesian. Returns (node, n_tri);
    * PropertySpec checks it against brute-force enumeration. */
  def triangleCounts(pairs: DataFrame): DataFrame =
    Materialize.scope(pairs.sparkSession, "Graph.triangleCounts") { m =>
      val und = pairs.select(col("a").as("u"), col("b").as("v"))
        .unionByName(pairs.select(col("b").as("u"), col("a").as("v")))
      val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
      val withDeg = und
        .join(deg.select(col("u").as("x"), col("deg").as("du")),
          col("u") === col("x")).drop("x")
        .join(deg.select(col("u").as("y"), col("deg").as("dv")),
          col("v") === col("y")).drop("y")
      // feeds adj build + both edge joins
      val oriented = m("oriented edges")(withDeg.filter(
        col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")))
        .select(col("u"), col("v")))
      // feeds both sides of the edge join
      val adj = m("adjacency")(oriented.groupBy("u")
        .agg(sort_array(collect_list(col("v"))).as("ns")))
      val closed = oriented
        .join(adj, Seq("u"))
        .withColumnRenamed("ns", "nsu")
        .join(adj.select(col("u").as("v"), col("ns").as("nsv")), Seq("v"))
        .select(col("u"), col("v"),
          array_intersect(col("nsu"), col("nsv")).as("ws"))
        .filter(size(col("ws")) > 0)
      // u and v each participate in every triangle this edge closes;
      // each w in exactly one per membership
      val uv = closed.select(
        explode(array(col("u"), col("v"))).as("node"),
        size(col("ws")).cast("long").as("c"))
      val wc = closed.select(explode(col("ws")).as("node"), lit(1L).as("c"))
      uv.unionByName(wc)
        .groupBy("node").agg(sum("c").as("n_tri"))
    }
}
