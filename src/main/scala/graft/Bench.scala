package graft

/** Benchmark main — driver contract: one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Runs the headline queries (the shapes that dominate at scale) on
  * SPARK_GRAFT_SF_DIR. Each query is fully materialized through the
  * noop sink (distributed execution, rows consumed where produced).
  * Self-validates against host contention: a query tripping any of
  * the four [[contentionSuspect]] triggers gets one fresh
  * end-of-suite retry and a `noisy` marker in the artifact; consumers
  * read [[effectiveWarm]] = min(warm, retry).
  */
object Bench {
  /** Headline subset: the canonical query shapes + heavy scale ops.
    * Must all be keys of [[SparkEntry.queries]]. */
  val headline: Seq[String] = Seq(
    // core query-compiler shapes
    "a1_daily_fact", "a2_sum_groupby", "a3_grand_total", "a5_lifetime_mv",
    "a9_running_avg", "a10_cumulative", "a11_rollup", "a12_median",
    "a13_histogram", "a14_approx_distinct", "a16_salted_agg",
    "a17_grouping_sets", "a18_approx_quantiles", "s11_profile",
    "o2_limit_offset", "o3_topn", "o5_data_min", "o6_pivot", "o7_string_agg",
    "o8_ntile", "o9_group_topn", "o11_weighted_sample", "a8_like_finder",
    // joins
    "j1_set_join", "j2_grouping_join", "j3_semi_join", "j5_bloom_semi",
    "j6_anti", "j7_salted_join",
    // time series / sessions
    "w1_densify", "w2_regroup_month", "w6_compare_years", "w7_moving_avg",
    "w8_sessionize", "w9_range_frame", "w10_funnel", "w11_cohort",
    "w12_interpolate",
    // filters / classifiers
    "f3_repeat_lag", "f3_repeat_seq", "c1_geo_country", "c5_referrer",
    "c6_search_terms", "c13_json_props",
    // set ops
    "u1_except", "u2_intersect",
    // TPC-H-shaped analytics
    "h1_pricing_summary", "h2_shipping_priority", "h3_top_orders",
    "h4_order_priority", "h5_region_revenue", "h6_forecast_revenue",
    "h7_custdist", "h8_large_orders", "h9_returned_revenue",
    "h10_priority_class", "h11_supplier_cnt", "h12_disjunctive_join",
    "h13_min_cost", "h14_promo_share", "h15_top_supplier", "h16_volume_shipping",
    "h17_small_qty", "h18_market_share", "h19_nation_profit",
    "h20_part_suppliers", "h21_waiting_supplier", "h22_idle_rich",
    "o10_rank_sample",
    // custom operators
    "x1_asof_attribution", "x2_asof_native", "x3_range_join",
    // dedup family
    "d1_exact_dedup", "d2_minhash_lsh", "d3_simhash", "d4_ngram_jaccard",
    "d5_line_dedup", "d6_dedup_clusters", "d7_fuzzy_pairs",
    "d8_substring_spans", "d9_semantic_dedup", "d11_containment",
    // similarity family
    "v1_ann_bruteforce", "v3_lsh_buckets", "v4_ann_lsh", "v5_ann_ivf",
    "v6_sq_quantize", "v7_rrf_fusion", "v8_pq_adc", "v9_ivf_pq",
    // text pipeline
    "t1_token_stats", "t4_fingerprint", "t6_quality_rules", "t10_frequent_terms",
    "t13_repetition", "t14_pack", "t15_chunk_spans", "t16_contamination",
    "t17_ttr", "t18_source_budget", "t19_bm25", "t20_bigram_lm", "o13_zorder",
    // multimodal plumbing
    "m1_multimodal_decode", "m2_frame_sample", "m3_frame_align")

  /** Effective warm time of an artifact entry: `min(warm, retry)` when
    * a contention retry ran — the fastest correct execution is the
    * operator's cost; the slower probe is the noise sample. The ONE
    * definition shared by Bench's own totals and the artifact gates
    * (Sf1GrowthGateSpec, Bench30xGateSpec): a rule change here reaches
    * every consumer, so the contract line and the gates can never
    * total different numbers for the same artifact. */
  def effectiveWarm(warm: Double, retry: Option[Double]): Double =
    retry.filter(_ >= 0).map(math.min(_, warm)).getOrElse(warm)

  /** The host-contention suspect predicate — the five retry triggers
    * documented at the retry pass below, extracted so the replay spec
    * (BenchTriggerSpec) can pin known contention blips against it:
    * (a) warm >3x committed warm; (b) warm above the same run's cold
    * (physically nonsensical) — >1.25x generally, tightened to >1.1x
    * once warm >2s (the round-13 d14 blip: warm 4.32 vs cold 3.73,
    * 1.16x, slipped the flat 1.25x; on a multi-second query a 10%
    * warm-above-cold excess is already beyond scheduler jitter);
    * (c) cold >2x committed cold AND warm >1.5x committed warm — the
    * joint all-runs-inflated signature (the round-10 d4 blip) that
    * evades (a) and (b); (d) warm >2x committed warm AND warm >2s —
    * multi-second mid-board drift (the round-11 s11 blip: 7.5s vs
    * 3.4s committed, 2.2x, under (a)'s 3x and with cold inflated in
    * step so (b)/(c) stayed quiet); (e) warm >1.4x committed warm AND
    * warm >3s — sub-2x drift on the board's heaviest queries (the
    * round-13 d6 blip: 5.17s vs 3.49s pin, 1.48x, under every other
    * trigger yet 1.7s of pure contention). A retry costs one
    * re-measure and agreement keeps the number, so the tighter
    * ratios are safe exactly where the absolute time is material. */
  def contentionSuspect(cold: Double, warm: Double,
      baseCold: Option[Double], baseWarm: Option[Double]): Boolean =
    warm >= 0 && (baseWarm.exists(b => b > 0 && warm > 3 * b) ||
      (cold > 0 && warm > 1.25 * cold && warm > 1.0) ||
      (cold > 0 && warm > 1.1 * cold && warm > 2.0) ||
      (baseCold.exists(b => b > 0 && cold > 2 * b && cold > 1.0) &&
        baseWarm.exists(b => b > 0 && warm > 1.5 * b)) ||
      baseWarm.exists(b => b > 0 && warm > 2 * b && warm > 2.0) ||
      baseWarm.exists(b => b > 0 && warm > 1.4 * b && warm > 3.0))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming",
      org.apache.logging.log4j.Level.ERROR)

    val qs = SparkEntry.queries
    // Comma-separated subset of names: local iteration, and with
    // SPARK_GRAFT_BENCH_OUT pointed at a scratch file the adjudication
    // run for a disputed row (a fresh JVM, the same 3-run protocol, no
    // committed baseline to retry against).
    // Unknown names FAIL LOUDLY: scripts/repin.sh derives the heavy
    // list from the committed artifact's keys, so after a query rename
    // a silent drop would shrink BOTH fresh heavy artifacts in step
    // and slip past the gates' keyset-equality check.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    only.foreach { o =>
      val unknown = o.diff(qs.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not on the board: " +
          s"${unknown.toSeq.sorted.mkString(",")}")
    }
    // ...and so does a headline name: filtering it out would silently
    // reorder the stdout contract line.
    val unregistered = headline.filterNot(qs.contains)
    require(unregistered.isEmpty,
      s"Bench.headline names not on the board: ${unregistered.mkString(",")}")
    // FULL board: the headline shapes first (their relative order is
    // the stdout-contract-line priority), then every remaining
    // SparkEntry query in name order — a green oracle row without a
    // wall-time trail is a perf regression nobody sees.
    val rest = qs.keys.toSeq.filterNot(headline.contains).sorted
    val names = (headline ++ rest)
      .filter(n => only.forall(_.contains(n)))
    // JVM-wide warmup (guarded: entry reads a fixed smoke path that
    // may not exist on every bench host) — pays the one-off Spark
    // bootstrap so q1's cold time is the QUERY's cold cost, not the
    // session's.
    try SparkEntry.entry(spark).collect()
    catch { case _: Throwable => () }

    // Cold/warm protocol (round-7 verdict item 4): each query runs
    // 3x in-session — run 1 is COLD (plan compilation, codegen,
    // parquet footer reads), runs 2-3 give WARM = min (steady-state
    // operator throughput; the minimum is the standard low-variance
    // estimator under shared-machine scheduler noise — round-2 driver
    // runs showed sustained 3-8x inflation vs local best on single
    // samples). The contract line totals WARM times; cold times ship
    // alongside in the full artifact so a cold-vs-warm gap reads as
    // JVM/compile amortization, not a plan regression.
    // One measured execution of `name`: cache/checkpoint hygiene
    // first (untimed), then the plan materialized through the noop
    // sink. Shared by the main 3-run protocol and the end-of-suite
    // noise retries so both measure exactly the same thing.
    def runOnce(name: String): Double = {
      // Drop what prior queries left first: a query's returned frame
      // reads the checkpoints its operators materialized
      // (graft.store.Materialize: the caller owns them), and the
      // harness is that caller. A suite-long session otherwise
      // accumulates every query's blocks — by the 60th query the
      // executor heap is mostly stale blocks and GC drag inflates the
      // tail of the suite (measured: the d-family, benched last, ran
      // 3x slower in a shared session than alone; at 30x data a 2.7x
      // slowdown on g1 and the difference between fitting in heap and
      // OOM). clearCache drops SQL-cached frames but NOT checkpoint
      // blocks, hence the RDD unpersists too. Prior runs' blocks are
      // dead (each run rebuilds its plans from scratch), so dropping
      // every persistent RDD between runs is safe.
      spark.catalog.clearCache()
      // BLOCKING: the async form returns before the BlockManager
      // frees anything, so at 30x the next run's first big sort
      // races the cleaner for the same heap — the stage-754 OOM
      // cascade in the first 30x regen. Untimed (before t0).
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val t0 = System.nanoTime()
      // Materialize through the NOOP SINK (full distributed
      // execution of the plan, rows consumed where they are
      // produced), not collect(): a production consumer writes
      // results to a sink, and for the pair-list queries the TRUE
      // output grows with the corpus (d3 at the 30x step emits
      // ~2.2M pairs — collect()ing that measured driver fetch and
      // eventually OOM'd the harness, not the operator).
      try {
        qs(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        // -1 marks a failed query so its time-to-failure can't pass
        // as a plausible fast result in the contract line
        -1.0
      }
    }

    // Committed per-query baseline for host-contention detection:
    // read BEFORE the artifact write below can overwrite it. The
    // round-9 driver run published a 6-17x phantom tail (set_closure,
    // m6, d8, t9) that a fresh JVM could not reproduce — the same
    // suite-position/host-noise class diagnosed twice before. Any
    // query whose warm time exceeds its committed entry by >3x gets
    // one fresh re-measure at the END of the suite; the artifact
    // records both plus a `noisy` marker, so a contaminated run
    // self-labels instead of reading as a plan regression.
    // The baseline DEFAULTS to the file this run will overwrite
    // (benchOut): an sf1 or subset run that omitted the explicit
    // BASELINE override used to compare its warm times against the
    // sf0.1 BENCH_FULL baselines, flagging nearly every query >3x and
    // burning a spurious end-of-suite retry pass on all of them
    // (round-10 advice). Same-file self-comparison is always
    // scale-consistent; an explicit override still wins.
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val baselinePath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", benchOut)
    val (baselineWarm, baselineCold): (Map[String, Double], Map[String, Double]) = try {
      val src = scala.io.Source.fromFile(baselinePath, "UTF-8")
      val txt = try src.mkString finally src.close()
      // A committed noisy entry carries its contaminated warm PLUS the
      // retry; the baseline must be the EFFECTIVE warm (min of the
      // two, same rule as everywhere else) or the entry's own noise
      // desensitizes every ratio trigger against it — e.g. a committed
      // {warm:3.0, retry:1.0} would let a 2.9x-contaminated 2.9s pass
      // all four triggers if 3.0 were the baseline.
      val re = ("\"([A-Za-z0-9_]+)\":\\{\"cold\":(-?[0-9.]+)," +
        "\"warm\":(-?[0-9.]+)(?:,\"retry\":(-?[0-9.]+))?").r
      val entries = re.findAllMatchIn(txt).map { m =>
        val retry = Option(m.group(4)).map(_.toDouble)
        (m.group(1), m.group(2).toDouble,
          effectiveWarm(m.group(3).toDouble, retry))
      }.toList
      (entries.map(e => e._1 -> e._3).toMap, entries.map(e => e._1 -> e._2).toMap)
    } catch { case _: Throwable => (Map.empty, Map.empty) }

    val results = names.map { name =>
      // Cold/warm protocol: 3 runs; run 1 is COLD, warm = min of 2-3.
      val times = (1 to 3).map(_ => runOnce(name))
      // A failure in ANY of the 3 runs marks BOTH phases -1: if cold
      // kept its time while warm went -1, cold_total and value would
      // aggregate different query sets and the documented cold-vs-warm
      // "one subtraction away" comparison would silently skew.
      val failed = times.exists(_ < 0)
      val cold = if (failed) -1.0 else times.head
      val warm = if (failed) -1.0 else times.tail.min
      (name, cold, warm)
    }
    // End-of-suite retry pass for the contention suspects. Retrying
    // at the END (not in place) is the point: suite-position noise —
    // a co-tenant burst, a GC storm from a neighboring query — has
    // moved on by then, so agreement between the two probes means the
    // time is real and disagreement means the run was contaminated
    // (the two-probe protocol that settled the ImageIO and g2-vs-g2b
    // timing disputes). Effective warm = min(warm, retry): the
    // fastest correct execution is the operator's cost; the slower
    // probe is the noise sample, preserved in the artifact.
    // Four triggers: (a) warm >3x the committed baseline; (b) warm
    // exceeding the SAME RUN's cold by >25% — physically nonsensical
    // (the cold run pays plan compilation and codegen on top of the
    // same work), so it can only be interference landing on runs 2-3.
    // (b) caught a real case the 3x rule missed: a 56s-baseline query
    // measured cold 75s / warm 114s under contention — 2.0x baseline,
    // under the (a) threshold, yet obviously contaminated.
    // (c) cold >2x the committed cold while warm is also elevated:
    // the round-10 d4 blip (cold 5.65s vs committed 2.0s, warm 3.61s
    // vs 1.38s — fresh-JVM re-time 1.13s) inflated BOTH phases, so it
    // slipped (a) at 2.61x and (b) because cold rose with warm. A
    // contention burst spanning all 3 runs shows exactly this joint
    // signature; a genuine plan regression would too, and the retry
    // simply re-measures — agreement keeps the number, so (c) costs
    // nothing when the slowdown is real.
    // (d) warm >2x committed AND >2s absolute: multi-second mid-board
    // drift (round-11 s11: 7.5s vs 3.4s committed with cold inflated
    // in step — under (a)/(b)/(c), yet a heavy-subset leg minutes
    // later read 3.1s). Material times get the tighter ratio; the
    // 2s floor keeps small-query jitter on (a)'s 3x rule.
    val suspects = results.collect { case (n, c, w)
      if contentionSuspect(c, w, baselineCold.get(n), baselineWarm.get(n)) => n }
    if (suspects.nonEmpty)
      System.err.println(s"[bench] retrying ${suspects.size} suspect(s) " +
        s"(contention triggers vs committed $baselinePath): ${suspects.mkString(",")}")
    val retries: Map[String, Double] = suspects.map(n => n -> runOnce(n)).toMap
    def effWarm(name: String, warm: Double): Double =
      effectiveWarm(warm, retries.get(name))
    val total = results.map { case (n, _, w) =>
      if (w >= 0) effWarm(n, w) else 0.0 }.sum
    val coldTotal = results.map(_._2).filter(_ >= 0).sum
    // Chain-level warm-drift gate (round-15 verdict): uniform host-
    // throttle creep inflates every row ~15% without tripping ANY
    // per-query trigger (each ratio stays under its threshold), yet
    // the accepted leg ratchets the regression baseline up 20%. The
    // chain-level signal is the SUM over rows shared with the prior
    // pin: drift = common_warm / baseline_common_warm. The artifact
    // records all three; the chain (scripts/repin.sh) accepts a leg
    // only when drift <= 1.10, and ChainHygieneSpec gates the
    // committed artifacts. New rows (board growth) are excluded by
    // construction — they have no baseline to creep against.
    val common = results.collect { case (n, _, w)
      if w >= 0 && baselineWarm.get(n).exists(_ >= 0) =>
        (effWarm(n, w), baselineWarm(n)) }
    val commonWarm = common.map(_._1).sum
    val baseCommonWarm = common.map(_._2).sum
    val driftJson = if (baseCommonWarm > 0)
      f""","common_warm":$commonWarm%.3f,"baseline_common_warm":$baseCommonWarm%.3f,"drift":${commonWarm / baseCommonWarm}%.4f"""
    else ""
    if (baseCommonWarm > 0 && commonWarm > 1.10 * baseCommonWarm)
      System.err.println(f"[bench] WARNING: chain-level warm drift " +
        f"${commonWarm / baseCommonWarm}%.3fx over ${common.size} common rows " +
        f"($commonWarm%.1fs vs $baseCommonWarm%.1fs committed) — leg should " +
        "not become a pin; re-run rested")
    // Full per-query map goes to a FILE (committed with the repo); the
    // stdout contract line is kept under the driver's 2000-char tail
    // buffer — BENCH_r04/r05 proved a 97-query single line gets its
    // head clipped by that buffer and arrives unparseable.
    val fullJson = results.map { case (k, c, w) =>
      val noise = retries.get(k) match {
        case Some(r) => f""","retry":$r%.3f,"noisy":true"""
        case None => ""
      }
      "\"" + k + f"""":{"cold":$c%.3f,"warm":$w%.3f$noise}"""
    }.mkString("{", ",", "}")
    try {
      val w = new java.io.PrintWriter(benchOut, "UTF-8")
      try w.println(
        f"""{"metric":"total","value":$total%.3f,"cold_total":$coldTotal%.3f$driftJson,"unit":"sec","queries":$fullJson,"sf":"$sfDir"}""")
      finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $benchOut: ${e.getMessage}")
    }
    // Contract line: entries added in tracked-then-name order until
    // the char budget is hit; 2 decimals. Budget history: 1500 through
    // round 17 (62 queries), raised to 1965 in round 18 so the line
    // carries the streaming/kp/graph/heavy rows the round-17 PERF
    // comparison was blind to (its geomean missed a 9.1x st5 win
    // entirely). The driver's tail window is ~2000 chars and the line
    // is the LAST stdout this main produces (log level is forced to
    // ERROR just before the println so no stop-time WARN can land
    // after it and clip the line's head out of the window).
    val budget = 1965
    // Perf-tracked queries go first so they survive the budget cut —
    // three tiers, ordered so an unexpected overflow can only ever
    // drop a row that was never on the line before (dropping a
    // previously-reported row would read as queries_dropped):
    //   1. the 28 rows tracked since round 7 (original order);
    //   2. the 34 name-order rows the 1500-char line carried through
    //      round 17, pinned explicitly;
    //   3. NEW in round 18 (additions only): st1-st6, kp1-kp4 + kp2b,
    //      g1/g2/g2b, d3, v10, t16, t30 — every >1.5 s row plus the
    //      heavy paths the round-17 verdict asked onto the line.
    val tracked = Seq("j1_set_join", "j2_grouping_join", "j5_bloom_semi",
      "d6_dedup_clusters", "h1_pricing_summary", "d2_minhash_lsh",
      "d4_ngram_jaccard", "v4_ann_lsh", "w8_sessionize", "x2_asof_native",
      "h21_waiting_supplier", "a12_median", "o8_ntile", "t18_source_budget",
      "v8_pq_adc", "t19_bm25", "t20_bigram_lm", "o13_zorder",
      "d8_substring_spans", "d11_containment", "s11_profile", "m3_frame_align",
      "a23_hll_union", "j8_pit_lookup", "x5_linear_attribution",
      "v15_recall_eval", "w16_ewma", "m8_audio_resample",
      // tier 2: the round-17 line's name-order tail, pinned
      "a10_cumulative", "a11_rollup", "a13_histogram", "a14_approx_distinct",
      "a15_cube", "a16_salted_agg", "a17_grouping_sets",
      "a18_approx_quantiles", "a19_anomaly_mad", "a1_daily_fact",
      "a20_trend", "a21_winsorized", "a22_moments", "a2_sum_groupby",
      "a3_grand_total", "a4_ratio_metric", "a5_lifetime_mv", "a6_minmax",
      "a7_count", "a8_distinct", "a8_like_finder", "a9_running_avg",
      "c13_json_props", "c14_url_canonical", "c1_geo_country", "c2_browser",
      "c3_url_parse", "c4_percent_decode", "c5_referrer",
      "c5_referrer_strict", "c6_search_terms", "d10_incremental",
      "d12_record_linkage", "d13_survivorship",
      // tier 3: round-18 additions (streaming / kp / graph / heavy)
      "st1_stream_daily", "st2_stream_dedup", "st3_stream_window",
      "st4_stream_repeat", "st5_stream_join", "st6_stream_neardup",
      "kp1_llm_curation", "kp2_stream_curation", "kp2_novel_dedup",
      "kp2b_novel_exact_once", "kp3_curation_pipeline", "kp4_stream_curate",
      "g1_pagerank", "g2_triangles", "g2b_triangles_adj",
      "d3_simhash", "v10_pq_trained", "t16_contamination",
      "t30_split_leakage")
    // tracked first, then NAME order (not measured order): the set
    // that survives the char-budget cut is then a deterministic
    // function of the query universe, so round-over-round contract
    // lines sample the SAME queries and stay diffable (the r7->r8
    // sample rotated because the remainder followed headline order).
    val ordered = results.sortBy { case (k, _, _) =>
      val i = tracked.indexOf(k); (if (i >= 0) i else tracked.length, k) }
    // contract line: value + per-query entries are effective WARM
    // times (numeric, driver-parseable; min of warm and the noise
    // retry where one ran); cold_total rides along so the cold
    // picture is one subtraction away, and `noisy` counts the
    // contention suspects that got a retry (details in the full file)
    val header = f"""{"metric":"total","value":$total%.3f,"cold_total":$coldTotal%.3f,"noisy":${retries.size},"unit":"sec","sf":"$sfDir","full":"$benchOut","queries":{"""
    val sb = new StringBuilder(header)
    var first = true
    ordered.foreach { case (k, _, w) =>
      val v = if (w >= 0) effWarm(k, w) else w
      val entry = (if (first) "" else ",") + "\"" + k + f"\":$v%.2f"
      if (sb.length + entry.length + 2 <= budget) { sb.append(entry); first = false }
    }
    sb.append("}}")
    // Nothing may print after the contract line (the driver reads it
    // from a bounded tail window; a stop-time WARN landing after a
    // ~1950-char line would clip its head out of the window). Force
    // ERROR level before printing so spark.stop()'s shutdown path
    // stays silent.
    spark.sparkContext.setLogLevel("ERROR")
    println(sb.toString)
    System.out.flush()
    spark.stop()
  }
}
