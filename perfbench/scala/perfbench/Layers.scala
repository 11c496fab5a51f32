package perfbench

/** The full per-layer report of a traced run. A layer the workload
  * leaves idle reads 0: no span of it ran. */
object Layers {
  /** Spans that carry the engine counters. */
  val EngineSpans = Seq("ingest", "filters.repeat", "processors", "store.write", "store.mv",
    "query.exec", "dedup", "streaming")

  /** Spans of `Workload.probes`, which run once per traced run. */
  val Probed = Set("dedup", "streaming")

  val Named = Seq(
    "ingest.busy_s", "ingest.process_cpu_s", "ingest.lines_read", "ingest.lines_in_window", "ingest.window_ratio",
    "filters.robots_busy_s", "filters.repeat_busy_s", "filters.rows_in", "filters.rows_kept",
    "filters.repeat_shuffle_bytes", "filters.repeat_spill_bytes",
    "processors.busy_s", "processors.fact_rows", "processors.cpu_s",
    "store.write_busy_s", "store.files_written", "store.bytes_written", "store.mv_busy_s",
    "store.mv_rows_read",
    "api.etl_jobs", "api.etl_tasks", "api.etl_driver_gap_s", "api.cache_warm_s",
    "api.cache_lookup_ms", "api.cache_hit_ratio",
    "sets.build_s", "sets.dim_rows",
    "query.compile_ms", "query.exec_ms", "query.jobs_per_request", "query.tasks_per_request",
    "query.partitions_read_per_request", "query.rows_scanned_per_row_returned",
    "query.mv_substitution_ratio",
    "series.busy_ms", "views.busy_ms", "export.serialize_ms", "export.rows_per_request",
    "functions.score_busy_s", "dedup.busy_s", "dedup.shuffle_bytes",
    "streaming.batches", "streaming.batch_p50_s", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.commit_offsets_s",
    "streaming.static_build_s",
    "trace.overhead_pct", "wall.op_p50_ms")

  /** Engine counters `c` of span `span`, per op that ran it. */
  def engine(span: String, c: Counters, n: Double): Map[String, Double] = {
    val ms = c.taskMs.sorted
    Map(
      s"$span.cpu_s" -> c.cpuNs / 1e9 / n,
      s"$span.gc_s" -> c.gcMs / 1000.0 / n,
      s"$span.shuffle_read_bytes" -> c.shuffleRead / n,
      s"$span.shuffle_write_bytes" -> c.shuffleWrite / n,
      s"$span.spill_bytes" -> c.spill / n,
      s"$span.tasks" -> c.tasks / n,
      s"$span.task_max_ms" -> (if (ms.isEmpty) 0.0 else ms.last.toDouble),
      s"$span.task_p50_ms" -> (if (ms.isEmpty) 0.0 else ms(ms.size / 2).toDouble))
  }

  private def p50(v: Seq[Double]) = if (v.isEmpty) Double.NaN else v.sorted.apply(v.size / 2)

  def report(t: Trace, named: Map[String, Double], untraced: Seq[Op],
      traced: Seq[Op]): Map[String, Double] = {
    // ops that ran the layer spans: the composed ones where a workload
    // alternates composed and real runs, otherwise every traced op
    val spanned = traced.count(_.kind == "composed") match {
      case 0 => traced.size
      case k => k
    }
    val n = math.max(spanned, 1).toDouble
    // overhead: same kind of op, listeners on vs off
    val kinds = untraced.map(_.kind).toSet
    val comparable = traced.filter(o => kinds.contains(o.kind) || o.kind == "traced_request")
    val overhead = (p50(comparable.map(_.ms)) / p50(untraced.map(_.ms)) - 1) * 100
    // probe spans run once per traced run
    val engines = EngineSpans.flatMap(s => engine(s, t.engine(s), if (Probed(s)) 1.0 else n)).toMap
    Named.map(_ -> 0.0).toMap ++ engines ++ named +
      ("trace.overhead_pct" -> (if (overhead.isNaN) 0.0 else overhead)) +
      ("wall.op_p50_ms" -> p50(untraced.map(_.ms)))
  }
}
