package perfbench

/** The per-layer metrics (the `--trace 1` output; BENCHMARK.json gives
  * their units) and the end-to-end metric each is expected to move. */
object Layers {
  private val queryMetrics = Seq("build_s", "run_s", "jobs", "stages", "tasks",
    "plan_ms", "idle_core_s", "task_s", "scan_bytes", "shuffle_bytes", "spill_bytes",
    "broadcasts", "bnlj", "gc_s", "codegen_compiles", "codegen_ms", "cached_bytes_left")
  private val streamMetrics = Seq("plan_ms", "wal_ms", "commit_ms", "exec_ms",
    "task_s", "jobs", "tasks", "state_commit_ms", "state_rows", "state_bytes",
    "batches", "batch_ms_p50", "busy_ratio", "late_dropped")

  val names: Seq[String] =
    Seq("core.session_s", "core.fixture_load_s", "core.prewarm_s", "core.prewarm_jobs",
      "core.cache_bytes") ++
    (for (m <- queryMetrics; ph <- Seq("cold", "warm")) yield s"queries.$m.$ph") ++
    (for (m <- streamMetrics; q <- Streams.Queries) yield s"streaming.$m.$q") ++
    Seq("streaming.window_emit_ms_p50", "streaming.drain_eps_1core",
      "sources.list_ms", "sources.get_batch_ms", "sources.upsert_ms",
      "sources.upsert_calls", "sources.upsert_rows",
      "gen.events", "gen.late_ms_max", "gen.backlog_end")

  /** Per-layer metric (prefix) -> the end-to-end metric and workload it
    * should move. A name matches the longest listed prefix. */
  val movesEndToEnd: Seq[(String, String)] = Seq(
    "core." -> "setup_s (every workload; only core.session_s on the streams)",
    "core.prewarm" -> "setup_s of a full board (traced board runs only)",
    "queries.build_s" -> "latency_ms_p50 and throughput_per_s on board_slice",
    "queries.jobs" -> "latency_ms_p50 and throughput_per_s on board_slice",
    "queries.stages" -> "latency_ms_p50 and throughput_per_s on board_slice",
    "queries.tasks" -> "latency_ms_p50 and throughput_per_s on board_slice",
    "queries.plan_ms" -> "latency_ms_p50 and throughput_per_s on board_slice",
    "queries.idle_core_s" -> "latency_ms_p50 and throughput_per_s on board_slice",
    "queries." -> "throughput_per_s on board_slice (its slowest keys)",
    "queries.codegen" -> "cold_s on board_slice",
    "queries.cached_bytes_left" -> "heap_peak_mb",
    "streaming." -> "latency_ms_p50 on remit_stream (paced phase)",
    "streaming.exec_ms" -> "throughput_per_s on remit_stream (drain phase)",
    "streaming.task_s" -> "throughput_per_s on remit_stream (drain phase)",
    "streaming.jobs" -> "throughput_per_s on remit_stream (drain phase)",
    "streaming.tasks" -> "throughput_per_s on remit_stream (drain phase)",
    "streaming.state_" -> "throughput_per_s on remit_stream (drain phase)",
    "streaming.drain_eps_1core" -> "throughput_per_s on remit_stream (drain phase)",
    "streaming.window_emit" -> "window emit latency on remit_stream (paced phase) (record only)",
    "sources." -> "latency_ms_p50 on remit_stream (paced phase)",
    "sources.upsert_rows" -> "none: a count of windows written",
    "streaming.late_dropped" -> "none: must stay 0",
    "gen." -> "none: checks that a run is valid")

  def moves(name: String): String =
    movesEndToEnd.filter(p => name.startsWith(p._1)).maxBy(_._1.length)._2
}
