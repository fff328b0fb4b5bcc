package graft.perfbench

/** The per-layer metrics every traced run reports, with their units. A
  * layer a workload does not exercise reports 0 (the drain workloads never
  * touch `state` or `lifecycle`; only `corpus_drain` runs the kernel
  * microbench). BENCHMARK.json lists the same names. */
object Layers {
  /** The 17 native kernels the session extension registers. */
  val Kernels: Seq[String] = Seq(
    "graft_dot", "graft_simhash", "graft_minhash", "graft_norm_text", "graft_bigrams",
    "graft_topcount", "graft_gramset", "graft_bpe", "graft_deflate_len", "graft_mg",
    "graft_bloom", "graft_bloom_contains", "graft_ivf_scores", "graft_pq_encode",
    "graft_pq_lut", "graft_pq_adc", "graft_topk")

  val SelfTimed: Seq[String] =
    Seq("operators", "functions", "sources", "streaming", "state", "lifecycle")

  val all: Seq[(String, String)] =
    Seq(
      "operators.construct_ms" -> "ms", "operators.plan_ms" -> "ms", "operators.exec_ms" -> "ms",
      "operators.cpu_ms" -> "ms", "operators.run_ms" -> "ms", "operators.gc_ms" -> "ms",
      "operators.stages" -> "count", "operators.tasks" -> "count",
      "operators.shuffle_read_bytes" -> "bytes", "operators.shuffle_write_bytes" -> "bytes",
      "operators.spill_bytes" -> "bytes", "operators.scan_bytes" -> "bytes",
      "operators.rows_out" -> "count", "operators.peak_exec_mem_bytes" -> "bytes",
      "operators.memo_served" -> "count") ++
    Kernels.map(k => s"functions.$k.ns_per_row" -> "ns/row") ++
    Seq(
      "sources.store_build_s" -> "s", "sources.sink_write_ms" -> "ms",
      "sources.sink_bytes" -> "bytes", "sources.forget_ms" -> "ms",
      "sources.compact_ms" -> "ms", "sources.store_bytes" -> "bytes",
      "streaming.ingest_batch_ms" -> "ms",
      "state.write_p50_ms" -> "ms", "state.write_p95_ms" -> "ms",
      "state.read_p50_ms" -> "ms", "state.read_p95_ms" -> "ms", "state.calls" -> "count",
      "state.checkpoint_ms" -> "ms", "state.vacuum_ms" -> "ms",
      "state.log_versions" -> "count", "state.log_bytes" -> "bytes",
      "lifecycle.envelope_p50_ms" -> "ms", "lifecycle.envelope_p95_ms" -> "ms",
      "lifecycle.envelope_calls" -> "count",
      "lifecycle.startup_p50_ms" -> "ms", "lifecycle.startup_p95_ms" -> "ms",
      "lifecycle.endup_p50_ms" -> "ms", "lifecycle.endup_p95_ms" -> "ms",
      "lifecycle.dep_polls" -> "count", "lifecycle.dep_wait_ms" -> "ms",
      "lifecycle.daily_gate_ms" -> "ms")
}
