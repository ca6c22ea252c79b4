"""Names the benchmark measures: the headline qnames and every metric
with its unit, as listed in BENCHMARK.json."""

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_s.p50": "s",
    "query_s.p90": "s",
    "input_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
# bench.py's HEADLINE, copied so a change there does not move this benchmark
HEADLINE = (
    "flagship", "join_fact", "join_sortmerge", "agg_summary", "agg_groupby",
    "bin_quantile", "window_rank", "dedup_exact", "dedup_minhash", "sim_cosine",
    "text_stats", "stream_tumbling", "tpch_q3", "tpch_q5", "corpus_curation",
    "surrogate_key_scale",
)
SPAN_LAYERS = ("pass", "sources", "construct", "catalyst", "exec", "io", "report", "orchestration")
PER_LAYER = {
    "registry.import_s": "s",
    "session.start_s": "s",
    "construct_s": "s",
    "construct.eager_jobs": "count",
    "construct.eager_job_s": "s",
    "construct.share": "ratio",
    **{f"construct_s.{q}": "s" for q in HEADLINE},
    **{f"execute_s.{q}": "s" for q in HEADLINE},
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.single_partition_windows": "count",
    "execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.scan_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "python.rows_in": "rows",
    "python.rows_out": "rows",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.worker_s": "s",
    "sources.parse_ratio": "ratio",
    "cache.entries": "count",
    "cache.mb": "MB",
    "io.write_s": "s",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.write_amp": "ratio",
    "report.run_s": "s",
    "orchestration.attempts": "count",
    "orchestration.overhead_s": "s",
    "trace.overhead": "ratio",
    # CPU time the hypervisor gave other guests during the run: compare
    # runs only at similar values
    "host.cpu_steal_s": "s",
    **{f"self_s.{layer}": "s" for layer in SPAN_LAYERS},
}
# Times of a layer that only one listed workload has (the per-qname
# spans on headline_*; the Python crossing and the write, report and
# orchestration spans on books_etl). They read exactly 0 on every run of
# the other workload, so they go to the stderr table and the trace file,
# not the JSON line.
ONE_WORKLOAD_TIMES = {
    *(f"{kind}_s.{q}" for kind in ("construct", "execute") for q in HEADLINE),
    "python.worker_s", "io.write_s", "report.run_s", "orchestration.overhead_s",
    *(f"self_s.{layer}" for layer in ("sources", "exec", "io", "report", "orchestration")),
}
REPORTED_PER_LAYER = {k: u for k, u in PER_LAYER.items() if k not in ONE_WORKLOAD_TIMES}
