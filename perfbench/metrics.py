"""Metric, workload and layer definitions. ``BENCHMARK.json`` mirrors
``WORKLOADS``, ``END_TO_END`` and ``PER_LAYER`` (a test keeps them in
step). What that file has no key for lives here too: the definition of
each end-to-end metric, which end-to-end metric each layer metric should
move and on which workload (``PER_LAYER``), and which layers each
workload stresses or bypasses (``WORKLOAD_LAYERS``).

Every run reports every metric of its kind. A "cycle" is the unit of
work a workload repeats:

- ``pipeline``: one simulated hour, from the start of the hour's poll
  to that hour's batch committed (raw appended, ``daily`` refreshed, log
  row written); the first hour of a day also runs retention first;
- ``query_mix``: one warm pass over the query list.
"""

from __future__ import annotations

WORKLOADS = {
    "pipeline": (
        "the reference's own pipeline: a backlog catch-up (per-row work) then hourly polls of one "
        "city across midnight, one tiny batch each (per-batch fixed costs, ingest_once, log sink)"
    ),
    "query_mix": (
        "the read side: a fixed list of registry entries checked against DuckDB, cold pass then "
        "warm passes; exercises plans, operators and the shared-relation caches the pipeline bypasses"
    ),
}

#: name -> (unit, better, bound, definition)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "process start -> session up, package imported, one warm-up job finished"),
    "cycle_p50_s": ("s", "lower", 0.25,
                    "median cycle time (pipeline: the ordinary hours' poll -> batch committed, "
                    "day-boundary cycles excluded; query_mix: one warm pass)"),
    "cycle_tail_s": ("s", "lower", 0.25,
                     "highest cycle-time percentile with >=10 samples above it; the maximum "
                     "when a run has <=10 cycles (the record states percentile and count); "
                     "pipeline: over all measured cycles, which include one day boundary"),
    "cold_s": ("s", "lower", 0.25,
               "the session's first pass over its data (pipeline: backlog catch-up = stream "
               "batch with full-history refresh, retention, compaction; query_mix: every "
               "entry's first run = plan build + execute + toArrow)"),
}

#: The query list (registry order). Only entries that matched their
#: oracle on every seed tried: ``tpch_q9_product_profit``, ``tpch_q3_shipping_priority``
#: and ``daily_rollup_events`` are left out, because each rounds a double
#: SUM or AVG that lands on an exact half-cent tie on some generated tables
#: and then misses its DuckDB oracle (a package defect, pinned by
#: ``test_perfbench.py::test_known_defect_matches_its_oracle_on_generated_tables``);
#: a benchmark run must not fail an operation on any seed.
MIX = [
    "dedup_minhash_lsh",  # builds the shared near-dup relations ...
    "dedup_clusters",  # ... this follower reuses them
    "text_token_counts",
    "window_running_analytics",
    "tpch_q18_large_volume_customers",  # shuffle joins
    "tpch_q6_forecast_revenue",  # the filter-scan-agg floor
    "similarity_ann_ivf_kmeans",  # Arrow boundary; eager k-means in plan build
]

_STREAM = ["latest_offset_ms", "get_batch_ms", "query_planning_ms", "add_batch_ms",
           "wal_commit_ms", "commit_offsets_ms", "trigger_ms"]

#: name -> (unit, end-to-end metric and workload it should move)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "setup_s, both workloads"),
    "plans.import_s": ("s", "setup_s, both workloads"),
    "landing.ingest_once_s": ("s", "cycle_p50_s on pipeline; no change on cold_s (catch-up bypasses it)"),
    "landing.files": ("count", "cycle_p50_s on pipeline (files ingest_once wrote in the measured cycles)"),
    **{f"stream.{k}": ("ms", "cycle_p50_s on pipeline; little effect on cold_s") for k in _STREAM},
    "stream.batches": ("count", "cycle_p50_s on pipeline"),
    "stream.input_rows": ("count", "cycle_p50_s on pipeline"),
    "jobs.load_and_transform_s": ("s", "cycle_p50_s on pipeline"),
    "jobs.append_hourly_s": ("s", "cycle_p50_s on pipeline"),
    "jobs.refresh_daily_s": ("s", "cycle_p50_s on pipeline (day-scoped refresh)"),
    "jobs.log_s": ("s", "cycle_p50_s on pipeline"),
    "jobs.log_calls": ("count", "cycle_p50_s on pipeline"),
    "jobs.cleanup_hourly_s": ("s", "cycle_tail_s on pipeline (day-boundary cycles)"),
    "jobs.compact_hourly_s": ("s", "cold_s on pipeline (0 in cycles: compaction runs in the catch-up)"),
    "jobs.quarantined_rows": ("count", "stays 0 on clean input"),
    "storage.hourly_files": ("count", "cycle_p50_s on pipeline (small files the refresh re-reads)"),
    "storage.log_files": ("count", "cycle_p50_s on pipeline"),
    "storage.bytes_per_input_byte": ("ratio", "cold_s on pipeline"),
    "catchup.rows_per_s": ("rows/s", "cold_s on pipeline (backlog rows / catch-up time)"),
    "catchup.add_batch_ms": ("ms", "cold_s on pipeline"),
    "catchup.append_hourly_s": ("s", "cold_s on pipeline"),
    "catchup.refresh_daily_s": ("s", "cold_s on pipeline (full-history refresh)"),
    "catchup.cleanup_hourly_s": ("s", "cold_s on pipeline"),
    "catchup.compact_hourly_s": ("s", "cold_s on pipeline"),
    "catchup.executor_run_s": ("s", "cold_s on pipeline"),
    "catchup.shuffle_write_mb": ("MB", "cold_s on pipeline"),
    "spark.jobs": ("count", "cycle_p50_s on both workloads (per-batch and per-query floor)"),
    "spark.stages": ("count", "cycle_p50_s on both workloads (per-batch and per-query floor)"),
    "spark.tasks": ("count", "cycle_p50_s on both workloads"),
    "spark.executor_run_s": ("s", "cycle_p50_s on both workloads"),
    "spark.executor_cpu_s": ("s", "cycle_p50_s on both workloads"),
    "spark.gc_s": ("s", "cycle_tail_s on both workloads"),
    "spark.shuffle_read_mb": ("MB", "cold_s and cycle_p50_s on query_mix"),
    "spark.shuffle_write_mb": ("MB", "cold_s and cycle_p50_s on query_mix"),
    "spark.spill_mb": ("MB", "cold_s and cycle_p50_s on query_mix"),
    **{f"query.{q}.{part}": ("s", f"{'cold_s' if part == 'cold_s' else 'cycle_p50_s'} on query_mix")
       for q in MIX for part in ("build_s", "exec_s", "cold_s")},
    "catalyst.analysis_s": ("s", "cold_s and cycle_p50_s on query_mix"),
    "catalyst.optimization_s": ("s", "cold_s and cycle_p50_s on query_mix"),
    "catalyst.planning_s": ("s", "cold_s and cycle_p50_s on query_mix"),
    "cache.persisted_relations": ("count", "cold_s (shared builds paid) vs cycle_p50_s (hits served) "
                                           "and peak_rss_mb on query_mix; no change on pipeline"),
    "cache.storage_mb": ("MB", "peak_rss_mb on query_mix; no change on pipeline"),
    "process.peak_rss_mb": ("MB", "peak resident memory of the driver JVM plus Python; per-layer "
                                  "because it does not repeat within a tenth between runs"),
    "trace.overhead_s": ("s", "tracing bookkeeping per run (status-store reads); not a program cost"),
    "trace.cycle_p50_s": ("s", "cycle_p50_s measured with tracing on; minus the untraced value = overhead"),
}

#: Per-layer aggregation: per-call timings and per-cycle Spark counters
#: are medians over the measured cycles (warm passes); counts are totals
#: over the measured cycles; ``catchup.*`` and ``query.*.cold_s`` are the
#: single cold pass.
WORKLOAD_LAYERS = {
    "pipeline": {
        "stresses": ["landing.ingest_once", "streaming.pipeline (catch-up batch, per-batch phases)",
                     "jobs.WeatherWarehouse (full-history and day-scoped refresh, log sink, "
                     "retention, compaction)", "connectors storage (partitioned writes, small files)",
                     "spark scheduler (job floor) and executors (per-row work)"],
        "bypasses": ["plans", "operators beyond clean/rollup", "shared-relation caches"],
    },
    "query_mix": {
        "stresses": ["plans (Python plan build, eager actions)", "operators", "shared-relation caches",
                     "catalyst", "spark scheduler and executors", "Arrow boundary"],
        "bypasses": ["landing", "streaming.pipeline", "jobs.WeatherWarehouse"],
    },
}
