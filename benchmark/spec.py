"""What the benchmark measures: workloads, metric names, units and bounds.

``python3 benchmark/run.py --write-benchmark-json`` writes these into
``BENCHMARK.json`` at the checkout root.
"""

from __future__ import annotations

from tracing import LAYER_TOTALS, LAYERS

RUN_SECONDS = 5

# name -> (module, class, why)
WORKLOADS = {
    "incremental_arrivals": (
        "incremental_arrivals", "IncrementalArrivals",
        "daily exports merged one at a time into bucketed state by availableNow runs; the write path whose "
        "cost should be O(batch + touched buckets); its traced run also measures corpus_curate (sql, ops)"),
    "export_batch": (
        "export_batch", "ExportBatch",
        "reference json_to_parquet + expectations + compare: zip_ndjson read, stamping, dedup, deletes, "
        "relationalize, partitioned write, suite and diff; its traced run also measures analyst_reads"),
    "corpus_curate": (
        "corpus_curate", "CorpusCurate",
        "SQL over documents+embeddings views, then exact, MinHash and embedding dedup, quality filter, "
        "shard export and a SQL group-by; shuffle-heavy LSH self-joins, no zip ingest"),
    "analyst_reads": (
        "analyst_reads", "AnalystReads",
        "Zipf point lookups, date-range scans and SQL group-bys over a date-clustered dataset with zone-map "
        "and Bloom manifests; read path only"),
}

# The workloads in BENCHMARK.json, cheapest first.  Every run pays a
# session start and a cold JVM (about 25 s here), so a third listed
# workload does not fit the run budget; see README.md.
LISTED = ("incremental_arrivals", "export_batch")

# The traced run (``--trace 1``) of a listed workload also sets up, warms
# up and measures its passenger, traced, in the same process, after the
# host's own measurements.  So every layer is measured on a listed
# workload without a process of its own; untraced runs never run it.  The
# passenger's checks count in the result line's ``failed``.
PASSENGERS = {"incremental_arrivals": "corpus_curate", "export_batch": "analyst_reads"}

# name -> (unit, better, bound).  Every workload is a closed loop of one
# client over batch-like operations, so the timing metric of record is
# throughput.  It is counted per CPU second (driver, JVM and Python
# workers) because wall time on a shared host drifts with other tenants'
# load: in one ten-seed set, wall items_per_s spread (interquartile range
# / median) 0.38 on incremental_arrivals and 0.26 on export_batch, beyond
# any allowed bound, while items_per_cpu_s spread 0.12 and 0.14.  Wall
# throughput and median latency are printed under workload names but
# not bounded.  Set-up time has the largest bound.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "items_per_cpu_s": ("1/s", "higher", 0.24),
    "peak_rss_mb": ("MB", "lower", 0.15),
    "stored_bytes_per_input_byte": ("ratio", "lower", 0.05),
}

# Per-layer metrics of the traced runs of the listed workloads and their
# passengers.
PER_LAYER = {
    "session.start_s": "s",
    "schemas.resolve_s": "s",
    "sources.read_s": "s",
    "sources.read_rows": "count",
    "functions.stamp_s": "s",
    "operators.dedup_s": "s",
    "operators.dedup_dropped": "count",
    "operators.delete_s": "s",
    "operators.delete_dropped": "count",
    "operators.relationalize_s": "s",
    "operators.child_rows": "count",
    "plans.pipeline_s": "s",
    "plans.jobs": "count",
    "quality.suite_s": "s",
    "operators.diff_s": "s",
    "operators.diff_mismatches": "count",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "streaming.trigger_s": "s",
    "streaming.buckets_touched_frac": "ratio",
    "streaming.bytes_rewritten_per_input_byte": "ratio",
    "streaming.state_files": "count",
    "sources.pruned_read_ms": "ms",
    "sources.files_read_frac": "ratio",
    "sql.plan_ms": "ms",
    "sql.exec_ms": "ms",
    "ops.exact_dedup_s": "s",
    "ops.minhash_s": "s",
    "ops.minhash_candidates": "count",
    "ops.minhash_useful_ratio": "ratio",
    "ops.survivors_s": "s",
    "ops.embedding_dedup_s": "s",
    "ops.quality_filter_s": "s",
    "ops.shard_export_s": "s",
    "near_dup_recall": "ratio",
    "failed_frac": "ratio",
    "trace_overhead_s": "s",
}
_TOTAL_UNITS = {"self_s": "s", "task_busy_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
for _layer in LAYERS:
    for _m in LAYER_TOTALS:
        PER_LAYER[f"{_layer}.{_m}"] = _TOTAL_UNITS[_m]

# Work counts and quality ratios that an optimisation should not lower;
# every other per-layer metric is a cost.
HIGHER = {"sources.read_rows", "operators.dedup_dropped", "operators.delete_dropped",
          "operators.child_rows", "operators.diff_mismatches", "ops.minhash_useful_ratio",
          "near_dup_recall"}

# Workload-specific names under which the generic end-to-end metrics are
# printed: (name, generic metric, scale, unit).
ALIASES = {
    "export_batch": [("export_records_per_s", "items_per_s", 1, "1/s"),
                     ("export_p50_s", "op_p50_ms", 1e-3, "s")],
    "incremental_arrivals": [("arrival_records_per_s", "items_per_s", 1, "1/s"),
                             ("arrival_p50_s", "op_p50_ms", 1e-3, "s")],
    "analyst_reads": [("reads_per_s", "items_per_s", 1, "1/s"),
                      ("read_p50_ms", "op_p50_ms", 1, "ms"),
                      ("read_p95_ms", "op_p95_ms", 1, "ms")],
    "corpus_curate": [("corpus_docs_per_s", "items_per_s", 1, "1/s")],
}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "benchmark/run.py"],
        "paths": ["benchmark"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": WORKLOADS[n][2]} for n in LISTED],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, (u, b, bound) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": "higher" if n in HIGHER else "lower"}
                      for n, u in PER_LAYER.items()],
    }
