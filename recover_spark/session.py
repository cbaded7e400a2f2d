"""SparkSession factory tuned for the engine.

The reference ran on AWS Glue 4.0 (Spark 3.3) with AQE left as a
commented-out TODO (templates/glue-job-JSONToParquet.j2:121).  We turn it
on: AQE coalesces post-shuffle partitions, re-plans joins at runtime, and
splits skewed partitions — replacing the reference's hand-sized per-datatype
clusters (G.8X x 8 for the big type, etc.).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# JIT policy for short-lived drivers: C2's tier-4 thresholds raised 5x
# over HotSpot's defaults (5000/600/15000/40000), so only really hot code
# gets the expensive C2 compile and the rest stays in C1.
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000 "
    "-XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000"
)

_MAX_DRIVER_MEM_MB = 8192


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else 8g capped at half of the
    host's ``MemTotal``."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(_MAX_DRIVER_MEM_MB, total_mb // 2)}m"
    except OSError:
        pass
    return f"{_MAX_DRIVER_MEM_MB}m"


def get_spark(
    app_name: str = "recover_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    Defaults are chosen for a large cluster but work identically on
    local[N]: AQE owns runtime partition sizing, so
    ``spark.sql.shuffle.partitions`` is only an upper bound.  N and the
    shuffle partitions default to ``SPARK_GRAFT_CPUS``, else the host's
    CPU count.

    The driver JVM gets ``JIT_POLICY`` through
    ``spark.driver.defaultJavaOptions``, which Spark prepends to
    ``spark.driver.extraJavaOptions``, so callers that set the latter keep
    it (``extra_conf`` can still replace it).  A short-lived ETL driver
    spends most of its CPU in the JIT, not in tasks: one timed
    ``export_batch`` operation of the benchmark (local[3], 4-core host)
    used 24.9 JVM CPU-s, 17.6 of them in C1/C2 compiler threads and 2.8
    in task threads.  With C2's thresholds raised 5x, ``items_per_cpu_s``
    rose 21% on that workload, and a 10x larger export (200k records)
    kept its wall time.  Raised 10x, ``items_per_cpu_s`` rose 34% but the
    10x export got slower (median 17.3 s against 16.3 s); C1 only
    (``-XX:TieredStopAtLevel=1``) made it 27-38% slower.  The driver heap
    defaults to ``default_driver_memory()``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: runtime coalescing, skew-join splitting, join re-selection.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Arrow for any pandas-UDF hot path (vector ops, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small-file packing at scan (reference: groupFiles inPartition).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.openCostInBytes", "4194304")
        # Broadcast threshold: dimension tables and deleted-key sets are
        # small; let Catalyst broadcast them (J1/J2 classes).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        # Naive parquet TIMESTAMP(MICROS) reads as plain LTZ TIMESTAMP
        # (not NTZ) so epoch arithmetic (unix_micros, time bucketing)
        # works uniformly; with the UTC session this is value-identical.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Write timestamps as TIMESTAMP(MICROS), not legacy INT96:
        # INT96 columns get NO parquet min/max footer stats, which
        # blinds every stats-driven layout (zone maps, row-group
        # skipping on range-clustered/z-ordered writes).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # zstd for every Spark parquet sink (export tables, merge state,
        # shards): smaller files than the snappy default.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Python DataSource filter pushdown (zip_ndjson member pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.driver.defaultJavaOptions", JIT_POLICY)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
