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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
