"""K1-K6 — partitioned sinks with archive-then-replace.

Reference K1/K2: parquet write partitioned by cohort, coalesced to ~1e6
rows per file (json_to_parquet.py:377,396-416).  K5: copy existing output
to ``archive/{date}_{run_id}/`` before overwrite (:304-367).

Spark-first: ``maxRecordsPerFile`` replaces the coalesce arithmetic — it
sizes files without collapsing parallelism (a plain ``coalesce(n)``
would serialize the write through n tasks; at 100 TB that matters).

The parquet codec is not chosen here: ``get_spark`` sets zstd as the
session default, so every parquet sink below writes zstd.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_RECORDS_PER_FILE = 1_000_000  # json_to_parquet.py:377


def archive_existing(path: str, archive_root: str | None = None, run_id: str = "run") -> str | None:
    """K5 — move current dataset to archive/{date}_{run_id}/ before replace.

    Local-filesystem implementation; on object stores this is a prefix
    copy.  Returns the archive path, or None when nothing existed.
    """
    src = Path(path)
    if not src.exists():
        return None
    date = time.strftime("%Y-%m-%d")
    dest_root = Path(archive_root) if archive_root else src.parent / "archive"
    dest = dest_root / f"{date}_{run_id}" / src.name
    dest.parent.mkdir(parents=True, exist_ok=True)
    shutil.move(str(src), str(dest))
    return str(dest)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("cohort",),
    records_per_file: int = DEFAULT_RECORDS_PER_FILE,
    mode: str = "overwrite",
    archive_first: bool = False,
    run_id: str = "run",
) -> None:
    """K1/K2 (+K5) — hive-partitioned parquet sink with file sizing."""
    if archive_first:
        archive_existing(path, run_id=run_id)
    writer = df.write.mode(mode).option("maxRecordsPerFile", records_per_file)
    parts = [p for p in partition_by if p in df.columns]
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(path)


def write_csv_ledger(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K6 — record-count ledger CSV sink (json_to_parquet.py:492-536).

    Ledgers are tiny (export-date cardinality); coalesce(1) gives the
    single CSV file the reference's downstream tooling expects.
    """
    df.coalesce(1).write.mode(mode).option("header", True).csv(path)


def copy_into_table(
    df: DataFrame,
    table_name: str,
    mode: str = "append",
) -> None:
    """K7 — warehouse load with by-name column matching.

    Snowflake ``COPY INTO ... MATCH_BY_COLUMN_NAME=CASE_SENSITIVE``
    (snowflake/.../copy_into_table_from_stage.sql:17-35): columns align
    by NAME against the target table, missing target columns -> null,
    extra source columns dropped.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if spark.catalog.tableExists(table_name):
        target = spark.table(table_name).schema
        src = {c: c for c in df.columns}
        aligned = [
            (F.col(src[f.name]).cast(f.dataType) if f.name in src
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in target.fields
        ]
        df = df.select(*aligned)
    df.write.mode(mode).saveAsTable(table_name)


def write_ndjson_parts(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    compression: str | None = "gzip",
    records_per_file: int = 500_000,
    mode: str = "overwrite",
) -> None:
    """K3/K4 — NDJSON part-file sink (size-rotated in the reference,
    record-rotated here; s3_to_json.py:495-614, raw/app.py:186-248)."""
    writer = df.write.mode(mode).option("maxRecordsPerFile", records_per_file)
    if compression:
        writer = writer.option("compression", compression)
    parts = [p for p in partition_by if p in df.columns]
    if parts:
        writer = writer.partitionBy(*parts)
    writer.json(path)


def write_range_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout for min/max data skipping.

    ``repartitionByRange`` gives each output file a disjoint value range
    of ``cluster_cols``; ``sortWithinPartitions`` tightens every parquet
    row group's min/max footer stats inside the file.  A later scan with
    a predicate on the cluster columns then skips whole row groups (and,
    with partition-level stats catalogs, whole files) instead of reading
    and filtering — the write-side half of predicate pushdown.  At
    100 TB this is the difference between touching one file and
    touching all of them for a time-range query.

    The range exchange samples the data to pick balanced boundaries, so
    skewed cluster keys still yield even file sizes.
    """
    cols = [F.col(c) for c in cluster_cols]
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def overwrite_partitions_dynamic(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    records_per_file: int = DEFAULT_RECORDS_PER_FILE,
) -> None:
    """Replace ONLY the hive partitions present in ``df``, leaving all
    other partitions untouched (Spark dynamic partition overwrite).

    This is the incremental-rerun sink shape at scale: a weekly job
    that reprocesses one export must not truncate the other 51 weeks
    (static overwrite mode would).  Pairing with the batch-id sidecar
    idiom (streaming/matview.py) makes reruns idempotent per partition.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .option("maxRecordsPerFile", records_per_file)
            .partitionBy(*partition_by)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
