"""K1-K7 sinks (K5 is in ``sources/atomic.py``) and the one partition replace.

Reference K1/K2: parquet write partitioned by cohort, coalesced to ~1e6
rows per file (json_to_parquet.py:377,396-416).  Spark-first:
``maxRecordsPerFile`` replaces the coalesce arithmetic — it sizes files
without collapsing parallelism (a plain ``coalesce(n)`` would serialize
the write through n tasks; at 100 TB that matters).

``write_partitioned_parquet`` replaces a whole directory.  Every write
in the package that replaces SOME hive partitions of a live dataset
goes through one of two functions here, with the same file-size cap:

- ``overwrite_partitions_dynamic`` — replace ONLY the hive partitions
  ``df`` has rows for (``partitionOverwriteMode=dynamic`` as a writer
  option; session conf is never touched).  A partition without rows in
  ``df`` is left alone: a replayed batch whose kept set is empty keeps
  the first attempt's ``__batch=<id>`` partition;
- ``rewrite_partitions`` — the same write over a known ``touched``
  set, after which every touched partition that came out empty is
  removed (a deletion that emptied a bucket).  The emptied set comes
  from an observation riding the write, not from another job.

K5 (archive-then-replace, json_to_parquet.py:304-367) is not here:
``sources/atomic.write_dataset_atomic`` writes each generation with
``write_partitioned_parquet`` and keeps the previous ones readable.

The parquet codec is not chosen here: ``get_spark`` sets zstd as the
session default, so every parquet sink below writes zstd.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Collection, Sequence

from pyspark.sql import DataFrame, DataFrameWriter, Observation
from pyspark.sql import functions as F

DEFAULT_RECORDS_PER_FILE = 1_000_000  # json_to_parquet.py:377


def _sized(df: DataFrame) -> DataFrameWriter:
    return df.write.mode("overwrite").option(
        "maxRecordsPerFile", DEFAULT_RECORDS_PER_FILE
    )


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("cohort",),
) -> None:
    """K1/K2 — replace ``path`` with ``df`` as hive-partitioned parquet
    (partition columns ``df`` lacks are skipped)."""
    writer = _sized(df)
    parts = [p for p in partition_by if p in df.columns]
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(path)


def write_csv_ledger(df: DataFrame, path: str) -> None:
    """K6 — record-count ledger CSV sink (json_to_parquet.py:492-536).

    Ledgers are tiny (export-date cardinality); coalesce(1) gives the
    single CSV file the reference's downstream tooling expects.
    """
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def copy_into_table(df: DataFrame, table_name: str) -> None:
    """K7 — warehouse load with by-name column matching.

    Snowflake ``COPY INTO ... MATCH_BY_COLUMN_NAME=CASE_SENSITIVE``
    (snowflake/.../copy_into_table_from_stage.sql:17-35): columns align
    by NAME against the target table, missing target columns -> null,
    extra source columns dropped.
    """
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
    df.write.mode("append").saveAsTable(table_name)


def write_ndjson_parts(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    records_per_file: int = 500_000,
) -> None:
    """K3/K4 — NDJSON part-file sink (size-rotated in the reference,
    record-rotated here; s3_to_json.py:495-614, raw/app.py:186-248),
    gzip-compressed."""
    writer = (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", records_per_file)
        .option("compression", "gzip")
    )
    parts = [p for p in partition_by if p in df.columns]
    if parts:
        writer = writer.partitionBy(*parts)
    writer.json(path)


def write_range_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    num_files: int = 32,
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
        .write.mode("overwrite")
        .parquet(path)
    )


def overwrite_partitions_dynamic(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
) -> None:
    """Replace ONLY the hive partitions present in ``df``, leaving all
    other partitions untouched (Spark dynamic partition overwrite).

    This is the incremental-rerun sink shape at scale: a weekly job
    that reprocesses one export must not truncate the other 51 weeks
    (static overwrite mode would).  Pairing with the batch-id sidecar
    idiom (streaming/matview.py) makes reruns idempotent per partition.
    A partition ``df`` has no rows for is left alone, so a replay whose
    kept set is empty keeps what the first attempt wrote
    (``rewrite_partitions`` is the variant that removes such partitions).
    The mode is a writer option: session conf is never touched.
    """
    (
        _sized(df)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def rewrite_partitions(
    df: DataFrame,
    path: str,
    part_col: str,
    touched: Collection,
) -> None:
    """Replace the ``touched`` partitions of ``path`` with ``df`` (one
    file per partition), then remove each touched partition ``df`` has
    no rows for — dynamic overwrite alone would keep its stale files.

    ``df`` must not read ``path`` (checkpoint it first).  The written
    partition values are collected by an observation on the write's
    own result stage, so the cleanup costs no extra job.
    """
    written = Observation()
    # observed above the exchange: below it, a rewrite whose every
    # touched partition came out empty reports no metrics row at all
    out = df.repartition(max(1, len(touched)), F.col(part_col)).observe(
        written, F.collect_set(part_col).alias("parts")
    )
    overwrite_partitions_dynamic(out, path, [part_col])
    for v in set(touched) - set(written.get["parts"]):
        emptied = os.path.join(path, f"{part_col}={v}")
        if os.path.isdir(emptied):
            shutil.rmtree(emptied)
