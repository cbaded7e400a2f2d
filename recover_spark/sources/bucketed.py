"""Bucketed tables — pre-shuffled storage for exchange-free joins.

The reference re-shuffles its fact tables on every weekly run: each
Glue job's join repartitions both sides on the key, every time
(src/glue/jobs/json_to_parquet.py drops straight into dynamic-frame
joins with no layout contract).  At 100 TB the shuffle IS the job: a
big-big join moves both inputs across the network before a single
output row exists.

Spark-first answer: **bucketing**.  ``df.write.bucketBy(n, key)``
hash-partitions rows into ``n`` buckets *at write time* (bucket id =
``pmod(murmur3(key), n)``, the exact hash ``repartition`` and shuffle
exchanges use).  The catalog records the layout, so when two tables are
bucketed on the join key with the same bucket count, EnsureRequirements
sees both scans already satisfy ``HashPartitioning(key, n)`` and plans a
SortMergeJoin with **zero Exchange** — the 100 TB join never touches the
network.  With ``sortBy`` and one file per bucket the per-bucket Sort
disappears too: the join is a pure zipped merge of co-located files.

The one-file-per-bucket invariant matters: Spark only trusts the
written sort order when each bucket is a single file (multi-file
buckets must be re-sorted).  ``write_bucketed_table`` therefore
repartitions to ``HashPartitioning(bucket_cols, num_buckets)`` before
writing — the same hash bucketing uses — so each write task holds
exactly one bucket and emits exactly one file.

This is the engine's answer for *recurring* joins (W1 dedup state,
J1 delete ledgers, fact-fact rollups): pay the shuffle once when the
data lands, amortize it over every downstream run.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    path: str | None = None,
) -> None:
    """Write ``df`` as a catalog-registered bucketed parquet table,
    one file per bucket, sorted on ``bucket_cols`` — sorted single-file
    buckets let the merge join skip its Sort.  ``path`` makes the table
    external (data survives catalog drops).
    """
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    cols = list(bucket_cols)
    # Same murmur3 pmod hash as the bucket-id computation: after this
    # exchange each task holds exactly one bucket, so each bucket is one
    # file and the written sort order is trusted.
    writer = (
        df.repartition(num_buckets, *cols)
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, *cols)
        .sortBy(*cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str] | str | Sequence[tuple[str, str]],
    how: str = "inner",
) -> DataFrame:
    """Join two identically-bucketed tables with zero shuffle.

    ``on`` is a shared column name (or list of them), or a list of
    ``(left_col, right_col)`` pairs when the key names differ — the
    TPC-H shape, ``l_orderkey = o_orderkey``; bucketing only needs the
    hash values to line up, not the names.

    The ``merge`` hint pins SortMergeJoin (a broadcast would also be
    shuffle-free at toy scale but is exactly the plan that dies at
    100 TB when "small" stops being small); with both scans already
    hash-partitioned on the key, EnsureRequirements inserts no
    Exchange.  Plan contract: tests/test_bucketed.py asserts the
    physical plan contains SortMergeJoin and zero Exchange nodes.
    """
    left = spark.table(left_table)
    right = spark.table(right_table)
    if isinstance(on, str):
        return left.hint("merge").join(right, on=[on], how=how)
    keys = list(on)
    if keys and isinstance(keys[0], tuple):
        cond = None
        for lc, rc in keys:
            eq = left[lc] == right[rc]
            cond = eq if cond is None else cond & eq
        return left.hint("merge").join(right, on=cond, how=how)
    return left.hint("merge").join(right, on=keys, how=how)
