"""Partition-level small-file compaction for hive-partitioned datasets.

The append-only index layouts (text postings/vectors buckets,
ops/text_index.py; IVF list partitions, ops/similarity.py) accrete one
parquet file per appended batch: after a year of weekly exports every
bucket holds ~50 tiny files and each probe pays 50 footer reads + open
costs per pruned partition — the classic week-50 failure of an
append-only store.  The reference schedules a re-crawl/re-register
pass for the same reason (templates/glue-workflow.j2:147-166); this
module is that maintenance pass as ONE Spark job.

Shape: enumerate per-partition file counts driver-side (bounded by the
bucket count — metadata scale), read ONLY the partitions over the
threshold, and rewrite them with dynamic partition OVERWRITE, one
output file per partition.  Untouched partitions are never read or
written, so the cost is O(touched buckets' bytes).  The rewrite uses
Spark's standard commit protocol (stage then move) — the same
atomicity contract as any partition overwrite; content is byte-for-byte
the union of what was there, so a reader before and after sees
identical rows (probe-equality is the test oracle).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recover_spark.sources.writers import overwrite_partitions_dynamic


def partition_file_counts(base: str, part_col: str) -> dict[int, int]:
    """{partition value: parquet file count} from the directory layout
    (driver-side listing, bounded by the partition count)."""
    counts: dict[int, int] = {}
    for d in glob.glob(os.path.join(base, f"{part_col}=*")):
        try:
            val = int(d.rsplit("=", 1)[1])
        except ValueError:
            continue
        counts[val] = len(glob.glob(os.path.join(d, "*.parquet")))
    return counts


def compact_partitions(
    spark: SparkSession,
    base: str,
    part_col: str,
    min_files: int = 2,
) -> dict:
    """Fold every partition holding >= ``min_files`` parquet files into
    one file, leaving other partitions untouched.  Returns a report
    {"touched": n, "files_before": x, "files_after": y}.
    """
    counts = partition_file_counts(base, part_col)
    touched = sorted(v for v, n in counts.items() if n >= min_files)
    before = sum(counts.values())
    if not touched:
        return {"touched": 0, "files_before": before, "files_after": before}
    df: DataFrame = spark.read.parquet(base).filter(
        F.col(part_col).isin([int(v) for v in touched])
    )
    # materialize before writing: Spark (correctly) refuses to
    # overwrite a path that the plan still reads from
    pinned = df.localCheckpoint(eager=True)
    overwrite_partitions_dynamic(
        pinned.repartition(len(touched), F.col(part_col)), base, [part_col]
    )
    after = sum(partition_file_counts(base, part_col).values())
    return {
        "touched": len(touched),
        "files_before": before,
        "files_after": after,
    }
