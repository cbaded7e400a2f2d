"""Per-file Bloom sidecars: equality-predicate file skipping.

Companion to test_zonemap.py — zone maps prune ranges on clustered
layouts; bloom maps prune point lookups on columns the layout does NOT
cluster (the "which files hold key X" question min/max can't answer).
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from recover_spark.sources.bloommap import (
    _bit_positions,
    build_bloommap,
    read_point_pruned,
    refresh_bloommap,
)
from recover_spark.sources.writers import write_range_clustered_parquet


def _scattered(spark, path, n=10_000, files=16):
    """Files clustered by ``d`` so key ``k`` scatters: every file's
    [min(k), max(k)] spans the domain — zone maps on k are useless,
    blooms are the only thing that can skip files for a k lookup."""
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") * 2654435761 % n).alias("d"),
        F.concat(F.lit("u"), F.col("id")).alias("tag"),
    )
    write_range_clustered_parquet(df, path, ["d"], num_files=files)
    return df


def test_point_lookup_skips_files_same_answer(spark, tmp_path):
    path = str(tmp_path / "ds")
    df = _scattered(spark, path)
    manifest = build_bloommap(spark, path, ["k"])
    assert len(manifest["files"]) > 4
    keys = [17, 4242, 9999]
    pruned, report = read_point_pruned(spark, path, {"k": keys})
    # 3 keys live in <=3 files (+ rare false positives); 16 total
    assert report["files_read"] < report["files_total"]
    expect = sorted(map(tuple, df.filter(F.col("k").isin(keys)).collect()))
    assert sorted(map(tuple, pruned.collect())) == expect


def test_no_false_negatives_every_key_found(spark, tmp_path):
    """The load-bearing property: a present key is NEVER pruned away."""
    path = str(tmp_path / "ds")
    _scattered(spark, path, n=2_000, files=8)
    build_bloommap(spark, path, ["k"])
    for key in range(0, 2_000, 97):
        pruned, _ = read_point_pruned(spark, path, {"k": [key]})
        assert pruned.count() == 1, f"key {key} lost by pruning"


def test_string_column_and_conjunction(spark, tmp_path):
    path = str(tmp_path / "ds")
    df = _scattered(spark, path, n=5_000, files=8)
    build_bloommap(spark, path, ["k", "tag"])
    pruned, report = read_point_pruned(
        spark, path, {"tag": ["u123", "u4567"], "k": [123, 4567]}
    )
    assert report["files_read"] < report["files_total"]
    got = sorted(r["k"] for r in pruned.collect())
    assert got == [123, 4567]
    # conjunction across columns: tag=u123 AND k=4567 never co-occur
    empty, _ = read_point_pruned(spark, path, {"tag": ["u123"], "k": [4567]})
    assert empty.count() == 0


def test_absent_key_usually_reads_zero_files(spark, tmp_path):
    path = str(tmp_path / "ds")
    _scattered(spark, path, n=5_000, files=8)
    build_bloommap(spark, path, ["k"])
    pruned, report = read_point_pruned(spark, path, {"k": [77_000_000]})
    # fp rate ~0.6%/file -> overwhelmingly 0 of 8 files; allow 1 fp
    assert report["files_read"] <= 1
    assert pruned.count() == 0


def test_schema_preserved_when_all_files_pruned(spark, tmp_path):
    path = str(tmp_path / "ds")
    df = _scattered(spark, path, n=1_000, files=4)
    build_bloommap(spark, path, ["k"])
    pruned, _ = read_point_pruned(spark, path, {"k": [88_000_001]})
    assert pruned.columns == df.columns


def test_missing_manifest_full_scan(spark, tmp_path):
    path = str(tmp_path / "ds")
    _scattered(spark, path, n=1_000, files=4)
    pruned, report = read_point_pruned(spark, path, {"k": [5]})
    assert report["files_total"] is None
    assert pruned.count() == 1


def test_appended_files_always_scanned_then_refresh_prunes(spark, tmp_path):
    path = str(tmp_path / "ds")
    _scattered(spark, path, n=1_000, files=4)
    before = build_bloommap(spark, path, ["k"])
    late = spark.createDataFrame(
        [(1_000_000, 7, "late")], "k long, d long, tag string"
    )
    late.coalesce(1).write.mode("append").parquet(path)
    # unknown file: always scanned -> the late row is visible pre-refresh
    pruned, _ = read_point_pruned(spark, path, {"k": [1_000_000]})
    assert pruned.count() == 1
    merged = refresh_bloommap(spark, path)
    assert len(merged["files"]) == len(before["files"]) + 1
    # reused entries byte-identical (immutable-file contract)
    old = {json.dumps(e, sort_keys=True) for e in before["files"]}
    assert old <= {json.dumps(e, sort_keys=True) for e in merged["files"]}
    pruned, report = read_point_pruned(spark, path, {"k": [1_000_000]})
    assert pruned.count() == 1
    assert report["files_read"] <= 2  # the late file + possible fp


def test_deleted_file_full_scan_then_refresh_revives(spark, tmp_path):
    path = str(tmp_path / "ds")
    _scattered(spark, path, n=1_000, files=4)
    build_bloommap(spark, path, ["k"])
    victim = sorted(glob.glob(path + "/*.parquet"))[0]
    survivors = [
        f for f in sorted(glob.glob(path + "/*.parquet")) if f != victim
    ]
    alive = spark.read.parquet(*survivors)
    probe = alive.limit(1).collect()[0]["k"]
    os.remove(victim)
    _, report = read_point_pruned(spark, path, {"k": [probe]})
    assert report.get("stale_manifest") is True
    refresh_bloommap(spark, path)
    pruned, report = read_point_pruned(spark, path, {"k": [probe]})
    assert "stale_manifest" not in report
    assert pruned.count() == 1


def test_float_probe_rejected(spark, tmp_path):
    path = str(tmp_path / "ds")
    _scattered(spark, path, n=100, files=2)
    build_bloommap(spark, path, ["k"])
    with pytest.raises(TypeError, match="float"):
        read_point_pruned(spark, path, {"k": [1.5]})


def test_hive_partitioned_rejected(spark, tmp_path):
    path = str(tmp_path / "ds")
    spark.range(0, 100).select(
        (F.col("id") % 2).cast("string").alias("p"), F.col("id").alias("v")
    ).write.partitionBy("p").parquet(path)
    with pytest.raises(FileNotFoundError, match="hive-partitioned"):
        build_bloommap(spark, path, ["v"])


def test_scalar_and_vectorized_hash_agree():
    """The numpy build path and the scalar probe path must place the
    same bits, including negative ints (two's-complement wrap)."""
    import numpy as np

    from recover_spark.sources.bloommap import _fold_int_array

    bits, k = 1 << 12, 5
    values = [0, 1, -1, 42, -(1 << 40), (1 << 62) + 12345]
    bm = np.zeros(bits // 8, dtype=np.uint8)
    import pyarrow as pa

    _fold_int_array(bm, pa.array(values, type=pa.int64()), bits, k)
    for v in values:
        for p in _bit_positions(v, bits, k):
            assert bm[p >> 3] & (1 << (p & 7)), (v, p)


def test_type_mismatched_probe_keeps_rows(spark, tmp_path):
    """A string probe on an integer column hashes unlike the column's
    values; Spark's ``isin`` still matches it, so no file may be
    pruned for it."""
    path = str(tmp_path / "ds")
    df = _scattered(spark, path, n=1_000, files=4)
    build_bloommap(spark, path, ["k"])
    pruned, _ = read_point_pruned(spark, path, {"k": ["5"]})
    expect = sorted(map(tuple, df.filter(F.col("k").isin(["5"])).collect()))
    assert len(expect) == 1
    assert sorted(map(tuple, pruned.collect())) == expect
