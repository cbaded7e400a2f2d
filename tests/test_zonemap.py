"""Zone-map file skipping: footer-stats manifest + pruning reader."""

from __future__ import annotations

from pyspark.sql import functions as F

from recover_spark.sources.writers import write_range_clustered_parquet
from recover_spark.sources.zonemap import (
    build_zonemap,
    read_pruned,
    refresh_zonemap,
)


def _clustered(spark, path, n=10_000, files=16):
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        F.col("id").cast("long").alias("v"),
        (F.col("id") % 5).cast("string").alias("tag"),
    )
    write_range_clustered_parquet(df, path, ["v"], num_files=files)
    return df


def test_prune_reads_fewer_files_same_answer(spark, tmp_path):
    path = str(tmp_path / "ds")
    df = _clustered(spark, path)
    manifest = build_zonemap(spark, path, ["v"])
    assert len(manifest["files"]) > 4
    pruned, report = read_pruned(spark, path, {"v": (100, 199)})
    assert report["files_read"] < report["files_total"]
    expect = sorted(
        map(tuple, df.filter((F.col("v") >= 100) & (F.col("v") <= 199)).collect())
    )
    assert sorted(map(tuple, pruned.collect())) == expect


def test_open_ended_bounds(spark, tmp_path):
    path = str(tmp_path / "ds")
    df = _clustered(spark, path)
    build_zonemap(spark, path, ["v"])
    pruned, report = read_pruned(spark, path, {"v": (9_900, None)})
    assert report["files_read"] < report["files_total"]
    assert pruned.count() == 100


def test_missing_manifest_falls_back_to_full_scan(spark, tmp_path):
    path = str(tmp_path / "ds")
    _clustered(spark, path)
    pruned, report = read_pruned(spark, path, {"v": (0, 10)})
    assert report["files_total"] is None
    assert pruned.count() == 11


def test_empty_result_pruning_preserves_schema(spark, tmp_path):
    path = str(tmp_path / "ds")
    df = _clustered(spark, path)
    build_zonemap(spark, path, ["v"])
    pruned, report = read_pruned(spark, path, {"v": (1_000_000, 2_000_000)})
    assert report["files_read"] == 0
    assert pruned.count() == 0
    assert pruned.columns == df.columns


def test_all_null_file_pruned_nulls_in_kept_files_filtered(spark, tmp_path):
    path = str(tmp_path / "ds")
    rows = [(i, i if i % 2 == 0 else None) for i in range(100)]
    some_nulls = spark.createDataFrame(rows, "k long, v long")
    all_nulls = spark.createDataFrame(
        [(1000 + i, None) for i in range(50)], "k long, v long"
    )
    some_nulls.coalesce(1).write.parquet(path)
    all_nulls.coalesce(1).write.mode("append").parquet(path)
    build_zonemap(spark, path, ["v"])
    pruned, report = read_pruned(spark, path, {"v": (0, 98)})
    # the all-null file cannot satisfy a range predicate -> skipped
    assert report["files_read"] < report["files_total"]
    got = sorted(r["k"] for r in pruned.collect())
    assert got == [i for i in range(100) if i % 2 == 0]


def test_untracked_column_does_not_prune(spark, tmp_path):
    path = str(tmp_path / "ds")
    _clustered(spark, path)
    build_zonemap(spark, path, ["v"])
    pruned, report = read_pruned(spark, path, {"tag": ("0", "0")})
    # no stats for tag -> every file kept, filter still applied
    assert report["files_read"] == report["files_total"]
    assert pruned.count() == 2000


def test_appended_files_without_stats_are_always_scanned(spark, tmp_path):
    """Superset guarantee across manifest staleness: rows appended
    AFTER the manifest build must still appear."""
    path = str(tmp_path / "ds")
    _clustered(spark, path, n=1000, files=4)
    build_zonemap(spark, path, ["v"])
    late = spark.createDataFrame([(50_000, 150, "9")], "k long, v long, tag string")
    late.coalesce(1).write.mode("append").parquet(path)
    pruned, report = read_pruned(spark, path, {"v": (100, 199)})
    ks = {r["k"] for r in pruned.collect()}
    assert 50_000 in ks
    assert ks == set(range(100, 200)) | {50_000}
    # the unknown file is read, but known out-of-range files still prune
    assert report["files_read"] < report["files_total"]


def test_rewritten_dataset_falls_back_to_full_scan(spark, tmp_path):
    """A manifest entry whose file is gone (partial rewrite/compaction
    under a live manifest) means the stats are dead — read_pruned must
    refuse to prune and scan everything that exists now.  (A full
    overwrite deletes the manifest sidecar too, which lands in the
    simpler missing-manifest fallback.)"""
    import glob
    import os

    path = str(tmp_path / "ds")
    _clustered(spark, path, n=1000, files=4)
    build_zonemap(spark, path, ["v"])
    victim = sorted(glob.glob(path + "/*.parquet"))[0]
    removed = (
        spark.read.parquet(victim).count()
    )
    os.remove(victim)
    pruned, report = read_pruned(spark, path, {"v": (0, 1_000_000)})
    assert report.get("stale_manifest") is True
    assert pruned.count() == 1000 - removed


def test_refresh_restores_pruning_after_append(spark, tmp_path):
    """Appended files have no stats (always scanned); refresh computes
    stats for ONLY them, after which they prune like any other file."""
    import json

    path = str(tmp_path / "ds")
    _clustered(spark, path, n=1000, files=4)
    before = build_zonemap(spark, path, ["v"])
    late = spark.createDataFrame(
        [(50_000 + i, 5_000 + i, "9") for i in range(10)],
        "k long, v long, tag string",
    )
    late.coalesce(1).write.mode("append").parquet(path)
    merged = refresh_zonemap(spark, path)
    assert len(merged["files"]) == len(before["files"]) + 1
    # reused entries are byte-identical (files immutable once written)
    old = {json.dumps(e, sort_keys=True) for e in before["files"]}
    new = {json.dumps(e, sort_keys=True) for e in merged["files"]}
    assert old <= new
    # the appended file's range [5000, 5009] is out of bounds -> pruned
    pruned, report = read_pruned(spark, path, {"v": (100, 199)})
    assert report["files_read"] < report["files_total"]
    assert sorted(r["k"] for r in pruned.collect()) == list(range(100, 200))
    # and queried IN bounds the new rows appear
    pruned2, _ = read_pruned(spark, path, {"v": (5_000, 5_004)})
    assert sorted(r["k"] for r in pruned2.collect()) == [
        50_000 + i for i in range(5)
    ]


def test_refresh_drops_deleted_files_and_revives_manifest(spark, tmp_path):
    """A deleted file marks the whole manifest dead (full-scan
    fallback); refresh drops the dead entry so pruning works again."""
    import glob
    import os

    path = str(tmp_path / "ds")
    _clustered(spark, path, n=1000, files=4)
    build_zonemap(spark, path, ["v"])
    victim = sorted(glob.glob(path + "/*.parquet"))[0]
    removed = spark.read.parquet(victim).count()
    os.remove(victim)
    _, report = read_pruned(spark, path, {"v": (900, 999)})
    assert report.get("stale_manifest") is True
    merged = refresh_zonemap(spark, path)
    assert all(os.path.exists(e["file"]) for e in merged["files"])
    pruned, report = read_pruned(spark, path, {"v": (900, 999)})
    assert "stale_manifest" not in report
    assert report["files_read"] < report["files_total"]
    assert pruned.count() == 100  # top range survives the deleted file
    full, _ = read_pruned(spark, path, {"v": (0, 1_000_000)})
    assert full.count() == 1000 - removed


def test_refresh_without_manifest_raises(spark, tmp_path):
    import pytest

    path = str(tmp_path / "ds")
    _clustered(spark, path, n=100, files=2)
    with pytest.raises(FileNotFoundError, match="build_zonemap first"):
        refresh_zonemap(spark, path)


def test_hive_partitioned_dataset_rejected_loudly(spark, tmp_path):
    """A partitioned dataset has no top-level files; a silent empty
    manifest would later prune EVERYTHING — build must refuse."""
    import pytest

    path = str(tmp_path / "ds")
    spark.range(0, 100).select(
        (F.col("id") % 2).cast("string").alias("p"), F.col("id").alias("v")
    ).write.partitionBy("p").parquet(path)
    with pytest.raises(FileNotFoundError, match="hive-partitioned"):
        build_zonemap(spark, path, ["v"])


def test_timestamp_bounds_prune_via_iso_strings(spark, tmp_path):
    path = str(tmp_path / "ds")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(1_700_000_000 + F.col("id") * 60).alias("ts"),
    )
    write_range_clustered_parquet(df, path, ["ts"], num_files=8)
    build_zonemap(spark, path, ["ts"])
    lo = "2023-11-14T22:30:00"
    hi = "2023-11-14T23:30:00"
    pruned, report = read_pruned(spark, path, {"ts": (lo, hi)})
    assert report["files_read"] < report["files_total"]
    # superset + reapplied filter -> exact result
    expect = df.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    ).count()
    assert pruned.count() == expect and expect > 0


def test_mismatched_bound_type_keeps_files(spark, tmp_path):
    path = str(tmp_path / "ds")
    _clustered(spark, path, n=500, files=4)
    build_zonemap(spark, path, ["v", "tag"])
    # integer bound against the string column: no usable info -> no
    # pruning on it, no crash; the v bound still prunes
    pruned, report = read_pruned(spark, path, {"tag": (1, 2), "v": (0, 9)})
    assert report["files_read"] < report["files_total"]
    # v in [0,9] -> ids 0..9; Spark casts tag to int for the filter,
    # so tag in {1,2} keeps ids with id%5 in {1,2}: 1, 2, 6, 7
    assert sorted(r["k"] for r in pruned.collect()) == [1, 2, 6, 7]


def test_timestamp_bounds_compare_as_timestamps(spark, tmp_path):
    """Stats of a timestamp column are instants, not text: a bound equal
    to a file's min must keep that file whether it is written with
    ``T``, with a space or as a ``datetime``."""
    import datetime

    path = str(tmp_path / "ds")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(1_700_000_000 + F.col("id") * 60).alias("ts"),
    )
    write_range_clustered_parquet(df, path, ["ts"], num_files=8)
    manifest = build_zonemap(spark, path, ["ts"])
    edge = datetime.datetime.fromisoformat(
        manifest["files"][1]["columns"]["ts"]["min"]
    )
    want = [(int(edge.timestamp()) - 1_700_000_000) // 60]
    for bound in (
        edge.strftime("%Y-%m-%dT%H:%M:%S"),
        edge.strftime("%Y-%m-%d %H:%M:%S"),
        edge,
    ):
        pruned, report = read_pruned(spark, path, {"ts": (bound, bound)})
        assert sorted(r["k"] for r in pruned.collect()) == want, bound
        assert report["files_read"] < report["files_total"], bound


def test_manifest_without_column_types_full_scans_until_refreshed(
    spark, tmp_path
):
    """A manifest written before column types were recorded cannot tell
    a timestamp's ISO stats from a string's: it reads as stale (full
    scan, every row) until a refresh records the types."""
    import json
    import os

    path = str(tmp_path / "ds")
    _clustered(spark, path, n=1000, files=4)
    build_zonemap(spark, path, ["v"])
    sidecar = os.path.join(path, "_zonemap.json")
    with open(sidecar) as fh:
        legacy = json.load(fh)
    del legacy["column_types"]
    with open(sidecar, "w") as fh:
        json.dump(legacy, fh, indent=1, sort_keys=True)
    pruned, report = read_pruned(spark, path, {"v": (100, 199)})
    assert report.get("stale_manifest") is True
    assert pruned.count() == 100
    merged = refresh_zonemap(spark, path)
    assert merged["column_types"] == {"v": "bigint"}
    assert merged["files"] == legacy["files"]
    pruned, report = read_pruned(spark, path, {"v": (100, 199)})
    assert "stale_manifest" not in report
    assert report["files_read"] < report["files_total"]
    assert pruned.count() == 100
