"""File-pruning manifests — the one sidecar protocol behind zone maps
(sources/zonemap.py) and Bloom maps (sources/bloommap.py).

A manifest is one JSON sidecar ``_<kind>.json`` next to a flat parquet
directory: the kind's settings (``tracked_columns`` plus e.g. Bloom
sizing), the Spark type of each tracked column (``column_types``), and
one entry per data file, sorted by file.  Each kind supplies only a
per-file fold (file, manifest) -> entry and a keep predicate over
entries; everything below is shared:

- **listing** — the top-level ``*.parquet`` files; ``build`` refuses a
  directory without any (a hive-partitioned dataset keeps its files in
  subdirectories, and an empty manifest would later prune EVERYTHING —
  partition pruning already covers partitioned layouts);
- **build** — one distributed ``mapInPandas`` job runs the fold over
  the file list (per-file work is a footer or column read, so it
  parallelizes across however many files exist); the driver collects
  the O(files) entries and commits the sidecar with
  ``write_text_atomic``;
- **refresh** — entries of live files are reused verbatim (files are
  immutable once written), dead ones dropped, only new files scanned,
  and every other manifest key kept.  Cost: O(new files);
- **read** — the manifest is advisory, never authoritative over the
  directory, and pruning is a SUPERSET guarantee:
  - no manifest -> full scan, report ``None`` / ``None``;
  - an entry whose file is gone (a rewrite under a live manifest), or
    a manifest without ``column_types`` (written before they were
    recorded) -> full scan with ``stale_manifest``; ``refresh``
    revives it;
  - a file the manifest has not seen (appended since the build) has
    no entry and is always scanned;
  - nothing kept -> ``limit(0)`` over the full directory schema;
  - the exact filter is always reapplied on top, so a false "keep"
    costs performance, never rows.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from recover_spark.sources.atomic import write_text_atomic

Fold = Callable[[str, dict], dict]


def _target(path: str, kind: str, manifest_path: str | None) -> str:
    return manifest_path or os.path.join(path, f"_{kind}.json")


def _list_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    )


def _scan(
    spark: SparkSession, files: list[str], fold: Fold, settings: dict
) -> list[dict]:
    """``fold`` over ``files`` as one distributed job; ``settings`` is
    the manifest without its entries."""
    import pandas as pd

    files_df = spark.createDataFrame([(f,) for f in files], "file string")

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {"entry": [json.dumps(fold(f, settings)) for f in b["file"]]}
            )

    rows = (
        files_df.repartition(min(len(files), 32))
        .mapInPandas(scan, "entry string")
        .collect()
    )
    return [json.loads(r["entry"]) for r in rows]


def _commit(
    spark: SparkSession,
    path: str,
    target: str,
    settings: dict,
    entries: list[dict],
    new_files: list[str],
    fold: Fold,
) -> dict:
    if "column_types" not in settings:
        schema = spark.read.parquet(path).schema
        settings["column_types"] = {
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.name in settings["tracked_columns"]
        }
    if new_files:
        entries = entries + _scan(spark, new_files, fold, settings)
    manifest = {**settings, "files": sorted(entries, key=lambda e: e["file"])}
    write_text_atomic(target, json.dumps(manifest, sort_keys=True))
    return manifest


def build(
    spark: SparkSession,
    path: str,
    kind: str,
    settings: dict,
    fold: Fold,
    manifest_path: str | None = None,
) -> dict:
    """Build and commit the ``kind`` manifest for every file of ``path``."""
    files = _list_files(path)
    if not files:
        raise FileNotFoundError(
            f"build_{kind}: no top-level parquet files under {path!r} "
            "(hive-partitioned dataset? file pruning applies to flat "
            "layouts; partition pruning already covers partitioned ones)"
        )
    settings = {"path": path, **settings}
    return _commit(
        spark, path, _target(path, kind, manifest_path), settings, [], files, fold
    )


def refresh(
    spark: SparkSession,
    path: str,
    kind: str,
    fold: Fold,
    manifest_path: str | None = None,
) -> dict:
    """Reconcile the ``kind`` manifest with the directory; raises if
    none exists (refresh inherits the build's settings)."""
    target = _target(path, kind, manifest_path)
    if not os.path.exists(target):
        raise FileNotFoundError(
            f"refresh_{kind}: no manifest at {target!r}; run "
            f"build_{kind} first"
        )
    with open(target) as fh:
        settings = json.load(fh)
    current = set(_list_files(path))
    kept = [e for e in settings.pop("files") if e["file"] in current]
    new_files = sorted(current - {e["file"] for e in kept})
    return _commit(spark, path, target, settings, kept, new_files, fold)


def read(
    spark: SparkSession,
    path: str,
    kind: str,
    keep_for: Callable[[dict], Callable[[dict], bool]],
    apply: Callable[[DataFrame], DataFrame],
    manifest_path: str | None = None,
) -> tuple[DataFrame, dict]:
    """Scan ``path`` reading only the files whose entries pass
    ``keep_for(manifest)``, with ``apply`` (the exact filter) on top.

    Returns ``(df, report)``; the report carries ``files_total`` /
    ``files_read`` so callers can see the skipping happened."""
    target = _target(path, kind, manifest_path)
    if not os.path.exists(target):
        return apply(spark.read.parquet(path)), {
            "files_total": None,
            "files_read": None,
        }
    with open(target) as fh:
        manifest = json.load(fh)
    current = set(_list_files(path))
    known = {e["file"] for e in manifest["files"]}
    if known - current or "column_types" not in manifest:
        return apply(spark.read.parquet(path)), {
            "files_total": len(current),
            "files_read": len(current),
            "stale_manifest": True,
        }
    keep = keep_for(manifest)
    kept = [e["file"] for e in manifest["files"] if keep(e)]
    kept += sorted(current - known)
    report = {"files_total": len(current), "files_read": len(kept)}
    if not kept:
        return apply(spark.read.parquet(path).limit(0)), report
    return apply(spark.read.parquet(*kept)), report
