"""Zone maps — file-level min/max manifests for scan-time file skipping.

Parquet footers already carry row-group min/max statistics, and Spark
uses them — but only AFTER a task has opened the file.  At 100 TB with
~100k files, the cost that matters is scheduling and opening files at
all: a time-range query over a range-clustered or z-ordered layout
(sources/writers.py:write_range_clustered_parquet,
functions/layout.py:write_zordered_parquet) should touch the handful of
files whose value ranges intersect the predicate, not schedule a task
per file to discover emptiness.  That is what a table format's data
skipping does (Delta/Iceberg file stats); this module is the engine's
own lightweight version over plain parquet directories.

Design:
- ``build_zonemap`` reads ONLY the parquet footers (pyarrow metadata —
  a few KB per file, never the data pages), distributed over the
  cluster with ``mapInPandas`` so a 100k-file manifest build is a
  trivially parallel metadata job, not a 100 TB scan.  The manifest
  (one row per file: min / max / null_count / num_rows per tracked
  column) is O(files) small and lands as a single ``_zonemap.json``
  sidecar next to the data.
- ``read_pruned`` intersects conjunctive range bounds with each file's
  [min, max] interval and hands Spark only the surviving file list.
  Pruning is a SUPERSET guarantee: the caller's real filter still
  applies on top, so a stale or absent manifest can only cost
  performance, never correctness (``read_pruned`` falls back to the
  whole directory when the sidecar is missing).

Null semantics (safe by construction for range predicates):
- a row with NULL in the predicate column never satisfies ``lo <= c``
  or ``c <= hi``, so nulls inside a kept file are filtered normally;
- an all-null file (stats min/max absent) cannot satisfy any range
  predicate and is pruned.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recover_spark.sources.atomic import write_text_atomic

MANIFEST_NAME = "_zonemap.json"

# Bound value encoded for JSON: numbers / strings pass through;
# timestamps/dates become ISO strings (their sort order survives).


def _json_safe(v):
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()  # ISO order == value order
    return None  # non-comparable (e.g. raw binary): no usable bound


def _footer_stats(files: Sequence[str], columns: Sequence[str]) -> list[dict]:
    """Per-file column stats from parquet footers only (no data pages)."""
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = list(md.schema.names)
        idx = {c: names.index(c) for c in columns if c in names}
        entry: dict = {"file": f, "num_rows": md.num_rows, "columns": {}}
        for c, i in idx.items():
            mn = mx = None
            nulls = 0
            unknown = False
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None:
                    unknown = True  # writer recorded nothing: can't prune
                    continue
                nulls += st.null_count or 0
                if not st.has_min_max:
                    # no min/max AND no values -> the row group is pure
                    # nulls, which contributes nothing to the interval;
                    # no min/max WITH values -> stats were suppressed
                    # (e.g. over-long strings) and the file is unknowable
                    if (st.num_values or 0) > 0:
                        unknown = True
                    continue
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            jmn, jmx = _json_safe(mn), _json_safe(mx)
            # stats existed but are not JSON-comparable (raw binary):
            # mark unknowable rather than recording misleading nulls
            if (mn is not None and jmn is None) or (
                mx is not None and jmx is None
            ):
                unknown = True
                jmn = jmx = None
            entry["columns"][c] = {
                "min": jmn,
                "max": jmx,
                "null_count": nulls,
                # complete + min/max None == provably all-null file
                "complete": not unknown,
            }
        out.append(entry)
    return out


def build_zonemap(
    spark: SparkSession,
    path: str,
    columns: Sequence[str],
    manifest_path: str | None = None,
) -> dict:
    """Build and persist the file-level min/max manifest for ``path``.

    The footer reads run as an Arrow-batched ``mapInPandas`` over the
    file list — per-file work is a metadata fetch, so the job
    parallelizes across however many files exist without touching row
    data.  The manifest is returned and written to ``_zonemap.json``
    under ``path`` (override with ``manifest_path``).
    """
    import pandas as pd

    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    if not files:
        # a hive-partitioned dataset keeps its files in subdirectories;
        # a silent empty manifest would later prune EVERYTHING, so
        # refuse loudly — zone maps cover flat clustered layouts
        # (write_range_clustered_parquet / write_zordered_parquet);
        # hive partition pruning already covers partitioned ones.
        raise FileNotFoundError(
            f"build_zonemap: no top-level parquet files under {path!r} "
            "(hive-partitioned dataset? zone maps apply to flat "
            "clustered layouts)"
        )
    cols = list(columns)
    files_df = spark.createDataFrame([(f,) for f in files], "file string")

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            stats = _footer_stats(list(b["file"]), cols)
            yield pd.DataFrame(
                {"entry": [json.dumps(e, sort_keys=True) for e in stats]}
            )

    # ~bytes per entry is tiny; collecting O(files) manifest rows to the
    # driver is the bounded-metadata read every table format does.
    rows = files_df.repartition(min(len(files), 32) or 1).mapInPandas(
        scan, "entry string"
    ).collect()
    manifest = {
        "path": path,
        "tracked_columns": cols,
        "files": sorted(
            (json.loads(r["entry"]) for r in rows), key=lambda e: e["file"]
        ),
    }
    target = manifest_path or os.path.join(path, MANIFEST_NAME)
    write_text_atomic(target, json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def refresh_zonemap(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
) -> dict:
    """Incrementally reconcile the manifest with the directory.

    ``read_pruned`` already treats the manifest as advisory — appended
    files (no stats) are always scanned and a deleted file kills the
    whole manifest — but both reconciliations COST performance on every
    read until someone rebuilds.  At 100 TB a weekly append of 1% of
    files should not trigger a full O(files) footer sweep: this refresh
    computes footer stats for ONLY the files absent from the manifest,
    drops entries for files that no longer exist, and atomically
    promotes the merged manifest.  Existing entries are reused verbatim
    (files are immutable once written — the same contract the zip
    archive source and the IVF index append rely on).

    Cost: O(new files) footer reads + O(manifest) JSON rewrite.
    Returns the merged manifest; raises if no manifest exists (use
    ``build_zonemap`` for the initial build — refresh has no column
    list of its own, it inherits ``tracked_columns``).
    """
    import pandas as pd

    target = manifest_path or os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(target):
        raise FileNotFoundError(
            f"refresh_zonemap: no manifest at {target!r}; run "
            "build_zonemap first"
        )
    with open(target) as fh:
        manifest = json.load(fh)
    cols = list(manifest["tracked_columns"])
    current = {
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    }
    kept = [e for e in manifest["files"] if e["file"] in current]
    known = {e["file"] for e in kept}
    new_files = sorted(current - known)
    if new_files:
        files_df = spark.createDataFrame(
            [(f,) for f in new_files], "file string"
        )

        def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                stats = _footer_stats(list(b["file"]), cols)
                yield pd.DataFrame(
                    {"entry": [json.dumps(e, sort_keys=True) for e in stats]}
                )

        rows = (
            files_df.repartition(min(len(new_files), 32) or 1)
            .mapInPandas(scan, "entry string")
            .collect()
        )
        kept.extend(json.loads(r["entry"]) for r in rows)
    merged = {
        "path": manifest["path"],
        "tracked_columns": cols,
        "files": sorted(kept, key=lambda e: e["file"]),
    }
    write_text_atomic(target, json.dumps(merged, indent=1, sort_keys=True))
    return merged


def _file_may_match(
    entry: dict, bounds: Mapping[str, tuple[object | None, object | None]]
) -> bool:
    for col, (lo, hi) in bounds.items():
        st = entry.get("columns", {}).get(col)
        if st is None:
            # untracked column: no information -> cannot prune on it
            continue
        if not st.get("complete", False):
            continue  # partial stats: keep (superset guarantee)
        mn, mx = st["min"], st["max"]
        if mn is None or mx is None:
            return False  # all-null file can't satisfy a range predicate
        try:
            if lo is not None and mx < lo:
                return False
            if hi is not None and mn > hi:
                return False
        except TypeError:
            # bound/stat type mismatch (e.g. int bound on a string
            # column): no usable information — keep (superset)
            continue
    return True


def read_pruned(
    spark: SparkSession,
    path: str,
    bounds: Mapping[str, tuple[object | None, object | None]],
    manifest_path: str | None = None,
) -> tuple[DataFrame, dict]:
    """Scan ``path`` reading only files whose zone intervals intersect
    ``bounds`` (conjunctive closed ranges; ``None`` = open end), and
    apply the bounds as a real filter on top (superset guarantee).

    Returns ``(df, report)`` where report carries
    ``files_total`` / ``files_read`` so callers (and tests) can see the
    skipping actually happened.  Missing manifest -> full scan.
    """
    target = manifest_path or os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(target):
        df = spark.read.parquet(path)
        return _apply_bounds(df, bounds), {"files_total": None, "files_read": None}
    with open(target) as fh:
        manifest = json.load(fh)
    entries = manifest["files"]
    # Staleness reconciliation — the manifest is advisory, never
    # authoritative over the directory:
    # - a manifest entry whose file is GONE means the dataset was
    #   rewritten under us; pruning against dead stats could skip live
    #   data, so fall back to the full scan (performance cost only);
    # - a directory file ABSENT from the manifest (appended since the
    #   build) has no stats and is always scanned — skipping it would
    #   silently drop rows, the exact hole the superset guarantee
    #   forbids.
    current = {
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    }
    known = {e["file"] for e in entries}
    if known - current:
        df = spark.read.parquet(path)
        return _apply_bounds(df, bounds), {
            "files_total": len(current),
            "files_read": len(current),
            "stale_manifest": True,
        }
    unknown = sorted(current - known)
    kept = [e["file"] for e in entries if _file_may_match(e, bounds)] + unknown
    report = {"files_total": len(current), "files_read": len(kept)}
    if not kept:
        # empty-by-pruning: preserve the schema via a zero-file read of
        # the full directory's schema, filtered to nothing
        df = spark.read.parquet(path).limit(0)
        return _apply_bounds(df, bounds), report
    df = spark.read.parquet(*kept)
    return _apply_bounds(df, bounds), report


def _apply_bounds(
    df: DataFrame, bounds: Mapping[str, tuple[object | None, object | None]]
) -> DataFrame:
    for col, (lo, hi) in bounds.items():
        if col not in df.columns:
            continue
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df
