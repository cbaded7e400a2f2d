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
  a few KB per file, never the data pages) in the distributed per-file
  scan of sources/pruning.py, which also owns listing, refresh, the
  ``_zonemap.json`` sidecar and the staleness and superset rules.  An
  entry holds min / max / null_count / num_rows per tracked column.
- ``read_pruned`` intersects conjunctive range bounds with each file's
  [min, max] interval and hands Spark only the surviving file list;
  the bounds still apply as a real filter on top.

Comparison semantics follow Spark's: timestamp and date columns
compare as typed values (the bound is coerced the way Spark coerces
the literal — a naive string in the session time zone, a naive
``datetime`` in the process's local time as pyspark converts it), and
string columns compare lexicographically.  A bound that does not
coerce prunes nothing.

Null semantics (safe by construction for range predicates):
- a row with NULL in the predicate column never satisfies ``lo <= c``
  or ``c <= hi``, so nulls inside a kept file are filtered normally;
- an all-null file (stats min/max absent) cannot satisfy any range
  predicate and is pruned.
"""

from __future__ import annotations

import datetime
import re
import zoneinfo
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recover_spark.sources import pruning

Bounds = Mapping[str, tuple[object | None, object | None]]

_ISO_DATE = re.compile(r"\d{4}-\d{2}-\d{2}(?:[T ]|$)")


def _json_safe(v):
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None  # non-comparable (e.g. raw binary): no usable bound


def _footer_stats(path: str, manifest: dict) -> dict:
    """Column stats of one file from its parquet footer only (no data
    pages)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = list(md.schema.names)
    entry: dict = {"file": path, "num_rows": md.num_rows, "columns": {}}
    for c in manifest["tracked_columns"]:
        if c not in names:
            continue
        i = names.index(c)
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
        if (mn is not None and jmn is None) or (mx is not None and jmx is None):
            unknown = True
            jmn = jmx = None
        entry["columns"][c] = {
            "min": jmn,
            "max": jmx,
            "null_count": nulls,
            # complete + min/max None == provably all-null file
            "complete": not unknown,
        }
    return entry


def build_zonemap(
    spark: SparkSession,
    path: str,
    columns: Sequence[str],
    manifest_path: str | None = None,
) -> dict:
    """Build and persist the file-level min/max manifest for ``path``
    (``_zonemap.json`` under ``path`` unless ``manifest_path``)."""
    return pruning.build(
        spark,
        path,
        "zonemap",
        {"tracked_columns": list(columns)},
        _footer_stats,
        manifest_path,
    )


def refresh_zonemap(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
) -> dict:
    """Reconcile the manifest with the directory: footer stats for
    ONLY the files absent from it, dead entries dropped, the tracked
    columns inherited.  Raises if no manifest exists (use
    ``build_zonemap`` first)."""
    return pruning.refresh(spark, path, "zonemap", _footer_stats, manifest_path)


def _typed(v, kind: str | None, tz: datetime.tzinfo | None):
    """``v`` as Spark compares it with a ``kind`` column, or None when
    it does not coerce; naive timestamps are taken in ``tz``."""
    if isinstance(v, str) and _ISO_DATE.match(v):
        try:
            if kind == "date":
                return datetime.date.fromisoformat(v[:10])
            v = datetime.datetime.fromisoformat(v)
        except ValueError:
            return None  # Spark casts it to NULL, which matches nothing
        if v.tzinfo is None:
            return None if tz is None else v.replace(tzinfo=tz)
        return v
    if isinstance(v, datetime.datetime):
        return v.astimezone() if kind == "timestamp" else None
    if isinstance(v, datetime.date):
        return v if kind == "date" else None
    return None


def _file_may_match(
    entry: dict, bounds: Bounds, types: Mapping[str, str], tz
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
        kind = types.get(col)
        if kind in ("date", "timestamp"):
            # stats of a timestamp column are UTC instants
            mn, mx = _typed(mn, kind, datetime.UTC), _typed(mx, kind, datetime.UTC)
            lo = None if lo is None else _typed(lo, kind, tz)
            hi = None if hi is None else _typed(hi, kind, tz)
            if None in (mn, mx):
                continue
        elif isinstance(mn, str) and kind != "string":
            continue  # ISO text of another temporal type: no order to use
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


def _session_tz(spark: SparkSession) -> datetime.tzinfo | None:
    try:
        return zoneinfo.ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    except (KeyError, ValueError):
        return None  # an offset-style zone id: naive bounds do not prune


def read_pruned(
    spark: SparkSession,
    path: str,
    bounds: Bounds,
    manifest_path: str | None = None,
) -> tuple[DataFrame, dict]:
    """Scan ``path`` reading only files whose zone intervals intersect
    ``bounds`` (conjunctive closed ranges; ``None`` = open end), and
    apply the bounds as a real filter on top (superset guarantee).

    Returns ``(df, report)`` where report carries
    ``files_total`` / ``files_read`` so callers (and tests) can see the
    skipping actually happened.  Missing manifest -> full scan.
    """

    def keep_for(manifest: dict):
        types = manifest["column_types"]
        tz = None
        if any(types.get(c) == "timestamp" for c in bounds):
            tz = _session_tz(spark)
        return lambda e: _file_may_match(e, bounds, types, tz)

    return pruning.read(
        spark,
        path,
        "zonemap",
        keep_for,
        lambda df: _apply_bounds(df, bounds),
        manifest_path,
    )


def _apply_bounds(df: DataFrame, bounds: Bounds) -> DataFrame:
    for col, (lo, hi) in bounds.items():
        if col not in df.columns:
            continue
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df
