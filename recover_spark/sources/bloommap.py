"""Per-file Bloom-filter sidecars — equality-predicate file skipping.

Zone maps (sources/zonemap.py) prune on RANGE predicates, which only
bites when the layout clusters the predicate column (range-clustered /
z-ordered writes).  A point lookup on a column the layout does NOT
cluster — "which files hold order 123456?" when files are laid out by
ship date — gets nothing from min/max: every file's key interval spans
the whole domain.  The standard answer is a per-file Bloom filter
(Delta/Iceberg column bloom stats, parquet's own optional bloom pages):
a fixed-size bitmap per (file, column) that answers "definitely absent
/ maybe present", so an equality scan schedules only the files that
might contain the key.

Design — listing, the distributed per-file scan, refresh, the
``_bloommap.json`` sidecar and the staleness and superset rules live in
sources/pruning.py, shared with zone maps; this module supplies:
- the per-file fold: each task reads ONLY the tracked columns of its
  files (columnar projection — a fraction of file bytes) and folds the
  values into an m-bit bitmap with k hashes (double hashing from
  splitmix64 for integers, blake2b for strings and bytes — deterministic
  across runs, processes, and engines; this manifest outlives the Spark
  session that built it, so a seed-dependent hash would poison every
  later read), stored base64 in the entry;
- the keep rule of ``read_point_pruned``: a file stays when EVERY
  queried column says "maybe" for AT LEAST ONE of its requested values
  (IN-list semantics), and the exact IN filter reapplies on top.  A
  probe whose type is not the column's storage type (a string probe
  on an integer column, or the reverse) hashes differently from the
  column's values, so it says "maybe" for every file.

Sizing: the manifest is O(files x columns x bits/8) — at the 8 KiB
default (bits=1<<16) a 100k-file table carries ~800 MB of bitmap per
tracked column, which is past what one JSON sidecar should hold; at
that scale the manifest itself becomes a small parquet table and the
file pruning a distributed semi-join (the natural upgrade path — the
reader contract here is already value-based, not layout-based).  For
the 10^2..10^4-file datasets this engine's sinks produce, the sidecar
is the right weight.  False-positive rate ~= (1 - e^(-k*n/m))^k for n
distinct values per file: 5k distinct against the defaults (m=65536,
k=5) is ~0.6% — a false positive only costs scanning one extra file.

Null semantics: NULL never equals anything, so nulls contribute no
bits and an all-null file prunes on any equality probe.
"""

from __future__ import annotations

import base64
import hashlib
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recover_spark.sources import pruning

# Spark column types whose values the build folds as integers.
_INT_TYPES = {"tinyint", "smallint", "int", "bigint", "boolean"}

_MASK = (1 << 64) - 1
_GOLDEN = 0x9E3779B97F4A7C15
_MIX1 = 0xBF58476D1CE4E5B9
_MIX2 = 0x94D049BB133111EB


def _splitmix(x: int) -> int:
    """One splitmix64 output step (scalar twin of the numpy path)."""
    z = (x + _GOLDEN) & _MASK
    z = ((z ^ (z >> 30)) * _MIX1) & _MASK
    z = ((z ^ (z >> 27)) * _MIX2) & _MASK
    return z ^ (z >> 31)


def _bit_positions(v, bits: int, k: int) -> list[int] | None:
    """Bit indices for ONE value — the probe-side scalar hash.

    Integers (incl. bools) take the splitmix64 stream the vectorized
    build uses; strings/bytes take blake2b.  Both are seedless and
    process-independent — the manifest outlives the session that built
    it, so a salted hash (Python's own hash(), Spark's xxhash64 seed)
    would poison every later read.  The two families do not agree on
    any value, so ``_maybe_contains`` answers "maybe" for a probe of
    the other family.  Floats are rejected: binary64 equality is not a
    pruning predicate, and a quiet str() round trip would split 1.0
    from 1.
    """
    if v is None:
        return None
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, float):
        raise TypeError(
            "bloom maps do not track float columns (binary64 equality "
            "is not a pruning predicate); cast to string or int first"
        )
    if isinstance(v, int):
        h1 = _splitmix(v & _MASK)
        h2 = _splitmix((v & _MASK) ^ _GOLDEN) | 1
    else:
        data = v.encode() if isinstance(v, str) else bytes(v)
        d = hashlib.blake2b(data, digest_size=16).digest()
        h1 = int.from_bytes(d[:8], "big")
        h2 = int.from_bytes(d[8:], "big") | 1  # odd -> full cycle mod 2^j
    return [((h1 + i * h2) & _MASK) % bits for i in range(k)]


def _fold_int_array(bm, arr, bits: int, k: int) -> None:
    """Vectorized splitmix64 fold of an integer column chunk: numpy
    uint64 arithmetic end-to-end (unsigned wraparound == the scalar
    ``& _MASK``), bits set with one ``bitwise_or.at`` scatter — no
    per-value Python in the common integer-key case."""
    import numpy as np

    vals = arr.to_numpy(zero_copy_only=False).astype(np.uint64)

    def mix(x):
        z = x + np.uint64(_GOLDEN)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(_MIX1)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(_MIX2)
        return z ^ (z >> np.uint64(31))

    h1 = mix(vals)
    h2 = mix(vals ^ np.uint64(_GOLDEN)) | np.uint64(1)
    for i in range(k):
        p = (h1 + np.uint64(i) * h2) % np.uint64(bits)
        np.bitwise_or.at(
            bm, (p >> np.uint64(3)).astype(np.int64),
            (np.uint64(1) << (p & np.uint64(7))).astype(np.uint8),
        )


def _fold_file(path: str, manifest: dict) -> dict:
    """Bloom bitmaps for one file, reading only the tracked columns."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    bits, k = manifest["bits"], manifest["num_hashes"]
    pf = pq.ParquetFile(path)
    present = [c for c in manifest["tracked_columns"] if c in pf.schema_arrow.names]
    bitmaps = {c: np.zeros(bits // 8, dtype=np.uint8) for c in present}
    for batch in pf.iter_batches(columns=present, batch_size=65536):
        for c in present:
            bm = bitmaps[c]
            arr = batch.column(c).drop_null()  # NULL matches no equality
            if pa.types.is_integer(arr.type) or pa.types.is_boolean(arr.type):
                if len(arr):
                    _fold_int_array(bm, arr.cast(pa.int64()), bits, k)
                continue
            for v in arr.to_pylist():
                for p in _bit_positions(v, bits, k):
                    bm[p >> 3] |= np.uint8(1 << (p & 7))
    return {
        "file": path,
        "columns": {
            c: base64.b64encode(bm.tobytes()).decode()
            for c, bm in bitmaps.items()
        },
    }


def build_bloommap(
    spark: SparkSession,
    path: str,
    columns: Sequence[str],
    bits: int = 1 << 16,
    num_hashes: int = 5,
    manifest_path: str | None = None,
) -> dict:
    """Build and persist the per-file Bloom manifest for ``path``
    (``_bloommap.json`` under ``path`` unless ``manifest_path``)."""
    if bits & (bits - 1):
        raise ValueError("bits must be a power of two")
    settings = {
        "tracked_columns": list(columns),
        "bits": bits,
        "num_hashes": num_hashes,
    }
    return pruning.build(
        spark, path, "bloommap", settings, _fold_file, manifest_path
    )


def refresh_bloommap(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
) -> dict:
    """Reconcile the manifest with the directory: bitmaps for ONLY the
    files absent from it, dead entries dropped, columns and sizing
    inherited.  Cost: O(new files) column reads."""
    return pruning.refresh(spark, path, "bloommap", _fold_file, manifest_path)


def _maybe_contains(
    entry: dict, col: str, values: Sequence, bits: int, k: int, int_column: bool
) -> bool:
    b64 = entry.get("columns", {}).get(col)
    if b64 is None:
        return True  # column untracked/absent in this file: no info
    bm = base64.b64decode(b64)
    for v in values:
        pos = _bit_positions(v, bits, k)
        if pos is None:
            continue  # NULL matches nothing
        if isinstance(v, int) != int_column:
            return True  # hashed unlike the column's values: no info
        if all(bm[p >> 3] & (1 << (p & 7)) for p in pos):
            return True
    return False


def read_point_pruned(
    spark: SparkSession,
    path: str,
    points: Mapping[str, Sequence],
    manifest_path: str | None = None,
) -> tuple[DataFrame, dict]:
    """Scan ``path`` reading only files whose Bloom bitmaps admit the
    point predicate — conjunctive across columns, IN-list (disjunctive)
    within a column — with the exact filter reapplied on top.

    Returns ``(df, report)`` with ``files_total`` / ``files_read``;
    the staleness rules are those of sources/pruning.py.
    """
    points = {c: list(vs) for c, vs in points.items()}

    def keep_for(manifest: dict):
        bits, k = manifest["bits"], manifest["num_hashes"]
        ints = {c: manifest["column_types"].get(c) in _INT_TYPES for c in points}
        return lambda e: all(
            _maybe_contains(e, c, vs, bits, k, ints[c]) for c, vs in points.items()
        )

    return pruning.read(
        spark,
        path,
        "bloommap",
        keep_for,
        lambda df: _apply_points(df, points),
        manifest_path,
    )


def _apply_points(df: DataFrame, points: Mapping[str, Sequence]) -> DataFrame:
    for col, vals in points.items():
        if col not in df.columns:
            continue
        df = df.filter(F.col(col).isin(list(vals)))
    return df
