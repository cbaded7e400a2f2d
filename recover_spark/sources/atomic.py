"""Crash-safe commits — the one protocol every persisted state uses.

The reference replaces a dataset by copying the old output to an
archive prefix and then deleting/rewriting in place
(json_to_parquet.py:348-366): a reader concurrent with the weekly rerun
can observe a half-deleted or half-written dataset.  SURVEY.md §7's
watch-list calls for write-to-temp-then-swap; every writer in this
package that replaces a directory or a sidecar file goes through the
helpers below, so there is one protocol to test.

Directory state (streaming matviews, drift and suite counters, corpus
dedup state, IVF index, PQ sidecar) commits in five steps:

1. **heal** (``heal_swap``) — a crash between the two renames of step
   5 leaves only ``<path>.old``; rename it back so every previously
   committed batch survives (restarting from an empty state would
   undercount for good: the checkpoint already consumed that input);
2. **replay guard** (``replayed``) — a batch whose id is <= the
   ``_applied_batch_id`` marker is a foreachBatch replay and is
   skipped, which upgrades at-least-once to effectively-once;
3. **write tmp** (``commit_dir``) — ``write(<path>.tmp)`` produces the
   next generation beside the live one;
4. **marker** — the batch id lands inside the tmp dir, so it swaps in
   atomically with the state it describes;
5. **two renames** — live -> ``<path>.old``, tmp -> live, then delete
   ``.old``: a complete generation exists on disk at every instant.

Sidecar files (index metas, frozen bins, suites, zone/Bloom manifests,
the ``_CURRENT`` pointer) are replaced by ``write_text_atomic``: write
``<path>.tmp``, then one ``os.replace`` — readers see the old or the
new bytes, never half.  Appends that are not atomic (the text and IVF
index ingest) keep their marker in a separate ``_applied_batch`` file,
written this way LAST, after the append, and read by ``replayed``.

Single-writer assumption: the two-rename swap is crash-safe, not
concurrency-safe.  A reader that heals between a live writer's two
renames can rename ``.old`` back over the live path and fail the
writer's second rename.  Maintenance verbs and merges are offline
jobs; run one at a time per state directory.

Partition-level replaces are not directory commits: replacing the
hive partitions a batch touched (and removing those a deletion emptied)
rides Spark's own job commit and lives in ``sources/writers.py``
(``overwrite_partitions_dynamic``, ``rewrite_partitions``).

Whole datasets get a stronger layout, because even a rename pair
(dataset -> archive, staging -> dataset) has a window with NO live
dataset — ``write_dataset_atomic``::

    root/
      _CURRENT            <- one line: name of the live generation dir
      gen-00000001/       <- complete parquet dataset (hive-partitioned)
      gen-00000002/
      .staging-<run_id>/  <- in-flight write, invisible to readers

1. write the new generation into ``.staging-<run_id>`` with
   ``write_partitioned_parquet`` — readers never resolve staging dirs,
   so a torn write is invisible;
2. rename staging -> ``gen-<seq>`` — a complete but not-yet-live
   generation; a crash here leaves it unreferenced (pruned later);
3. promote by writing ``_CURRENT`` with ``write_text_atomic``;
4. prune generations beyond ``keep_generations`` (never the live one)
   — the kept tail IS the archive (K5 parity: the previous generation
   remains readable after a replace, addressable by name).

On an object store the pointer file becomes a manifest object and the
renames become manifest commits (the Iceberg/Delta pattern); the
local-filesystem implementation keeps the same reader contract.

Citations: reference copy-then-delete window at
src/glue/jobs/json_to_parquet.py:348-366 (archive copy → delete →
write), the defect this replaces rather than mirrors.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from recover_spark.sources.writers import write_partitioned_parquet

_POINTER = "_CURRENT"
_GEN_PREFIX = "gen-"
_STAGING_PREFIX = ".staging-"
_COMMIT_META = "_commit.json"
BATCH_MARKER = "_applied_batch_id"
APPEND_MARKER = "_applied_batch"


def write_text_atomic(path: str, text: str) -> None:
    """Replace the file at ``path`` with ``text`` (tmp + ``os.replace``)."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def heal_swap(path: str) -> bool:
    """Restore ``<path>.old`` when a crash between the two renames left
    no live ``path``.  Returns True when a restore happened."""
    path = path.rstrip("/")
    old = path + ".old"
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
        return True
    return False


def replayed(
    path: str, batch_id: int | None, marker: str = BATCH_MARKER
) -> bool:
    """Heal a mid-swap crash, then tell whether ``batch_id`` is a replay
    of an already-applied batch (the caller must skip it): its id is <=
    the one recorded in ``path``/``marker``."""
    heal_swap(path)
    if batch_id is None:
        return False
    try:
        applied = int((Path(path) / marker).read_text().strip())
    except (FileNotFoundError, NotADirectoryError, ValueError):
        return False
    return batch_id <= applied


def commit_dir(
    path: str,
    write: Callable[[str], object],
    batch_id: int | None = None,
) -> None:
    """Commit the next generation of the directory ``path``:
    ``write(tmp)`` fills a fresh ``<path>.tmp``, the batch-id marker
    lands inside it, then two renames swap it in (live -> ``.old``,
    tmp -> live) and ``.old`` is deleted.  One writer per ``path`` at a
    time (the single-writer assumption in the module docstring)."""
    path = path.rstrip("/")
    heal_swap(path)
    tmp, old = path + ".tmp", path + ".old"
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    write(tmp)
    if batch_id is not None:
        (Path(tmp) / BATCH_MARKER).write_text(str(batch_id))
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


class CrashInjected(RuntimeError):
    """Raised by the test-only fail-point hook."""


def _check_fail(fail_point: str | None, here: str) -> None:
    if fail_point == here:
        raise CrashInjected(here)


def current_generation(path: str) -> str | None:
    """Resolve the live generation dir name, or None if no dataset."""
    pointer = Path(path) / _POINTER
    try:
        name = pointer.read_text().strip()
    except FileNotFoundError:
        return None
    return name or None


def list_generations(path: str) -> list[str]:
    """All complete generation dir names, oldest first."""
    root = Path(path)
    if not root.exists():
        return []
    return sorted(
        p.name
        for p in root.iterdir()
        if p.is_dir() and p.name.startswith(_GEN_PREFIX)
    )


def generation_commit_ts(path: str, generation: str) -> float:
    """Commit timestamp of a generation: the ``_commit.json`` the
    writer staged with the data (atomic with the generation — it rides
    the same rename), falling back to the directory mtime for
    generations written before the metadata existed."""
    import json as _json

    gen_dir = Path(path) / generation
    meta = gen_dir / _COMMIT_META
    try:
        return float(_json.loads(meta.read_text())["commit_ts"])
    except (FileNotFoundError, KeyError, ValueError):
        return gen_dir.stat().st_mtime


def generation_asof(path: str, ts: float) -> str:
    """Resolve the generation that was live AT ``ts`` (unix seconds):
    the newest generation whose commit timestamp is <= ts — Delta-style
    timestamp time travel over the generation archive.  Raises if the
    dataset did not exist yet at ``ts`` or was never written."""
    candidates = [
        (generation_commit_ts(path, g), g) for g in list_generations(path)
    ]
    eligible = sorted(c for c in candidates if c[0] <= ts)
    if not eligible:
        raise FileNotFoundError(
            f"no generation under {path!r} committed at or before {ts}"
            + (
                " (dataset did not exist yet)"
                if candidates
                else " (no generations at all)"
            )
        )
    return eligible[-1][1]


def read_dataset(
    spark: SparkSession,
    path: str,
    generation: str | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read the live generation, a named archived one, or the one live
    at a timestamp (``as_of``, unix seconds — Delta-style time
    travel; the retained generation tail is the queryable history).

    Readers resolve the pointer once and then scan an immutable
    directory — a replace running concurrently can at worst make this
    reader one generation stale, never torn.
    """
    if generation is not None and as_of is not None:
        raise ValueError("pass generation= or as_of=, not both")
    if as_of is not None:
        generation = generation_asof(path, as_of)
    gen = generation or current_generation(path)
    if gen is None:
        raise FileNotFoundError(f"no live generation under {path!r}")
    return spark.read.parquet(str(Path(path) / gen))


def write_dataset_atomic(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    run_id: str = "run",
    keep_generations: int = 2,
    commit_ts: float | None = None,
    _fail_point: str | None = None,
) -> str:
    """Replace the dataset with ``df`` atomically; returns the new
    generation name.

    ``keep_generations`` previous generations stay on disk as the
    archive.  Each generation carries a ``_commit.json`` (written into
    staging, so it rides the same atomic rename) recording
    ``commit_ts`` — the timestamp ``read_dataset(as_of=...)`` resolves
    time travel against; pass an explicit ``commit_ts`` for
    deterministic tests, default is the wall clock.  ``_fail_point``
    is a TEST-ONLY hook naming a protocol step ("after-stage" |
    "after-rename" | "after-promote") at which a simulated crash is
    raised; production callers leave it None.

    Scale shape: the data write itself is ``write_partitioned_parquet``,
    the ordinary distributed sink (staging dir is on the same filesystem,
    so executors write in place); the commit adds two metadata renames
    and one pointer write — O(1) driver-side work regardless of data
    size.
    """
    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)

    # clear leftovers from a previous crashed run of the same run_id so
    # retries are idempotent
    staging = root / f"{_STAGING_PREFIX}{run_id}"
    if staging.exists():
        shutil.rmtree(staging)

    write_partitioned_parquet(df, str(staging), partition_by)
    import json as _json
    import time as _time

    (staging / _COMMIT_META).write_text(
        _json.dumps(
            {
                "commit_ts": float(
                    commit_ts if commit_ts is not None else _time.time()
                ),
                "run_id": run_id,
            },
            sort_keys=True,
        )
    )
    _check_fail(_fail_point, "after-stage")

    gens = list_generations(path)
    last = int(gens[-1][len(_GEN_PREFIX):]) if gens else 0
    gen_name = f"{_GEN_PREFIX}{last + 1:08d}"
    os.rename(staging, root / gen_name)
    _check_fail(_fail_point, "after-rename")

    # atomic promote: readers see the old pointer or the new pointer
    write_text_atomic(str(root / _POINTER), gen_name + "\n")
    _check_fail(_fail_point, "after-promote")

    _prune_generations(path, keep_generations)
    return gen_name


def _prune_generations(path: str, keep: int) -> None:
    """Delete generations older than the newest ``keep`` non-live ones;
    the live generation is never deleted regardless of age."""
    live = current_generation(path)
    gens = [g for g in list_generations(path) if g != live]
    for stale in gens[: max(0, len(gens) - keep)]:
        shutil.rmtree(Path(path) / stale)


def generation_changes(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    from_generation: str | None = None,
    to_generation: str | None = None,
) -> "DataFrame":
    """Change-data feed between two generations of an atomic dataset —
    the Delta/Iceberg CDF idea over the generation store: because every
    replace keeps the previous generation addressable (the archive IS
    the history), any two generations can be diffed after the fact,
    with no change tracking at write time.

    Emits one row per changed key with ``change_type`` in
    ``insert`` / ``update`` / ``delete`` and the NEW payload (null for
    deletes).  Defaults compare the previous generation to the live
    one.  Plan: one full-outer equi-join on the keys with null-safe
    payload comparison — no window, no collect; at 100 TB this is the
    same shuffle a weekly reconciliation (J3) already pays.
    """
    from pyspark.sql import functions as F

    gens = list_generations(path)
    live = current_generation(path)
    if to_generation is None:
        to_generation = live
    if from_generation is None:
        prior = [g for g in gens if g < (to_generation or "")]
        if not prior:
            raise ValueError(
                f"no generation precedes {to_generation!r} under {path!r}"
            )
        from_generation = prior[-1]
    old = read_dataset(spark, path, from_generation)
    new = read_dataset(spark, path, to_generation)
    keys = list(keys)
    payload = [c for c in new.columns if c not in keys]
    shared = [c for c in payload if c in old.columns]

    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in shared],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *keys, *payload, F.lit(1).alias("__in_new")
    )
    cond = None
    for k in keys:
        c = n[k] == o[f"__ok_{k}"]
        cond = c if cond is None else cond & c
    j = n.join(o, cond, "full_outer")
    differs = F.lit(False)
    for c in shared:
        differs = differs | ~n[c].eqNullSafe(o[f"__o_{c}"])
    change = (
        F.when(o["__in_old"].isNull(), F.lit("insert"))
        .when(n["__in_new"].isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    out_keys = [
        F.coalesce(n[k], o[f"__ok_{k}"]).alias(k) for k in keys
    ]
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(F.col("change_type"), *out_keys, *[n[c] for c in payload])
    )
