"""Streaming drift monitor — PSI maintained incrementally as exports
arrive.

The batch monitor (quality/drift.py:psi_drift) answers "did this
week's export drift from the baseline era?" by binning both sides in
one job.  The reference's arrival model is a weekly export drop
(templates/glue-workflow.j2:66), and the operational form of the
monitor is drift-ON-ARRIVAL: freeze the baseline once, then fold each
arriving micro-batch's binned counts into crash-safe state and read
the current PSI at any time — the matview pattern
(streaming/matview.py) applied to the drift aggregate.

Exactness: the frozen artifacts are the baseline's bin edges (a
one-row frame, index-style metadata) and its per-(column, bin)
counts; per-batch binning is map-side against the broadcast edges,
and binned counts are ADDITIVE, so after any number of batches

    read_drift_psi(state)  ==  psi_drift(baseline, union of batches)

bit-for-bit (integer counts, same shares, same clamp) — the test
oracle.  Crash safety is the commit protocol of
``recover_spark/sources/atomic.py``: the ``_applied_batch_id`` marker
swaps in atomically with the counts it describes, so foreachBatch
replays are no-ops and a mid-swap crash heals on the next run.

Scale shape: per batch, one map-side bin pass + one (column, bin)
aggregate (bins x columns rows — metadata-sized state), one state
swap.  The baseline is never re-read after the freeze.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recover_spark.functions.local import write_arrow_table
from recover_spark.quality.drift import (
    binned_counts_against_edges,
    category_counts,
    pooled_category_counts,
    psi_from_binned_counts,
    psi_from_categorical_counts,
    quantile_edge_row,
    top_category_bins,
)
from recover_spark.sources.atomic import (
    commit_dir,
    heal_swap,
    replayed,
    write_text_atomic,
)

_META_NAME = "_drift_meta.json"


def freeze_drift_baseline(
    baseline: DataFrame,
    state_path: str,
    cols: Sequence[str],
    n_bins: int = 10,
    edge_accuracy: int | None = 10_000,
) -> dict:
    """One-time baseline pass: persist the bin edges (one row) and the
    baseline's binned counts under ``state_path``; both are frozen —
    the streaming side never touches the baseline again.  See
    quality/drift.py:quantile_edge_row for the edge_accuracy contract
    (approx by default; ``None`` = exact, bounded baselines only)."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    os.makedirs(state_path, exist_ok=True)
    edges_row = quantile_edge_row(baseline, cols, n_bins, edge_accuracy)
    edges_row.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_path, "edges")
    )
    spark = baseline.sparkSession
    frozen_edges = spark.read.parquet(os.path.join(state_path, "edges"))
    binned_counts_against_edges(
        baseline, frozen_edges, cols, "base"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_path, "baseline_counts")
    )
    meta = {"cols": cols, "n_bins": int(n_bins)}
    write_text_atomic(
        os.path.join(state_path, _META_NAME),
        json.dumps(meta, sort_keys=True),
    )
    return meta


def _read_meta(state_path: str) -> dict:
    with open(os.path.join(state_path, _META_NAME)) as fh:
        return json.load(fh)


def _resolve_cols(meta: dict, cols: Sequence[str] | None) -> list[str]:
    """Column subset for a read lens: ONE maintained state can serve
    monitors watching different column sets (the one-arrival-pipeline
    design taken to its conclusion — a consumer that cares about two
    of the three frozen columns reads just those, no second stream,
    no second state).  ``None`` keeps the historical read-everything
    behavior; a subset must be of the FROZEN columns — reading a
    column the baseline never binned is a contract error, not an
    empty result."""
    if cols is None:
        return list(meta["cols"])
    cols = list(cols)
    unknown = [c for c in cols if c not in meta["cols"]]
    if unknown:
        raise ValueError(
            f"cols not in frozen baseline {meta['cols']}: {unknown}"
        )
    return cols


def merge_drift_counts(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int | None = None,
) -> None:
    """Fold one batch's binned counts into the accumulating current-era
    state (``counts/`` under ``state_path``), idempotent per batch id
    via the batch-id marker."""
    meta = _read_meta(state_path)
    cols, n_bins = meta["cols"], meta["n_bins"]
    counts_path = os.path.join(state_path, "counts")
    if replayed(counts_path, batch_id):
        return
    edges_row = spark.read.parquet(os.path.join(state_path, "edges"))
    # The batch pass (data-sized) stays one Spark aggregate; its RESULT
    # is geometry-bounded — |cols| x (n_bins+1) integer rows — so the
    # state merge is driver-side metadata work (guide §5: the driver
    # does no DATA work; counters bounded by the frozen suite geometry
    # are not data).  This removes the per-batch prev-scan + shuffle +
    # committer round-trip the old union-and-rewrite plan paid; the
    # arithmetic is integer addition, bit-identical to the Spark fold.
    partial = binned_counts_against_edges(batch, edges_row, cols, "cur")
    acc: dict[tuple, int] = {
        (r["column"], int(r["bin"])): int(r["n_cur"])
        for r in partial.collect()
    }
    import pyarrow as pa
    import pyarrow.parquet as pq

    if Path(counts_path).exists():
        prev = pq.read_table(counts_path)  # '_'-prefixed sidecars skipped
        for c, b, n in zip(
            prev.column("column").to_pylist(),
            prev.column("bin").to_pylist(),
            prev.column("n_cur").to_pylist(),
        ):
            k = (c, int(b))
            acc[k] = acc.get(k, 0) + int(n)
    rows = sorted(acc.items())
    table = pa.table(
        {
            "column": [k[0] for k, _ in rows],
            "bin": pa.array([k[1] for k, _ in rows], type=pa.int32()),
            "n_cur": pa.array([n for _, n in rows], type=pa.int64()),
        }
    )
    commit_dir(
        counts_path, lambda tmp: write_arrow_table(table, tmp), batch_id
    )


def maintain_drift_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
):
    """One availableNow increment of the drift monitor: every unseen
    input file is binned against the frozen baseline edges and folded
    into the count state.  Requires ``freeze_drift_baseline`` to have
    run.  Returns the StreamingQuery."""
    spark = stream.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_drift_counts(spark, batch, state_path, batch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_drift_psi(
    spark: SparkSession,
    state_path: str,
    eps: float = 1e-4,
    round_digits: int = 6,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Current PSI per column from the frozen baseline counts and the
    accumulated current-era counts — equal to the batch
    ``psi_drift(baseline, union of arrived batches)`` by count
    additivity.  Before any batch arrives, the current era is empty:
    every current share clamps to eps and the PSI reflects that
    degenerate comparison (callers gate on arrival if they need to).
    ``cols`` restricts the read to a subset of the frozen columns
    (see :func:`_resolve_cols`)."""
    meta = _read_meta(state_path)
    cols, n_bins = _resolve_cols(meta, cols), meta["n_bins"]
    base = spark.read.parquet(os.path.join(state_path, "baseline_counts"))
    counts_path = os.path.join(state_path, "counts")
    heal_swap(counts_path)
    if Path(counts_path).exists():
        cur = spark.read.parquet(counts_path)
    else:
        cur = spark.createDataFrame(
            [], "column string, bin int, n_cur long"
        )
    return psi_from_binned_counts(
        base, cur, cols, n_bins, eps, round_digits
    ).orderBy("column")


# -- categorical twin ---------------------------------------------------------

_CAT_META_NAME = "_drift_cat_meta.json"


def freeze_categorical_baseline(
    baseline: DataFrame,
    state_path: str,
    cols: Sequence[str],
    top_k: int = 20,
) -> dict:
    """One-time baseline pass for the CATEGORICAL monitor: persist the
    frozen bin definition (the baseline's top-k categories per column,
    quality/drift.py:top_category_bins) and the baseline's pooled
    counts.  Arriving categories the baseline never saw pool into
    ``__other`` — the enum-rename failure stays visible on the
    streaming path exactly as on the batch one."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    os.makedirs(state_path, exist_ok=True)
    base_counts = category_counts(baseline, cols, "base")
    top = top_category_bins(base_counts, top_k).localCheckpoint(eager=True)
    top.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_path, "cat_bins")
    )
    pooled_category_counts(base_counts, top, "base").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(state_path, "cat_baseline_counts"))
    meta = {"cols": cols, "top_k": int(top_k)}
    write_text_atomic(
        os.path.join(state_path, _CAT_META_NAME),
        json.dumps(meta, sort_keys=True),
    )
    return meta


def _read_cat_meta(state_path: str) -> dict:
    with open(os.path.join(state_path, _CAT_META_NAME)) as fh:
        return json.load(fh)


def merge_categorical_drift_counts(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int | None = None,
) -> None:
    """Fold one batch's pooled category counts into the accumulating
    state (``cat_counts/``), idempotent per batch id via the batch-id
    marker.  Pooled counts are additive, so the accumulated table
    equals the batch pooling of the union exactly."""
    meta = _read_cat_meta(state_path)
    cols = meta["cols"]
    counts_path = os.path.join(state_path, "cat_counts")
    if replayed(counts_path, batch_id):
        return
    top = spark.read.parquet(os.path.join(state_path, "cat_bins"))
    partial = pooled_category_counts(
        category_counts(batch, cols, "cur"), top, "cur"
    )
    if Path(counts_path).exists():
        prev = spark.read.parquet(counts_path)
        merged = (
            prev.unionByName(partial)
            .groupBy("column", "bin")
            .agg(F.sum("n_cur").alias("n_cur"))
        )
    else:
        merged = partial
    commit_dir(counts_path, merged.coalesce(1).write.parquet, batch_id)


def maintain_categorical_drift_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
):
    """availableNow increment of the categorical drift monitor.
    Requires ``freeze_categorical_baseline``."""
    spark = stream.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_categorical_drift_counts(spark, batch, state_path, batch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_categorical_drift_psi(
    spark: SparkSession,
    state_path: str,
    eps: float = 1e-4,
    round_digits: int = 6,
) -> DataFrame:
    """Current categorical PSI per column — equal to the batch
    ``psi_drift_categorical(baseline, union of batches)`` by pooled-
    count additivity."""
    meta = _read_cat_meta(state_path)
    cols, top_k = meta["cols"], meta["top_k"]
    top = spark.read.parquet(os.path.join(state_path, "cat_bins"))
    base = spark.read.parquet(
        os.path.join(state_path, "cat_baseline_counts")
    )
    counts_path = os.path.join(state_path, "cat_counts")
    heal_swap(counts_path)
    if Path(counts_path).exists():
        cur = spark.read.parquet(counts_path)
    else:
        cur = spark.createDataFrame([], "column string, bin string, n_cur long")
    return psi_from_categorical_counts(
        base, cur, top, cols, top_k, eps, round_digits
    ).orderBy("column")


def _current_counts(spark: SparkSession, state_path: str) -> DataFrame:
    """Accumulated current-era binned counts (empty frame before any
    batch arrives) — shared by every numeric read-side."""
    counts_path = os.path.join(state_path, "counts")
    heal_swap(counts_path)
    if Path(counts_path).exists():
        return spark.read.parquet(counts_path)
    return spark.createDataFrame([], "column string, bin int, n_cur long")


def read_drift_ks(
    spark: SparkSession,
    state_path: str,
    round_digits: int = 6,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Grid-KS per column from the SAME frozen-baseline/accumulated-
    counts state :func:`read_drift_psi` reads — no extra stream, no
    extra state.  The statistic stays integer (cross-multiplied
    cumulative counts over the bounded bins frame) until one final
    division, so the streamed value is BIT-IDENTICAL to batch binning
    of the union — by count additivity plus integer arithmetic —
    not merely close.  Before any batch arrives the current side is
    empty and KS is NULL (the family's degenerate-side contract)."""
    from recover_spark.quality.drift import ks_grid_from_binned_counts

    meta = _read_meta(state_path)
    cols, n_bins = _resolve_cols(meta, cols), meta["n_bins"]
    base = spark.read.parquet(os.path.join(state_path, "baseline_counts"))
    return ks_grid_from_binned_counts(
        base, _current_counts(spark, state_path), cols, n_bins, round_digits
    ).orderBy("column")


def read_drift_js(
    spark: SparkSession,
    state_path: str,
    round_digits: int = 6,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Jensen-Shannon divergence + Hellinger distance per column from
    the same state as :func:`read_drift_psi` — the bounded [0, 1]
    companions whose thresholds transfer across columns (PSI's clamp
    saturates on empty bins).  Shares are computed once at read time
    from exact integer counts, so the streamed value equals batch
    binning of the union up to the one shared share-division."""
    from recover_spark.quality.drift import js_from_binned_counts

    meta = _read_meta(state_path)
    cols, n_bins = _resolve_cols(meta, cols), meta["n_bins"]
    base = spark.read.parquet(os.path.join(state_path, "baseline_counts"))
    return js_from_binned_counts(
        base, _current_counts(spark, state_path), cols, n_bins, round_digits
    ).orderBy("column")


def read_drift_chi2(
    spark: SparkSession,
    state_path: str,
    round_digits: int = 6,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Two-sample chi-squared per column from the SAME frozen-baseline
    / accumulated-counts state — the FIFTH read-side lens on the one
    arrival pipeline (PSI, KS, JS/Hellinger, W1, now chi2): a new
    statistic costs one metadata-sized fold, never a new stream.
    Counts accumulate additively across batches, so the streamed
    effect sizes equal batch binning of the union (integer counts in,
    one shared division out)."""
    from recover_spark.quality.drift import chi2_from_binned_counts

    meta = _read_meta(state_path)
    cols, n_bins = _resolve_cols(meta, cols), meta["n_bins"]
    base = spark.read.parquet(os.path.join(state_path, "baseline_counts"))
    return chi2_from_binned_counts(
        base, _current_counts(spark, state_path), cols, n_bins, round_digits
    ).orderBy("column")


def read_drift_wasserstein(
    spark: SparkSession,
    state_path: str,
    round_digits: int = 6,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Grid-Wasserstein per column from the SAME frozen-baseline /
    accumulated-counts state every numeric read-side shares — no
    extra stream, no extra state.  KS reads the SUP of the CDF gap,
    this reads its MEAN (unit-bin metric, normalized to [0, 1]); the
    statistic stays in cross-multiplied cumulative counts until one
    final division, so the streamed value is bit-identical to batch
    binning of the union (count additivity — the grid-KS contract).
    Before any batch arrives the current side is empty and the value
    is NULL (degenerate-side contract)."""
    from recover_spark.quality.drift import (
        wasserstein_grid_from_binned_counts,
    )

    meta = _read_meta(state_path)
    cols, n_bins = _resolve_cols(meta, cols), meta["n_bins"]
    base = spark.read.parquet(os.path.join(state_path, "baseline_counts"))
    return wasserstein_grid_from_binned_counts(
        base, _current_counts(spark, state_path), cols, n_bins, round_digits
    ).orderBy("column")


def read_drift_cvm(
    spark: SparkSession,
    state_path: str,
    round_digits: int = 6,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Grid Cramér–von Mises per column from the SAME frozen-baseline
    / accumulated-counts state every numeric read-side shares — the
    mean-SQUARE lens next to KS's sup and W1's mean.  Per-bin and
    cumulative counts are both integer-additive across batches, so
    the streamed value is bit-identical to batch binning of the
    union (the grid-KS contract).  Empty current side -> NULL."""
    from recover_spark.quality.drift import cvm_grid_from_binned_counts

    meta = _read_meta(state_path)
    cols, n_bins = _resolve_cols(meta, cols), meta["n_bins"]
    base = spark.read.parquet(os.path.join(state_path, "baseline_counts"))
    return cvm_grid_from_binned_counts(
        base, _current_counts(spark, state_path), cols, n_bins, round_digits
    ).orderBy("column")
