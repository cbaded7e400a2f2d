"""Expectation suites ON ARRIVAL — V3 composed into the matview family.

The reference runs its Great-Expectations checkpoint as a batch job
over the finished parquet export
(src/glue/jobs/run_great_expectations_on_parquet.py:179-277).  The
operational form for arriving data is the same move the drift monitor
made (streaming/drift.py): freeze the SUITE once, fold each arriving
micro-batch's per-expectation counters into crash-safe sidecar state,
and read the current suite verdict at any time — data quality as a
live matview instead of an after-the-fact job.

Exactness: every per-row expectation run_suite compiles
(between / not-null / in-set / value-lengths / row-count) reduces to
(element_count, unexpected_count) integer counters, which are ADDITIVE
across batches, so after any number of batches

    read_expectations_matview(state) == run_suite(union of batches)

row for row (the success rule — the ``mostly`` ratio, the row-count
bounds — is applied once at read time over the exact summed
counters).  ``expect_column_to_exist`` is schema-grain and folds as an
AND.  ``expect_column_values_to_be_unique`` is the one non-mergeable
type (count-distinct needs key-sized state, not counter-sized):
``freeze_expectation_suite`` REFUSES it loudly — run the batch suite,
or track approximate distinctness with the KMV sketch family —
rather than silently keeping per-batch-only uniqueness.

Crash safety is the commit protocol of ``sources/atomic.py``
(``_applied_batch_id`` swaps in atomically with the counters it
describes; replays are no-ops).  Scale shape: per batch ONE aggregate
pass (the run_suite compilation), suite-sized state (a few rows), one
swap; the read is a driver-side fold of suite-sized metadata.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from recover_spark.functions.local import tiny_df, write_arrow_table
from recover_spark.quality.expectations import parse_suite, run_suite
from recover_spark.sources.atomic import (
    commit_dir,
    heal_swap,
    replayed,
    write_text_atomic,
)

_SUITE_NAME = "_suite.json"

_MERGEABLE = {
    "expect_column_to_exist",
    "expect_column_values_to_be_between",
    "expect_column_values_to_not_be_null",
    "expect_column_values_to_be_in_set",
    "expect_column_value_lengths_to_be_between",
    "expect_table_row_count_to_be_between",
}


def freeze_expectation_suite(state_path: str, suite) -> list:
    """One-time suite freeze: validate every expectation type is
    counter-mergeable and persist the spec under ``state_path``.
    Returns the parsed suite."""
    from recover_spark.quality.expectations import Expectation

    if isinstance(suite, list) and suite and isinstance(suite[0], Expectation):
        parsed = suite
    else:
        parsed = parse_suite(suite)
    bad = [e.expectation_type for e in parsed
           if e.expectation_type not in _MERGEABLE]
    if bad:
        raise ValueError(
            f"expectation types {sorted(set(bad))} are not "
            "counter-mergeable across micro-batches (uniqueness needs "
            "key-sized state, not integer counters) — run the batch "
            "suite (quality/expectations.py:run_suite) for them, or "
            "track distinctness approximately with the KMV sketch."
        )
    os.makedirs(state_path, exist_ok=True)
    spec = {
        "expectations": [
            {"expectation_type": e.expectation_type, "kwargs": e.kwargs}
            for e in parsed
        ]
    }
    write_text_atomic(
        os.path.join(state_path, _SUITE_NAME),
        json.dumps(spec, sort_keys=True),
    )
    return parsed


def _read_suite(state_path: str):
    with open(os.path.join(state_path, _SUITE_NAME)) as fh:
        return parse_suite(json.load(fh))


def merge_expectation_counts(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int | None = None,
) -> None:
    """Fold one batch's per-expectation counters into the accumulating
    state (``counts/``), idempotent per batch id via the batch-id
    marker.  The batch pass IS run_suite (one aggregate job); only
    its integer counters persist."""
    suite = _read_suite(state_path)
    counts_path = os.path.join(state_path, "counts")
    if replayed(counts_path, batch_id):
        return
    results = run_suite(batch, suite)
    # exists-type: n=0 and bad = 0/1 so the AND folds as sum(bad)==0
    acc: dict[int, list[int]] = {}
    for i, r in enumerate(results):
        if r.expectation_type == "expect_column_to_exist":
            acc[i] = [0, 0 if r.success else 1]
        else:
            acc[i] = [int(r.element_count), int(r.unexpected_count)]
    # run_suite already landed the batch's counters on the driver (ONE
    # aggregate job over the data); the accumulating state is bounded
    # by the frozen suite size, so the merge is driver-side metadata
    # work (guide §5) — integer addition, bit-identical to the old
    # createDataFrame + union + rewrite plan, minus its two extra
    # Spark jobs per micro-batch.
    import pyarrow as pa
    import pyarrow.parquet as pq

    if Path(counts_path).exists():
        prev = pq.read_table(counts_path)  # '_'-prefixed sidecars skipped
        for i, n, bad in zip(
            prev.column("idx").to_pylist(),
            prev.column("n").to_pylist(),
            prev.column("bad").to_pylist(),
        ):
            slot = acc.setdefault(int(i), [0, 0])
            slot[0] += int(n)
            slot[1] += int(bad)
    rows = sorted(acc.items())
    table = pa.table(
        {
            "idx": pa.array([i for i, _ in rows], type=pa.int32()),
            "n": pa.array([v[0] for _, v in rows], type=pa.int64()),
            "bad": pa.array([v[1] for _, v in rows], type=pa.int64()),
        }
    )
    commit_dir(
        counts_path, lambda tmp: write_arrow_table(table, tmp), batch_id
    )


def maintain_expectations_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
):
    """One availableNow increment of the quality monitor.  Requires
    ``freeze_expectation_suite``.  Returns the StreamingQuery."""
    spark = stream.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_expectation_counts(spark, batch, state_path, batch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_expectations_matview(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Current suite verdict from the accumulated counters — row for
    row equal to ``run_suite`` over the union of arrived batches.
    Success rules are applied once here, over exact summed integers:
    row-count bounds on the total, the ``mostly`` ratio for per-row
    types, the folded AND for exists.  Schema matches the batch
    ``v3_suite`` result frame."""
    suite = _read_suite(state_path)
    counts_path = os.path.join(state_path, "counts")
    heal_swap(counts_path)
    acc: dict[int, tuple[int, int]] = {}
    if Path(counts_path).exists():
        for r in spark.read.parquet(counts_path).collect():
            acc[int(r["idx"])] = (int(r["n"]), int(r["bad"]))
    rows = []
    for i, exp in enumerate(suite):
        n, bad = acc.get(i, (0, 0))
        col = exp.kwargs.get("column")
        if exp.expectation_type == "expect_column_to_exist":
            success, n, bad = bad == 0, 0, 0
        elif exp.expectation_type == "expect_table_row_count_to_be_between":
            lo = exp.kwargs.get("min_value")
            hi = exp.kwargs.get("max_value")
            success = (lo is None or n >= lo) and (hi is None or n <= hi)
        else:
            mostly = float(exp.kwargs.get("mostly", 1.0))
            success = (n == 0) or ((n - bad) / n >= mostly)
        rows.append((exp.expectation_type, col, bool(success), n, bad))
    return tiny_df(
        spark,
        rows,
        "expectation_type string, column_name string, success boolean, "
        "element_count long, unexpected_count long",
    )
