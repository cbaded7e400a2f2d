"""Custom stateful streaming operator: per-key sessionization.

The reference needs no stateful operators (replay + W1 dedup covers its
late-data story, SURVEY.md §2.9), but a training-data pipeline wants
session-style aggregation over event streams.  This implements it with
``applyInPandasWithState`` — the Structured Streaming escape hatch for
operators Spark's built-in windowed aggregations can't express (gap-based
sessions whose end time depends on the data).

Scale notes: state is partitioned by key (user_id), one state object per
key, and the timeout mechanism bounds state size — expired sessions are
emitted and dropped.  The same function works on a batch DataFrame via
``sessionize_batch`` (window-function formulation) so batch/stream parity
is testable without a streaming harness.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
STATE_SCHEMA = "start long, end long, n long, total double"


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessions over a stream via applyInPandasWithState.

    Emits a session row when no event for the key arrives within
    ``gap_seconds`` (processing-time timeout).

    Only a continuous (processing-time) or once trigger suits it: with
    a processing-time timeout Spark runs another no-data batch after
    every batch, so an ``availableNow`` run never terminates.
    """

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start, end, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        start = end = None
        n, total = 0, 0.0
        if state.exists:
            start, end, n, total = state.get
        for pdf in batches:
            ts_us = (pdf[ts_col].astype("int64") // 1000).tolist()
            for t, v in zip(ts_us, pdf[value_col].tolist()):
                if start is None:
                    start = end = t
                start, end = min(start, t), max(end, t)
                n += 1
                total += float(v or 0.0)
        state.update((start, end, n, total))
        state.setTimeoutDuration(gap_seconds * 1000)
        yield pd.DataFrame(
            columns=[
                "user_id",
                "session_start",
                "session_end",
                "n_events",
                "total_value",
            ]
        )

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def sessionize_batch(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Batch formulation of the same sessions (for parity testing and
    backfills): session boundaries where the gap to the previous event
    exceeds the threshold, then one aggregate per session id.

    Pure window functions — two shuffles (one per window + groupBy on
    the same key, so AQE reuses the partitioning).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    with_bound = events.withColumn(
        "__new_session",
        F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0),
    )
    with_sid = with_bound.withColumn(
        "__session_id", F.sum("__new_session").over(w)
    )
    return (
        with_sid.groupBy(key_col, "__session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .drop("__session_id")
    )
