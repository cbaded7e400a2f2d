"""Incrementally-maintained keyed aggregates (streaming materialized
view).

The reference recomputes its count ledgers per weekly run
(json_to_parquet.py:481-489); at 100 TB a full recompute per run is the
dominant cost, so the scale path is incremental maintenance: each
micro-batch contributes a PARTIAL aggregate (mergeable: counts/sums),
merged into a persisted state table inside ``foreachBatch``.

Exactly-once composition: the file-source checkpoint guarantees each
input file is assigned to exactly one batch id, and every merge commits
through the one crash-safe protocol in ``recover_spark/sources/atomic.py``
(heal -> replay guard -> write tmp -> batch-id marker -> two renames):
``replayed(state_path, batch_id)`` skips a batch the state already
holds, and ``commit_dir(state_path, write, batch_id)`` swaps in the
next generation with its marker.  foreachBatch is at-least-once: a
crash after the swap but before the checkpoint commit replays the
batch, which the marker then skips instead of double-counting, so
replays after a crash converge to the same state (SURVEY.md §2.9).
The drift, expectation and corpus-dedup states use the same helpers.

A state that grows with the data's keys folds in one Spark plan (the
batch partial unioned with the previous state and re-aggregated), so
it is never collected to the driver.  Only states bounded by their
configuration fold on the driver: the |cols|^2 correlation pairs
here, the frozen drift bins and the suite counters.

Only mergeable aggregates are supported (count/sum/min/max); avg is
derived (sum/count) at read time, never stored.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recover_spark.functions.local import write_arrow_table
from recover_spark.sources.atomic import commit_dir, heal_swap, replayed


def merge_counts(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    value_col: str | None = None,
    batch_id: int | None = None,
) -> None:
    """Merge one batch's partial (count [, sum]) into the state table.

    The merge reads the previous state, unions the batch partials, and
    re-aggregates — the union+sum of partials equals the aggregate over
    all rows seen (mergeability), so state size stays O(distinct keys)
    no matter how many batches have run.

    When ``batch_id`` is given (foreachBatch), a batch whose id is <=
    the persisted last-applied id is a crash replay and is skipped —
    this is what upgrades at-least-once foreachBatch to effectively-once.
    """
    if replayed(state_path, batch_id):
        return
    keys = list(key_cols)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
    partial = batch.groupBy(*keys).agg(*aggs)

    if Path(state_path).exists():
        prev = spark.read.parquet(state_path)
        merge_aggs = [F.sum("n_rows").alias("n_rows")]
        if value_col is not None:
            merge_aggs.append(
                F.sum(f"sum_{value_col}").alias(f"sum_{value_col}")
            )
        merged = prev.unionByName(partial).groupBy(*keys).agg(*merge_aggs)
    else:
        merged = partial

    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_count_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    value_col: str | None = None,
):
    """Run one availableNow increment of the materialized view.

    Returns the StreamingQuery; each run processes only files the
    checkpoint has not seen and folds them into ``state_path``.
    """
    spark = stream.sparkSession
    keys = list(key_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_counts(spark, batch, state_path, keys, value_col, batch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def maintain_cm_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    value_col: str,
    depth: int = 4,
    width: int = 256,
):
    """availableNow increment of the count-min matview — incremental
    point-FREQUENCY estimation (the sketch-family member between the
    Misra-Gries top-k and the HLL distincts): sketch cells are PLAIN
    COUNTERS on (key_cols, row, col), so the state rides
    :func:`merge_counts` unchanged — union + re-aggregate partials,
    batch-id replay guard, crash-safe generation swap — and merge is
    exactly associative/commutative by construction.  Cell layout and
    hashes come from ops/cmsketch.py, so the streamed state answers
    point queries identically to a one-shot batch build (stream ==
    batch, pinned in tests)."""
    from recover_spark.ops.cmsketch import cm_cell

    spark = stream.sparkSession
    keys = list(key_cols)
    d, w = int(depth), int(width)
    # constant per maintain call — build the cell expressions once,
    # not once per micro-batch (the _corr_expr_bundle convention)
    v = F.col(value_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                cm_cell(v, i, w).alias("col"),
            )
            for i in range(d)
        ]
    )
    explode_cells = F.explode(cells).alias("c")
    cell_select = [
        F.col("c.row").alias("row"),
        F.col("c.col").alias("col"),
    ]

    def _merge(batch: DataFrame, batch_id: int) -> None:
        exploded = (
            batch.filter(v.isNotNull())
            .select(*keys, explode_cells)
            .select(*keys, *cell_select)
        )
        merge_counts(
            spark, exploded, state_path, [*keys, "row", "col"], None,
            batch_id,
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_cm_matview(
    spark: SparkSession,
    state_path: str,
    queries: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates from the persisted sketch state for
    a batch of query keys (min over the depth rows, absent cells 0)."""
    from recover_spark.ops.cmsketch import cm_estimate

    heal_swap(state_path)
    state = spark.read.parquet(state_path)
    return cm_estimate(
        state, queries, key_cols, value_col, depth, width,
        count_col="n_rows",
    )


def merge_distinct_sketches(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    distinct_col: str,
    lg_k: int = 12,
    batch_id: int | None = None,
) -> None:
    """Merge one batch's per-key HLL sketches into the state table —
    incremental APPROX COUNT DISTINCT, the aggregate plain counters
    cannot maintain (distinct partials are not summable; sketches are).

    State stores the binary sketch per key (fixed ~2^lg_k bytes), so
    state size is O(keys), not O(distinct values).  HLL register merge
    is associative AND idempotent (registers are maxima), so a crash
    replay would converge even without the batch-id sidecar; the
    sidecar still skips the wasted work.
    """
    if replayed(state_path, batch_id):
        return
    keys = list(key_cols)
    partial = batch.groupBy(*keys).agg(
        F.hll_sketch_agg(distinct_col, F.lit(int(lg_k))).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )

    if Path(state_path).exists():
        prev = spark.read.parquet(state_path)
        merged = (
            prev.unionByName(partial)
            .groupBy(*keys)
            .agg(
                F.hll_union_agg(F.col("sketch")).alias("sketch"),
                F.sum("n_rows").alias("n_rows"),
            )
        )
    else:
        merged = partial

    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_distinct_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    distinct_col: str,
    lg_k: int = 12,
):
    """availableNow increment of the approx-distinct materialized view."""
    spark = stream.sparkSession
    keys = list(key_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_distinct_sketches(
            spark, batch, state_path, keys, distinct_col, lg_k, batch_id
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_distinct_matview(spark: SparkSession, state_path: str) -> DataFrame:
    """Materialize the estimates from the persisted sketch state."""
    heal_swap(state_path)
    return spark.read.parquet(state_path).select(
        "*",
        F.round(F.hll_sketch_estimate(F.col("sketch")))
        .cast("bigint")
        .alias("approx_distinct"),
    ).drop("sketch")


def merge_topk_summary(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    capacity: int = 4096,
    batch_id: int | None = None,
) -> None:
    """Fold one batch into a BOUNDED frequent-items state (streaming
    top-k over an open key domain).

    ``merge_counts`` keeps one row per distinct key — unbounded when
    the keys are URLs/user agents/raw strings.  This view instead keeps
    a Misra-Gries summary of at most ``capacity`` counters, merged per
    batch with the summary-merge rule from Agarwal et al., "Mergeable
    Summaries": sum matching counters, and if more than ``capacity``
    keys remain, subtract the (capacity+1)-th largest weight from all
    and drop the non-positives.  Stored weights are LOWER bounds; the
    total undercount across the whole stream is at most
    N/(capacity+1), so every key with true share above 1/(capacity+1)
    is guaranteed present with a near-exact weight.

    Scale shape: the micro-batch aggregates exactly (bounded by batch
    size, map-side partials), the state contributes <= capacity rows,
    and the trim threshold is read from a ``capacity+1``-row bounded
    TakeOrdered — never an unbounded collect.  Crash-safety is the same
    rename-aside swap + batch-id sidecar as ``merge_counts``.
    """
    if replayed(state_path, batch_id):
        return
    keys = list(key_cols)
    partial = batch.groupBy(*keys).agg(F.count(F.lit(1)).alias("weight"))

    if Path(state_path).exists():
        prev = spark.read.parquet(state_path)
        merged = (
            prev.unionByName(partial)
            .groupBy(*keys)
            .agg(F.sum("weight").alias("weight"))
        )
    else:
        merged = partial

    order = [F.col("weight").desc()] + [F.col(k).asc() for k in keys]
    head = merged.orderBy(*order).limit(capacity + 1).collect()
    if len(head) > capacity:
        # MG trim: subtract the smallest retained weight from everyone
        threshold = head[-1]["weight"]
        merged = merged.select(
            *keys, (F.col("weight") - F.lit(threshold)).alias("weight")
        ).filter(F.col("weight") > 0)

    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_topk_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    capacity: int = 4096,
):
    """availableNow increment of the bounded frequent-items view."""
    spark = stream.sparkSession
    keys = list(key_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_topk_summary(
            spark, batch, state_path, keys, capacity, batch_id
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_topk_matview(
    spark: SparkSession, state_path: str, top_n: int = 10
) -> DataFrame:
    """Current top-N from the bounded summary (weights = lower bounds,
    deterministic tie-break weight desc / keys asc)."""
    heal_swap(state_path)
    state = spark.read.parquet(state_path)
    keys = [c for c in state.columns if c != "weight"]
    order = [F.col("weight").desc()] + [F.col(k).asc() for k in keys]
    return state.orderBy(*order).limit(top_n)


def merge_quantile_sketches(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 200,
    batch_id: int | None = None,
) -> None:
    """Merge one batch's per-key KLL quantile sketches into the state
    table — incremental APPROX PERCENTILE, the third aggregate family
    plain counters cannot maintain (quantile partials are not
    summable; KLL sketches merge associatively with a proven rank
    error ~1.65% at k=200, Karnin-Lang-Liberty FOCS'16).

    State stores the compact binary sketch per key (O(k log n) bytes),
    so state size is O(keys), independent of value count.  UNLIKE the
    HLL register merge, a KLL merge is NOT idempotent — replaying an
    already-applied batch would double-count its values — so the
    batch-id sidecar is load-bearing for exactly-once here, not just a
    work-skip; combined with the crash-safe state swap the view
    converges under at-least-once replay.

    Everything is JVM-side (Spark 4.1 built-in Datasketches KLL
    aggregates): no Python, no UDF, map-side partial sketches before
    the key shuffle.
    """
    if replayed(state_path, batch_id):
        return
    keys = list(key_cols)
    partial = batch.groupBy(*keys).agg(
        F.kll_sketch_agg_double(
            F.col(value_col).cast("double"), F.lit(int(k))
        ).alias("sketch"),
        F.count(value_col).alias("n_rows"),
    )

    if Path(state_path).exists():
        prev = spark.read.parquet(state_path)
        merged = (
            prev.unionByName(partial)
            .groupBy(*keys)
            .agg(
                F.kll_merge_agg_double(F.col("sketch"), F.lit(int(k))).alias(
                    "sketch"
                ),
                F.sum("n_rows").alias("n_rows"),
            )
        )
    else:
        merged = partial

    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_quantile_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 200,
):
    """availableNow increment of the approx-quantile materialized view."""
    spark = stream.sparkSession
    keys = list(key_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_quantile_sketches(
            spark, batch, state_path, keys, value_col, k, batch_id
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_quantile_matview(
    spark: SparkSession,
    state_path: str,
    ranks: Sequence[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Materialize per-key quantile estimates from the sketch state."""
    heal_swap(state_path)
    df = spark.read.parquet(state_path)
    cols = [c for c in df.columns if c != "sketch"]
    for r in ranks:
        df = df.withColumn(
            f"p{str(r).replace('0.', '').ljust(2, '0')}",
            F.kll_sketch_get_quantile_double("sketch", F.lit(float(r))),
        )
    return df.drop("sketch")


@lru_cache(maxsize=64)
def _corr_expr_bundle(cols: tuple):
    """Constant Column expressions for ``merge_corr_moments``, cached
    per column tuple.  Driver-side py4j expression construction was
    ~60% of every per-batch merge wall at bench scale (0.8 of 1.3 s,
    measured), and the expressions depend only on ``cols`` — build
    them once, reuse across the 4+ batches of every maintain run.
    Column objects are unresolved expression trees, not bound to any
    DataFrame or session, so reuse cannot change a plan."""
    aggs = []
    names = []
    for i, a in enumerate(cols):
        for j, b in enumerate(cols[i:], start=i):
            tag = f"{i}_{j}"
            ca = F.col(a).cast("double")
            cb = F.col(b).cast("double")
            both = ca.isNotNull() & cb.isNotNull()
            am, bm = F.when(both, ca), F.when(both, cb)
            aggs += [
                F.count(am).alias(f"__n_{tag}"),
                F.avg(am).alias(f"__ma_{tag}"),
                F.avg(bm).alias(f"__mb_{tag}"),
                (F.coalesce(F.var_pop(am), F.lit(0.0)) * F.count(am)).alias(
                    f"__m2a_{tag}"
                ),
                (F.coalesce(F.var_pop(bm), F.lit(0.0)) * F.count(am)).alias(
                    f"__m2b_{tag}"
                ),
                (
                    F.coalesce(F.covar_pop(am, bm), F.lit(0.0))
                    * F.count(am)
                ).alias(f"__c_{tag}"),
            ]
            names.append((a, b, tag))
    explode_col = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col(f"__n_{tag}").alias("n"),
                    F.col(f"__ma_{tag}").alias("mean_a"),
                    F.col(f"__mb_{tag}").alias("mean_b"),
                    F.col(f"__m2a_{tag}").alias("m2a"),
                    F.col(f"__m2b_{tag}").alias("m2b"),
                    F.col(f"__c_{tag}").alias("cab"),
                )
                for a, b, tag in names
            ]
        )
    ).alias("__r")
    return aggs, explode_col


def merge_corr_moments(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    cols: Sequence[str],
    batch_id: int | None = None,
) -> None:
    """Fold one batch into a pairwise second-moment state — the
    correlation/covariance matview increment.

    Correlation partials are not naively summable (raw sum-of-products
    accumulation cancels catastrophically when means are large), but
    CENTERED moments merge exactly via the Chan et al. parallel
    update:

        n   = nA + nB,   d = meanB - meanA
        mean' = meanA + d * nB / n
        M2'   = M2A + M2B + d^2      * nA*nB/n
        Cab'  = CA  + CB + d_a * d_b * nA*nB/n

    Per batch: ONE scan computes every pair's (n, means, M2s, C) with
    pairwise-complete null masking (the same contract as
    ``operators/analytics.py:correlation_matrix``); the state holds
    one row per unordered pair — bounded by |cols|^2, metadata-sized —
    and the merge applies the formulas per pair on the driver.
    Crash-safe via the shared sidecar swap; replay of an applied
    batch id is a no-op.
    """
    if replayed(state_path, batch_id):
        return
    cols = list(cols)
    if len(set(cols)) != len(cols):
        raise ValueError(f"merge_corr_moments: duplicate columns in {cols}")
    aggs, explode_col = _corr_expr_bundle(tuple(cols))
    partial = (
        batch.agg(*aggs)
        .select(explode_col)
        .select("__r.*")
        .filter(F.col("n") > 0)
    )
    # The batch pass (data-sized) stays one Spark aggregate; the state
    # is bounded at |cols|^2 pair rows whatever the data, so the Chan
    # merge runs driver-side (the merge_drift_counts pattern).  An
    # empty side has weight 0, so the formulas degrade exactly to the
    # other side.
    import pyarrow as pa
    import pyarrow.parquet as pq

    vcols = ("n", "mean_a", "mean_b", "m2a", "m2b", "cab")
    acc: dict[tuple, list] = {
        (r["col_a"], r["col_b"]): [r[c] for c in vcols]
        for r in partial.collect()
    }
    if Path(state_path).exists():
        prev = pq.read_table(state_path)  # '_'-prefixed sidecars skipped
        pc = {c: prev.column(c).to_pylist() for c in prev.column_names}
        for i in range(prev.num_rows):
            kk = (pc["col_a"][i], pc["col_b"][i])
            cur = acc.get(kk)
            if cur is None:
                acc[kk] = [pc[c][i] for c in vcols]
                continue
            nA = float(pc["n"][i] or 0)
            nB = float(cur[0] or 0)
            n = nA + nB
            mA_a = float(pc["mean_a"][i] or 0.0)
            mB_a = float(cur[1] or 0.0)
            mA_b = float(pc["mean_b"][i] or 0.0)
            mB_b = float(cur[2] or 0.0)
            d_a = mB_a - mA_a
            d_b = mB_b - mA_b
            w = nA * nB / n if n > 0 else 0.0
            acc[kk] = [
                int(nA + nB),
                (mA_a + d_a * nB / n) if n > 0 else None,
                (mA_b + d_b * nB / n) if n > 0 else None,
                float(pc["m2a"][i] or 0.0) + float(cur[3] or 0.0)
                + d_a * d_a * w,
                float(pc["m2b"][i] or 0.0) + float(cur[4] or 0.0)
                + d_b * d_b * w,
                float(pc["cab"][i] or 0.0) + float(cur[5] or 0.0)
                + d_a * d_b * w,
            ]
    rows = sorted(acc.items())
    cols_out: dict = {
        "col_a": [kk[0] for kk, _ in rows],
        "col_b": [kk[1] for kk, _ in rows],
        "n": pa.array([int(v[0]) for _, v in rows], type=pa.int64()),
    }
    for j, c in enumerate(vcols[1:], start=1):
        cols_out[c] = pa.array(
            [v[j] for _, v in rows], type=pa.float64()
        )
    table = pa.table(cols_out)
    commit_dir(
        state_path, lambda tmp: write_arrow_table(table, tmp), batch_id
    )


def maintain_corr_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    cols: Sequence[str],
):
    """availableNow increments of the pairwise-correlation matview."""
    spark = stream.sparkSession
    cols = list(cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_corr_moments(spark, batch, state_path, cols, batch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_corr_matview(spark: SparkSession, state_path: str) -> DataFrame:
    """Materialize correlations/covariances from the moment state:
    corr = C / sqrt(M2a * M2b), cov_samp = C / (n - 1); degenerate
    pairs (zero variance, n < 2) surface as NULL via try_divide."""
    heal_swap(state_path)
    st = spark.read.parquet(state_path)
    return st.select(
        "col_a",
        "col_b",
        "n",
        F.try_divide(
            F.col("cab"), F.sqrt(F.col("m2a") * F.col("m2b"))
        ).alias("corr"),
        F.try_divide(F.col("cab"), (F.col("n") - 1).cast("double")).alias(
            "cov_samp"
        ),
    )


def merge_calibration_state(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    group_cols: Sequence[str],
    score_col: str,
    label_col: str,
    bins: int,
    batch_id: int | None = None,
) -> None:
    """Merge one batch's (group, bin) calibration sums into state.

    The bin sums (n, sum score, sum label, sum squared error) are all
    mergeable, so union + re-aggregate over partials equals the
    aggregate over everything seen — the same contract as
    ``merge_counts``, with the same batch-id idempotence sidecar.
    The binning expression is ``ops/classifier_eval._binned`` itself,
    so stream and batch can never disagree on bin boundaries.
    """
    from recover_spark.ops.classifier_eval import _binned

    if replayed(state_path, batch_id):
        return
    keys = list(group_cols)
    partial = _binned(
        batch, keys, score_col, label_col, bins, "calibration_matview"
    )
    merged = partial
    if Path(state_path).exists():
        prev = spark.read.parquet(state_path)
        merged = (
            prev.unionByName(partial)
            .groupBy(*keys, "bin")
            .agg(
                F.sum("n_bin").cast("long").alias("n_bin"),
                F.sum("__ss").alias("__ss"),
                F.sum("__sy").alias("__sy"),
                F.sum("__sq").alias("__sq"),
            )
        )
    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_calibration_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    group_cols: Sequence[str],
    score_col: str,
    label_col: str,
    bins: int = 10,
):
    """Incrementally-maintained classifier-calibration view: each
    micro-batch folds its (group, bin) score/label sums into persisted
    state, and the read side serves the reliability diagram AND the
    calibration scalars (brier/ece/base_rate) from the SAME state —
    calibration-on-arrival for a scoring pipeline, with no full
    rescan of history (the drift-matview design applied to the
    classifier-eval family)."""
    spark = stream.sparkSession
    keys = list(group_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_calibration_state(
            spark, batch, state_path, keys, score_col, label_col,
            bins, batch_id,
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_calibration_matview(
    spark: SparkSession,
    state_path: str,
    group_cols: Sequence[str],
    round_digits: int = 6,
) -> DataFrame:
    """Calibration scalars from the binned state — the identical
    bins-sized fold the batch operator runs
    (``ops/classifier_eval.fold_calibration_summary``), so the
    streamed view equals batch calibration over the union of all
    batches (counts are integer-additive; the score sums merge
    commutatively and every exposed statistic is a bin-ratio, magnitude
    <= 1, where 6-decimal rounding is stable by the sum-magnitude
    rule)."""
    from recover_spark.ops.classifier_eval import fold_calibration_summary

    heal_swap(state_path)
    st = spark.read.parquet(state_path)
    return fold_calibration_summary(st, list(group_cols), round_digits)


def read_reliability_matview(
    spark: SparkSession,
    state_path: str,
    group_cols: Sequence[str],
    round_digits: int = 6,
) -> DataFrame:
    """Reliability diagram from the same binned state — second lens,
    zero extra state (the four-lens drift-matview lesson)."""
    from recover_spark.ops.classifier_eval import fold_reliability

    heal_swap(state_path)
    st = spark.read.parquet(state_path)
    return fold_reliability(st, list(group_cols), round_digits)


def read_auc_matview(
    spark: SparkSession,
    state_path: str,
    group_cols: Sequence[str],
    round_digits: int = 6,
) -> DataFrame:
    """BINNED ROC-AUC from the calibration state — third lens, zero
    extra state: each score bin is a tie block (every score inside a
    bin ranks equal), so the tie-block Mann-Whitney identity over the
    ordered bins gives the EXACT AUC of the quantized scores —

        AUC_binned = sum over bins of pos_b*(cum_neg_below + neg_b/2)
                     / (P * N)

    — which converges to raw-score AUC as bins grow and is an exact,
    deterministic statistic of the state either way (documented
    contract: this is the AUC of scores quantized to the view's bins,
    not of raw scores — the streaming trade the calibration family
    already makes).  The fold is a window + aggregate over the
    bins-sized state frame; degenerate groups yield NULL via
    ``try_divide``."""
    from pyspark.sql import Window

    heal_swap(state_path)
    keys = list(group_cols)
    st = spark.read.parquet(state_path).select(
        *keys,
        "bin",
        (F.col("__sy")).alias("__pos"),
        (F.col("n_bin").cast("double") - F.col("__sy")).alias("__neg"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = st.withColumn(
        "__cnb", F.coalesce(F.sum("__neg").over(w), F.lit(0.0))
    )
    agg = scored.groupBy(*keys).agg(
        F.sum("__pos").cast("long").alias("n_pos"),
        F.sum("__neg").cast("long").alias("n_neg"),
        F.sum(
            F.col("__pos")
            * (F.col("__cnb") + F.lit(0.5) * F.col("__neg"))
        ).alias("__u"),
    )
    auc = F.try_divide(
        F.col("__u"),
        F.col("n_pos").cast("double") * F.col("n_neg").cast("double"),
    )
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        F.round(auc + F.lit(1e-9), round_digits).alias("auc_binned"),
    )


def merge_heartbeat_state(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    batch_id: int | None = None,
) -> None:
    """Merge one batch's per-key (last_seen, n_rows) into state — max
    and count are both mergeable, so the union + re-aggregate over
    partials equals the aggregate over everything seen (the
    ``merge_counts`` contract with the same batch-id sidecar)."""
    if replayed(state_path, batch_id):
        return
    keys = list(key_cols)
    partial = (
        batch.filter(F.col(ts_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.max(F.col(ts_col)).alias("last_seen"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )
    merged = partial
    if Path(state_path).exists():
        prev = spark.read.parquet(state_path)
        merged = (
            prev.unionByName(partial)
            .groupBy(*keys)
            .agg(
                F.max("last_seen").alias("last_seen"),
                F.sum("n_rows").cast("long").alias("n_rows"),
            )
        )
    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_heartbeat_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    ts_col: str = "ts",
):
    """Incrementally-maintained per-key HEARTBEAT view: who has been
    seen, when last, how often — the live complement to
    ``operators/temporal.gap_detect`` (that one audits history; this
    one answers "which sensors are dark RIGHT NOW" from key-sized
    state, no history rescan)."""
    spark = stream.sparkSession
    keys = list(key_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_heartbeat_state(
            spark, batch, state_path, keys, ts_col, batch_id
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_heartbeat_matview(
    spark: SparkSession,
    state_path: str,
    stale_after_s: int,
) -> DataFrame:
    """Staleness report from the heartbeat state: a key is STALE when
    its last_seen lags the newest observation ANYWHERE by more than
    ``stale_after_s`` — the frontier is the data's own high-water mark
    (one-row broadcast), not the wall clock, so the report is a
    deterministic function of the state (replayable, testable, and
    meaningful on backfills where "now" is wrong by construction)."""
    heal_swap(state_path)
    st = spark.read.parquet(state_path)
    frontier = st.agg(F.max("last_seen").alias("__frontier"))
    out = st.crossJoin(F.broadcast(frontier))
    lag_s = (
        F.unix_micros(F.col("__frontier"))
        - F.unix_micros(F.col("last_seen"))
    ) / F.lit(1_000_000.0)
    return out.select(
        *[c for c in st.columns if c not in ("last_seen", "n_rows")],
        F.col("last_seen"),
        F.col("n_rows"),
        F.round(lag_s, 6).alias("lag_seconds"),
        (lag_s > F.lit(float(stale_after_s))).alias("is_stale"),
    )


def merge_upsert_state(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    batch_id: int | None = None,
) -> None:
    """Merge one change batch into a keyed latest-state snapshot —
    the streaming MERGE INTO: per key, the row with the highest
    ``order_cols`` across everything ever seen wins (the W1 latest-
    record rule applied incrementally).

    ``order_cols`` MUST form a total order per key (append a unique
    id — change sequence number, event id — as the final tiebreaker,
    the same contract :func:`~recover_spark.operators.merge.scd2_build`
    documents): with ties left in, ``row_number`` picks an arbitrary
    winner, and ONLY under that uniqueness requirement is latest-wins
    commutative and idempotent — a crash replay that re-merges a
    batch then converges to the same state even WITHOUT the batch
    marker (the marker still short-circuits the no-op rewrite).  With
    ties, replays can flip the persisted row (round-9 advice).
    State stays O(distinct keys); each merge is one union + one
    keyed WindowGroupLimit dedup (map-side top-1), swapped in with
    the crash-safe two-rename generation protocol shared by every
    matview.  Late or out-of-order changes can never regress state:
    an older record loses the order comparison against what is
    already persisted.
    """
    from pyspark.sql import Window

    if replayed(state_path, batch_id):
        return
    keys = list(key_cols)
    order = list(order_cols)

    fresh = batch
    if Path(state_path).exists():
        fresh = spark.read.parquet(state_path).unionByName(batch)
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order]
    )
    merged = (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_upsert_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
):
    """Run one availableNow increment of the keyed latest-state
    snapshot (the CDC-upsert materialized view).  Returns the
    StreamingQuery."""
    spark = stream.sparkSession
    keys = list(key_cols)
    order = list(order_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_upsert_state(spark, batch, state_path, keys, order, batch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_upsert_matview(spark: SparkSession, state_path: str) -> DataFrame:
    """Current latest-state snapshot (empty-schema-free: callers know
    their own schema; before any batch this raises like any missing
    parquet read — the matview family's read-side contract is that
    maintain ran at least once)."""
    heal_swap(state_path)
    return spark.read.parquet(state_path)


@lru_cache(maxsize=64)
def _vector_expr_bundle(vec_col: str, dim: int):
    """Constant Column expressions for ``merge_vector_sums`` (the
    ``_corr_expr_bundle`` convention): at dim=64 the two agg lists are
    ~130 driver-side py4j expression constructions per batch — built
    once per (vec_col, dim) instead."""
    v = F.col(vec_col)
    partial_aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[F.sum(v[i].cast("double")).alias(f"s{i}") for i in range(dim)],
    ]
    merge_aggs = [
        F.sum("n_rows").cast("long").alias("n_rows"),
        *[F.sum(f"s{i}").alias(f"s{i}") for i in range(dim)],
    ]
    return partial_aggs, merge_aggs


def merge_vector_sums(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    vec_col: str,
    dim: int,
    batch_id: int | None = None,
) -> None:
    """Merge one batch's per-key vector SUMS (+ row count) into state —
    the mergeable sufficient statistic for any centroid lens: sums add
    across batches exactly, so the folded state equals one aggregate
    over all rows seen, and state size stays O(keys x dim) forever.
    Same crash-replay contract as ``merge_counts`` (batch-id marker
    travels inside the atomically-swapped state dir)."""
    if replayed(state_path, batch_id):
        return
    keys = list(key_cols)
    partial_aggs, merge_aggs = _vector_expr_bundle(vec_col, int(dim))
    partial = batch.groupBy(*keys).agg(*partial_aggs)
    merged = partial
    if Path(state_path).exists():
        prev = spark.read.parquet(state_path)
        merged = prev.unionByName(partial).groupBy(*keys).agg(*merge_aggs)
    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_vector_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    vec_col: str,
    dim: int,
):
    """One availableNow increment of the per-key vector-sum view."""
    spark = stream.sparkSession
    keys = list(key_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_vector_sums(
            spark, batch, state_path, keys, vec_col, dim, batch_id
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_embedding_drift_matview(
    spark: SparkSession,
    state_path: str,
    group_col: str,
    era_col: str,
    dim: int,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-drift report from the vector-sum state: per group the
    cosine between the two eras' centroids (sums/n) plus the norm
    ratio — the STREAMING twin of
    ``ops/clustering.embedding_centroid_drift``; because the state
    carries exact mergeable sums, the read equals the batch operator
    over the union of all batches (maintenance is invisible, the
    matview contract)."""
    heal_swap(state_path)
    st = spark.read.parquet(state_path)
    nd = F.col("n_rows").cast("double")
    cent = st.select(
        F.col(group_col),
        F.col(era_col),
        F.col("n_rows"),
        *[(F.col(f"s{i}") / nd).alias(f"__c{i}") for i in range(dim)],
    )
    base = cent.filter(F.col(era_col) == 0).select(
        F.col(group_col),
        F.col("n_rows").alias("n_base"),
        *[F.col(f"__c{i}").alias(f"__a{i}") for i in range(dim)],
    )
    cur = cent.filter(F.col(era_col) == 1).select(
        F.col(group_col),
        F.col("n_rows").alias("n_cur"),
        *[F.col(f"__c{i}").alias(f"__b{i}") for i in range(dim)],
    )
    j = base.join(cur, group_col)
    dot = sum(
        (F.col(f"__a{i}") * F.col(f"__b{i}") for i in range(dim)),
        F.lit(0.0),
    )
    na = F.sqrt(
        sum((F.col(f"__a{i}") * F.col(f"__a{i}") for i in range(dim)),
            F.lit(0.0))
    )
    nb = F.sqrt(
        sum((F.col(f"__b{i}") * F.col(f"__b{i}") for i in range(dim)),
            F.lit(0.0))
    )
    return j.select(
        group_col,
        "n_base",
        "n_cur",
        F.round(
            F.try_divide(dot, na * nb) + F.lit(1e-9), round_digits
        ).alias("centroid_cosine"),
        F.round(
            F.try_divide(nb, na) + F.lit(1e-9), round_digits
        ).alias("norm_ratio"),
    ).orderBy(group_col)


# ---------------------------------------------------------------------------
# Bottom-k deterministic sample matview (payload-carrying KMV sketch)
# ---------------------------------------------------------------------------

def merge_sample_state(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    payload_col: str,
    k: int = 16,
    salt: str = "bksample",
    batch_id: int | None = None,
) -> None:
    """Fold one batch into a per-key BOTTOM-K uniform sample state —
    the streaming twin of ``ops/kmv.py``: the sketch members carry
    their payloads, so the state is simultaneously a KMV distinct
    sketch AND a uniform random sample of each key's distinct payloads
    ("show me 8 example events per type, kept current as the stream
    grows", the reservoir-sample ask with none of reservoir sampling's
    merge problems).

    Membership = the k smallest 60-bit portable hashes of the payload
    (``functions/hashing.py:portable_hash64``).  min-k on a fixed hash
    is associative, commutative AND idempotent, so merge order, batch
    boundaries, and crash replays cannot change the converged state —
    unlike classic reservoir sampling, whose RNG state makes merges
    order-dependent.  Everything is deterministic: an external SQL
    oracle reproduces sample membership BIT-FOR-BIT (no tolerance
    flag).

    State is rows (keys..., h, payload), at most k per key — O(keys)
    total, independent of stream length.  The micro-batch contributes
    its own bottom-k partial first (a rank-filter over the bounded
    batch), so the union never exceeds prev-k + batch-k rows per key.
    """
    from pyspark.sql import Window

    from recover_spark.functions.hashing import portable_hash64

    if replayed(state_path, batch_id):
        return
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy("h")
    partial = (
        batch.filter(F.col(payload_col).isNotNull())
        .select(
            *keys, F.col(payload_col).cast("string").alias("payload")
        )
        .withColumn("h", portable_hash64(F.col("payload"), salt=salt))
        .dropDuplicates(keys + ["h"])
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )

    merged = partial
    if Path(state_path).exists():
        merged = (
            spark.read.parquet(state_path)
            .unionByName(partial)
            .dropDuplicates(keys + ["h"])
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_sample_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    payload_col: str,
    k: int = 16,
    salt: str = "bksample",
):
    """availableNow increment of the bottom-k sample view."""
    spark = stream.sparkSession
    keys = list(key_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_sample_state(
            spark, batch, state_path, keys, payload_col, k, salt,
            batch_id,
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_sample_matview(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Current per-key sample, ranked by hash order (rank 1 = smallest
    hash — the member every correct replay agrees on first)."""
    from pyspark.sql import Window

    heal_swap(state_path)
    state = spark.read.parquet(state_path)
    keys = [c for c in state.columns if c not in ("h", "payload")]
    w = Window.partitionBy(*keys).orderBy("h")
    return state.withColumn("rank", F.row_number().over(w))


def read_sample_overlap(
    spark: SparkSession,
    state_path: str,
    key_col: str,
    k: int,
    max_groups: int = 1024,
) -> DataFrame:
    """Pairwise set-operation estimates straight from the streamed
    bottom-k state: the per-key hash arrays ARE KMV sketches (the
    payload just rides along), so union / intersection / Jaccard
    between any two keys' streamed member sets come from the same
    estimators as the batch operator (ops/kmv.py) with NO rescan of
    the stream's history — the set-expression read lens of the
    distinct-sketch family.

    By min-k mergeability the streamed sketch equals the one-shot
    batch sketch over the same rows, so estimates are deterministic
    and an external oracle reproduces them exactly.
    """
    from recover_spark.ops.kmv import kmv_pairwise_overlap

    heal_swap(state_path)
    state = spark.read.parquet(state_path)
    sk = state.groupBy(key_col).agg(
        F.array_sort(F.collect_list("h")).alias("kmv")
    )
    return kmv_pairwise_overlap(sk, key_col, k=k, max_groups=max_groups)


def read_isotonic_matview(
    spark: SparkSession,
    state_path: str,
    group_cols: Sequence[str],
    round_digits: int = 6,
) -> DataFrame:
    """Isotonic (PAV) calibration FITTED over the streamed binned
    state — the calibration family's fixer lens beside the
    reliability/brier/AUC diagnostics, zero extra state (the four-lens
    drift-matview lesson): the (group, bin) label sums are exactly the
    cells PAV consumes, so the streamed fit equals the batch fit on
    the same binning (ops/classifier_eval.isotonic_fit_cells)."""
    from recover_spark.ops.classifier_eval import isotonic_fit_cells

    heal_swap(state_path)
    st = spark.read.parquet(state_path)
    cells = st.select(
        *group_cols,
        F.col("bin").alias("__score"),
        F.col("__sy").cast("long").alias("__pos"),
        F.col("n_bin").alias("__n"),
    )
    return isotonic_fit_cells(cells, list(group_cols), round_digits)


def merge_bootstrap_state(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    value_col: str,
    row_key_col: str,
    n_replicates: int,
    salt: str = "boot",
    batch_id: int | None = None,
) -> None:
    """Fold one batch's Poisson-bootstrap replicate partials into the
    state table.  The state is (keys, replicate) -> (weighted sum,
    weight, exact sum, count) — PLAIN SUMS (operators/analytics.py:
    bootstrap_replicate_partials), so union + re-sum over partials
    equals the one-shot aggregate over all rows seen: the streamed
    CI equals the batch CI up to float merge order, with state
    bounded at (distinct keys x n_replicates) regardless of rows.
    Same effectively-once batch-id sidecar as merge_counts.
    """
    from recover_spark.operators.analytics import (
        bootstrap_replicate_partials,
    )

    if replayed(state_path, batch_id):
        return
    keys = list(key_cols)
    # The replicate fan-out is n_replicates x the batch's rows of
    # MAP-side work, so unlike the counter matviews this merge is
    # compute-bound before its first shuffle — and a micro-batch's
    # parallelism is whatever the source's file splits gave it (often
    # ONE task for a one-file trigger).  Re-split thin batches so the
    # fan-out uses the machine; measured at the 10x gate: the merge
    # was ~10x wall on 1-split batches, ~2x after (work is 10x, cores
    # absorb it).  No-op when the source already has enough splits.
    par = batch.sparkSession.sparkContext.defaultParallelism
    if batch.rdd.getNumPartitions() < max(2, par // 4):
        batch = batch.repartition(par)
    partial = bootstrap_replicate_partials(
        batch, keys, value_col, row_key_col, n_replicates, salt
    )
    if Path(state_path).exists():
        prev = spark.read.parquet(state_path)
        partial = (
            prev.unionByName(partial)
            .groupBy(*keys, "__rep")
            .agg(
                F.sum("__ws").alias("__ws"),
                F.sum("__wn").alias("__wn"),
                F.sum("__s").alias("__s"),
                F.sum("__c").alias("__c"),
            )
        )
    commit_dir(state_path, partial.write.parquet, batch_id)


def maintain_bootstrap_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    value_col: str,
    row_key_col: str,
    n_replicates: int = 40,
    salt: str = "boot",
):
    """availableNow increment of the bootstrap-CI materialized view."""
    spark = stream.sparkSession
    keys = list(key_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_bootstrap_state(
            spark,
            batch,
            state_path,
            keys,
            value_col,
            row_key_col,
            n_replicates,
            salt,
            batch_id,
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_bootstrap_matview(
    spark: SparkSession,
    state_path: str,
    key_cols: Sequence[str],
    n_replicates: int,
    alpha: float = 0.05,
    round_digits: int = 6,
) -> DataFrame:
    """Read lens: the percentile-bootstrap CI from the merged
    replicate state (operators/analytics.py:bootstrap_summarize) —
    a (keys x replicates)-sized computation, independent of how many
    rows ever streamed."""
    from recover_spark.operators.analytics import bootstrap_summarize

    heal_swap(state_path)
    state = spark.read.parquet(state_path)
    return bootstrap_summarize(
        state, list(key_cols), n_replicates, alpha, round_digits
    )


@lru_cache(maxsize=64)
def _sequence_expr_bundle(
    ts_col: str,
    type_col: str,
    alphabet_items: tuple,
    tiebreakers: tuple,
):
    """Constant Column expressions for ``merge_sequence_state`` (the
    ``_corr_expr_bundle`` convention): the alphabet map and event
    struct depend only on the column names and alphabet, so they are
    built once per configuration instead of once per micro-batch."""
    enc = F.element_at(
        F.create_map(
            *[x for t, ch in alphabet_items for x in (F.lit(t), F.lit(ch))]
        ),
        F.col(type_col),
    )
    ev = F.struct(
        F.col(ts_col).alias("__ts"),
        *[F.col(c).alias(f"__tb{i}") for i, c in enumerate(tiebreakers)],
        F.col("__ch").alias("__ch"),
    )
    return enc, ev


def merge_sequence_state(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    alphabet: dict[str, str],
    tiebreakers: Sequence[str] = (),
    batch_id: int | None = None,
    max_sequence: int = 100_000,
) -> None:
    """Merge one batch into per-key EVENT-SEQUENCE state — the
    incremental substrate for MATCH_RECOGNIZE-style row-pattern
    queries (operators/temporal.py:sequence_pattern_counts).

    State: one row per key carrying the array of (ts, tiebreakers,
    encoded char) structs seen so far plus n_events.  Events arrive in
    ANY order across batches (file splits are arbitrary), so the state
    stays an unordered mergeable multiset — flatten(collect_list) of
    array partials — and ordering is imposed once, at READ.  Unmapped
    event types raise at merge (group-level, the codegen-friendly
    guard); keys exceeding ``max_sequence`` raise rather than silently
    growing state (refuse-to-degrade).  Same crash-replay idempotence
    as every matview here (batch-id sidecar inside the atomic swap).
    """
    if replayed(state_path, batch_id):
        return
    enc, ev = _sequence_expr_bundle(
        ts_col, type_col, tuple(sorted(alphabet.items())),
        tuple(tiebreakers),
    )
    # Both guards ride the ONE state-write job at group level (the
    # sequence_pattern_counts codegen-friendly pattern): a separate
    # unmapped-probe collect would cost an extra job per micro-batch.
    partial = (
        batch.withColumn("__ch", enc)
        .groupBy(key_col)
        .agg(
            F.collect_list(ev).alias("events"),
            F.count(F.lit(1)).alias("n_events"),
            F.max(
                F.when(F.col("__ch").isNull(), F.col(type_col))
            ).alias("__unmapped"),
        )
        .select(
            key_col,
            F.when(
                F.col("__unmapped").isNotNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "merge_sequence_state: unmapped event type '"
                        ),
                        F.col("__unmapped"),
                        F.lit("' — extend the alphabet"),
                    )
                ),
            )
            .otherwise(F.col("events"))
            .alias("events"),
            "n_events",
        )
    )

    if Path(state_path).exists():
        prev = spark.read.parquet(state_path)
        merged = (
            prev.unionByName(partial)
            .groupBy(key_col)
            .agg(
                F.flatten(F.collect_list("events")).alias("events"),
                F.sum("n_events").alias("n_events"),
            )
        )
    else:
        merged = partial
    merged = merged.withColumn(
        "events",
        F.when(F.col("n_events") <= max_sequence, F.col("events")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "merge_sequence_state: key exceeds max_sequence="
                        f"{max_sequence} events ("
                    ),
                    F.col("n_events").cast("string"),
                    F.lit(") — session-window the stream first"),
                )
            )
        ),
    )
    commit_dir(state_path, merged.write.parquet, batch_id)


def maintain_pattern_matview(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    alphabet: dict[str, str],
    tiebreakers: Sequence[str] = (),
    max_sequence: int = 100_000,
):
    """Run one availableNow increment of the row-pattern sequence view."""
    spark = stream.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_sequence_state(
            spark,
            batch,
            state_path,
            key_col,
            ts_col,
            type_col,
            alphabet,
            tiebreakers,
            batch_id,
            max_sequence,
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_pattern_matview(
    spark: SparkSession,
    state_path: str,
    key_col: str,
    patterns: dict[str, str],
) -> DataFrame:
    """Read lens: order each key's accumulated event multiset ONCE
    (array_sort over the struct array — (ts, tiebreakers, char) field
    order gives the same total order as the batch operator), encode to
    the sequence string, and count every named pattern with
    non-overlapping regexp_count.  Per-key work is bounded by
    max_sequence; no history rescan — the state IS the sequences.
    Output matches operators/temporal.py:sequence_pattern_counts on
    the full data (maintenance must be invisible)."""
    if not patterns:
        raise ValueError("patterns must be non-empty")
    heal_swap(state_path)
    state = spark.read.parquet(state_path)
    seq = F.concat_ws(
        "", F.transform(F.array_sort(F.col("events")), lambda x: x["__ch"])
    )
    out_cols = [F.col(key_col), F.col("n_events")]
    for name, rx in patterns.items():
        out_cols.append(
            F.regexp_count(seq, F.lit(rx)).cast("bigint").alias(name)
        )
    return state.select(*out_cols)
