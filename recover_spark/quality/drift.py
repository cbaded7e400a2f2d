"""Distribution-drift detection between dataset versions (PSI).

The reference's pipeline re-ingests vendor exports weekly and its
audits compare COUNTS between runs (A1/A6,
src/glue/jobs/compare_parquet_datasets.py) — but a wearable vendor's
firmware update that shifts every heart-rate reading by 5% changes no
row count and no schema.  The standard production monitor for that
failure is the Population Stability Index: bucket the BASELINE
distribution into equal-population quantile bins, measure how the new
version's mass redistributes across those same bins,
``PSI = sum((p_new - p_base) * ln(p_new / p_base))`` (the symmetrized
KL divergence of the binned distributions).  Rules of thumb: < 0.1
stable, 0.1-0.25 drifting, > 0.25 action.

Engine shape: ONE aggregate over the baseline computes every column's
quantile boundaries; the boundaries return as a one-row frame and
enter the bucketing expressions as a broadcast, so binning both sides
is map-side; per-bin counts are two aggregates.  Nothing iterates per
column — all columns ride the same jobs.

Edge estimation has two modes (``edge_accuracy``):

* **approx (default)** — ``approx_percentile`` with a configurable
  accuracy.  The aggregation buffer is O(accuracy) per column
  regardless of cardinality, so the one-row edge aggregate is safe on
  an unbounded high-cardinality baseline (the 100 TB shape).  PSI does
  not need exact quantile edges: any near-equal-population binning
  yields the same drift signal, and the sketch is deterministic for a
  fixed input.
* **exact (``edge_accuracy=None``)** — exact linear-interpolation
  ``percentile``.  Spark's exact percentile buffers every distinct
  (value, count) pair in one aggregation buffer, so this mode REQUIRES
  a bounded baseline (sample or filter first); it exists for
  cross-engine determinism — both Spark and the DuckDB oracle compute
  identical interpolated edges from the same sorted doubles.

Shares and PSI are rounded before comparison, and empty bins are
clamped (``max(share, eps)``) so the log stays finite — the clamp is
part of the published PSI definition, not a fudge.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recover_spark.functions.local import tiny_df


def quantile_edge_row(
    baseline: DataFrame,
    cols: Sequence[str],
    n_bins: int,
    edge_accuracy: int | None = 10_000,
) -> DataFrame:
    """One-row frame of every column's interior quantile edges
    (``__e_<col>``: array of n_bins-1 doubles, rounded to 9 digits).

    ``edge_accuracy=None`` uses exact linear-interpolation percentiles
    (cross-engine-deterministic; the baseline MUST be bounded — Spark's
    exact percentile buffers all distinct values in one aggregation
    buffer).  An int uses ``approx_percentile`` whose buffer is
    O(accuracy) per column — the unbounded-baseline default.

    Edges are ROUNDED to 9 digits before bucketing: interpolation at
    TIED values is formula-sensitive (lo + f*(up-lo) yields exactly
    lo when up == lo; (1-f)*lo + f*up yields lo plus an ulp), and an
    ulp-different edge re-bins every value equal to it.  Rounding
    collapses both forms to the same cutpoint.
    """
    fracs = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])

    def edge_agg(c: str):
        v = F.col(c).cast("double")
        if edge_accuracy is None:
            raw = F.percentile(v, fracs)
        else:
            raw = F.approx_percentile(v, fracs, F.lit(int(edge_accuracy)))
        return F.transform(raw, lambda e: F.round(e, 9)).alias(f"__e_{c}")

    return baseline.agg(*[edge_agg(c) for c in cols])


def binned_counts_against_edges(
    df: DataFrame,
    edges_row: DataFrame,
    cols: Sequence[str],
    tag: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-(``group_cols``..., column, bin) counts of ``df`` against a
    one-row edge frame.

    Bucket index = number of edges <= value; the edge frame broadcasts
    so binning is map-side, and all columns ride one aggregate.
    Reused by the streaming drift monitor, where ``edges_row`` is the
    frozen baseline metadata and ``df`` is an arriving micro-batch, and
    by ``ks_drift_by_period`` with the period as the group column.
    """
    group_cols = list(group_cols)
    j = df.crossJoin(F.broadcast(edges_row))
    per_col = []
    for c in cols:
        v = F.col(c).cast("double")
        idx = F.size(F.filter(F.col(f"__e_{c}"), lambda e: e <= v))
        per_col.append(
            F.when(v.isNotNull(), F.struct(F.lit(c).alias("column"), idx.alias("bin")))
        )
    exploded = j.select(
        *group_cols,
        F.explode(F.filter(F.array(*per_col), lambda s: s.isNotNull())).alias("cb"),
    ).select(*group_cols, "cb.column", "cb.bin")
    return exploded.groupBy(*group_cols, "column", "bin").agg(
        F.count(F.lit(1)).alias(f"n_{tag}")
    )


# ks_drift_by_period keeps the edge grid and the period domain as lazy
# subtrees (A/B'd at sf0.1, interleaved same-JVM medians): inlining
# either as literals (one small driver job each) LOSES — v9 0.90 s
# lazy/lazy vs 1.91/1.56/2.72 s for the inlined variants — because AQE
# exchange reuse already runs the redundant branches nearly free inside
# ONE fully-parallel job, while each collect is a SEQUENTIAL driver
# job.  Inlined edges pay only in chi2_cell_residuals
# (``_edge_binned_pair(inline_edges=True)``).


def _edges_literal_map(
    baseline: DataFrame,
    cols: Sequence[str],
    n_bins: int,
    edge_accuracy: int | None,
) -> dict[str, list[float]] | None:
    """Evaluate the quantile edge aggregate ONCE — a single small job
    whose result is |cols| arrays of n_bins-1 doubles — and return the
    edges as plain Python floats (r15, guide §2.4/§3): every batch
    drift lens previously embedded the edge AGGREGATE subtree in its
    plan, and Catalyst re-executes it in every consumer branch (16
    exact-percentile evaluations in one v17_fdr_bh plan).  Collected
    doubles round-trip exactly (repr-based transfer both ways), so
    re-emitting them as literals parses to the identical cutpoints
    and identical bins.  Returns None when any column's edge array is
    NULL/absent (empty or all-null baseline) — callers keep the lazy
    crossJoin path for that degenerate case so behavior is unchanged.
    """
    row = quantile_edge_row(baseline, cols, n_bins, edge_accuracy).head()
    out: dict[str, list[float]] = {}
    for c in cols:
        arr = row[f"__e_{c}"]
        if arr is None or any(x is None for x in arr):
            return None
        out[c] = [float(x) for x in arr]
    return out


def _literal_edges_sql(edges: list[float]) -> str:
    """One SQL array literal of exact doubles (the CAST('<repr>' AS
    DOUBLE) convention — repr round-trips bit-exactly)."""
    return (
        "array("
        + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in edges)
        + ")"
    )


def _binned_counts_literal(
    df: DataFrame,
    edges: dict[str, list[float]],
    cols: Sequence[str],
    tag: str,
) -> DataFrame:
    """``binned_counts_against_edges`` with the edge arrays inlined as
    literals instead of cross-joined from the one-row aggregate — the
    identical size(filter(...)) bucketing expressions over identical
    doubles, so counts are bit-equal; the plan just carries no edge
    subtree to re-execute per consumer branch."""
    per_col = []
    for c in cols:
        esc = c.replace("`", "``")
        v = F.col(c).cast("double")
        idx = F.expr(
            f"size(filter({_literal_edges_sql(edges[c])}, "
            f"e -> e <= CAST(`{esc}` AS DOUBLE)))"
        )
        per_col.append(
            F.when(v.isNotNull(), F.struct(F.lit(c).alias("column"), idx.alias("bin")))
        )
    exploded = df.select(
        F.explode(F.filter(F.array(*per_col), lambda s: s.isNotNull())).alias("cb")
    ).select("cb.column", "cb.bin")
    return exploded.groupBy("column", "bin").agg(F.count(F.lit(1)).alias(f"n_{tag}"))


def _edge_binned_pair(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    n_bins: int,
    edge_accuracy: int | None,
    inline_edges: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of every batch drift lens: bin both eras
    against the baseline's quantile edges.

    ``inline_edges=True`` evaluates the edge aggregate ONCE (a small
    driver job) and inlines the cutpoints as literals (see
    ``_edges_literal_map``) — bit-identical bins, no edge subtree in
    the plan.  Measured policy (r15): the split pays ONLY where the
    plan re-executes the edge aggregate beyond what AQE exchange
    reuse recovers (chi2_cell_residuals: 4.24 -> 3.06 s at sf0.1);
    for the single-branch lenses (psi/js/w1/chi2/cvm) the one fused
    job runs the redundant subtrees concurrently on idle cores, and
    splitting it into two SEQUENTIAL jobs roughly DOUBLED their wall
    (v5 0.96 -> 1.88 s) — the same lesson as r14's rejected
    collect-the-bounded-stages attempt, so they keep the lazy
    crossJoin form.  The degenerate empty/all-null baseline always
    keeps the lazy form (same NULL-propagating bins as ever)."""
    edges = (
        _edges_literal_map(baseline, cols, n_bins, edge_accuracy)
        if inline_edges
        else None
    )
    if edges is None:
        edges_row = quantile_edge_row(baseline, cols, n_bins, edge_accuracy)
        return (
            binned_counts_against_edges(baseline, edges_row, cols, "base"),
            binned_counts_against_edges(current, edges_row, cols, "cur"),
        )
    return (
        _binned_counts_literal(baseline, edges, cols, "base"),
        _binned_counts_literal(current, edges, cols, "cur"),
    )


def psi_drift(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    n_bins: int = 10,
    eps: float = 1e-4,
    round_digits: int = 6,
    edge_accuracy: int | None = 10_000,
) -> DataFrame:
    """Per-column PSI of ``current`` against ``baseline``.

    Returns one row per column: (column, psi, n_bins) with psi rounded.
    Bins are the baseline's ``n_bins``-quantile intervals (left edge
    -inf, right edge +inf), so the baseline's own PSI is ~0 by
    construction.  NULLs are excluded from both sides (a null-rate
    check belongs to the expectation suite, V1-V3).

    ``edge_accuracy`` picks the edge-estimation mode (see module
    docstring): the default approx sketch is safe on unbounded
    baselines; ``None`` gives exact interpolated edges for
    cross-engine comparison and requires a bounded baseline.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    base_counts, cur_counts = _edge_binned_pair(
        baseline, current, cols, n_bins, edge_accuracy
    )
    return psi_from_binned_counts(
        base_counts, cur_counts, cols, n_bins, eps, round_digits
    )


def psi_from_binned_counts(
    base_counts: DataFrame,
    cur_counts: DataFrame,
    cols: Sequence[str],
    n_bins: int,
    eps: float = 1e-4,
    round_digits: int = 6,
) -> DataFrame:
    """PSI from already-binned per-(column, bin) count tables —
    the shared tail of ``psi_drift`` and the streaming drift monitor
    (whose counts accumulate incrementally but, being additive, equal
    the batch binning of the union exactly)."""
    cols = list(cols)
    # all (column, bin) slots so empty bins are present for the clamp
    slots = (
        tiny_df(
            base_counts.sparkSession,
            [(c, b) for c in cols for b in range(n_bins)],
            "column string, bin int",
        )
    )
    joined = (
        slots.join(base_counts, ["column", "bin"], "left")
        .join(cur_counts, ["column", "bin"], "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    tot = joined.groupBy("column").agg(
        F.sum("n_base").alias("__tb"), F.sum("n_cur").alias("__tc")
    )
    # try_divide + the final gate: an empty base or current era yields
    # NULL psi (the family's degenerate-side contract, same as
    # ks_drift / js_drift) instead of an ANSI DIVIDE_BY_ZERO.  The
    # greatest(...) clamp must not see the NULL share directly —
    # Spark's greatest ignores NULLs, which would silently clamp a
    # missing side to eps.  The gate totals travel as max() AGGREGATES,
    # never as grouping keys: grouping on aggregate-derived columns
    # measured a 3x whole-query regression (Catalyst stops reusing the
    # upstream binning subtree).
    shares = joined.join(tot, "column").select(
        "column",
        "bin",
        "__tb",
        "__tc",
        F.greatest(
            F.try_divide(F.col("n_base"), F.col("__tb")), F.lit(eps)
        ).alias("pb"),
        F.greatest(
            F.try_divide(F.col("n_cur"), F.col("__tc")), F.lit(eps)
        ).alias("pc"),
    )
    ok = (F.col("__mtb") > 0) & (F.col("__mtc") > 0)
    return (
        shares.groupBy("column")
        .agg(
            F.round(
                F.sum((F.col("pc") - F.col("pb")) * F.log(F.col("pc") / F.col("pb"))),
                round_digits,
            ).alias("__psi"),
            F.max("__tb").alias("__mtb"),
            F.max("__tc").alias("__mtc"),
        )
        .select(
            "column",
            F.when(ok, F.col("__psi")).alias("psi"),
            F.lit(n_bins).alias("n_bins"),
        )
    )


def psi_drift_categorical(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    top_k: int = 20,
    eps: float = 1e-4,
    round_digits: int = 6,
) -> DataFrame:
    """PSI for CATEGORICAL columns: each of the baseline's ``top_k``
    categories is its own bin (deterministic membership: count desc,
    value asc), everything else — including categories the baseline
    never saw — pools into ``__other``.  New-category drift therefore
    lands in the ``__other`` bin instead of being silently invisible,
    which is exactly the "vendor renamed an enum value" failure.

    Same clamp/round contract as the numeric ``psi_drift``; no
    quantile interpolation anywhere, so no tied-value hazard.  Shape:
    one baseline aggregate for the top-k sets (category tables are
    vocabulary-sized), two binned-count aggregates, all map-side
    partials.  NULL is treated as a category of its own (drift in
    null-rate is drift).
    """
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    base_counts = category_counts(baseline, cols, "base")
    top = top_category_bins(base_counts, top_k)
    cur_counts = category_counts(current, cols, "cur")
    return psi_from_categorical_counts(
        pooled_category_counts(base_counts, top, "base"),
        pooled_category_counts(cur_counts, top, "cur"),
        top,
        cols,
        top_k,
        eps,
        round_digits,
    )


def category_counts(df: DataFrame, cols: Sequence[str], tag: str) -> DataFrame:
    """(column, cat, n_<tag>) with NULL folded into its own category."""
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.coalesce(F.col(c).cast("string"), F.lit("__null")).alias("cat"),
        )
        for c in cols
    ]
    return (
        df.select(F.explode(F.array(*per_col)).alias("cc"))
        .select("cc.column", "cc.cat")
        .groupBy("column", "cat")
        .agg(F.count(F.lit(1)).alias(f"n_{tag}"))
    )


def top_category_bins(base_counts: DataFrame, top_k: int) -> DataFrame:
    """The baseline's top-k categories per column (deterministic
    membership: count desc, value asc) — the frozen bin definition."""
    from pyspark.sql import Window

    w = Window.partitionBy("column").orderBy(F.desc("n_base"), F.asc("cat"))
    return (
        base_counts.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= top_k)
        .select("column", "cat")
    )


def pooled_category_counts(
    cnts: DataFrame, top: DataFrame, tag: str
) -> DataFrame:
    """Pool category counts into the frozen bins: top-k categories keep
    their own bin, everything else — including categories the baseline
    never saw — lands in ``__other``."""
    j = cnts.join(
        top.withColumn("__keep", F.lit(True)), ["column", "cat"], "left"
    )
    return (
        j.select(
            "column",
            F.when(F.col("__keep"), F.col("cat"))
            .otherwise(F.lit("__other"))
            .alias("bin"),
            F.col(f"n_{tag}"),
        )
        .groupBy("column", "bin")
        .agg(F.sum(f"n_{tag}").alias(f"n_{tag}"))
    )


def psi_from_categorical_counts(
    base_pooled: DataFrame,
    cur_pooled: DataFrame,
    top: DataFrame,
    cols: Sequence[str],
    top_k: int,
    eps: float = 1e-4,
    round_digits: int = 6,
) -> DataFrame:
    """PSI from pooled categorical count tables — the shared tail of
    ``psi_drift_categorical`` and its streaming twin (pooled counts
    are additive across batches)."""
    spark = base_pooled.sparkSession
    slots = top.select("column", F.col("cat").alias("bin")).unionByName(
        tiny_df(
            spark, [(c, "__other") for c in cols], "column string, bin string"
        )
    )
    joined = (
        slots.join(base_pooled, ["column", "bin"], "left")
        .join(cur_pooled, ["column", "bin"], "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    tot = joined.groupBy("column").agg(
        F.sum("n_base").alias("__tb"), F.sum("n_cur").alias("__tc")
    )
    shares = joined.join(tot, "column").select(
        "column",
        F.greatest(F.col("n_base") / F.col("__tb"), F.lit(eps)).alias("pb"),
        F.greatest(F.col("n_cur") / F.col("__tc"), F.lit(eps)).alias("pc"),
    )
    return shares.groupBy("column").agg(
        F.round(
            F.sum((F.col("pc") - F.col("pb")) * F.log(F.col("pc") / F.col("pb"))),
            round_digits,
        ).alias("psi"),
        F.lit(top_k).alias("top_k"),
    )


def ks_drift(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    round_digits: int = 6,
    buckets: int = 64,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift per column:
    ``ks = sup_x |F_base(x) - F_cur(x)|`` over the empirical CDFs —
    the binning-free companion to PSI.  PSI answers "how did mass
    move between these quantile bins"; KS answers "how far apart are
    the distributions at their worst point" with no binning choice to
    defend, which makes it the standard two-sample test when the
    shift is a narrow spike a 10-bin PSI can average away.

    Scale shape — ONE pass per side regardless of column count: both
    sides melt to (column, value) rows map-side, one (column, value)
    aggregate collapses them to per-distinct-value counts, a per-column
    ``percentile_approx`` over that (already-collapsed) table yields
    bucket edges as a broadcast row set, and the global cumulative sums
    the ECDFs need decompose exactly like ``global_row_numbers`` —
    per-(column, bucket) window cumsums on one exchange, bucket offsets
    from a (columns x buckets)-row side frame broadcast back.  The
    single-partition ORDER-BY-everything window never happens; the
    result is identical to it (and the naive form is the test oracle).
    Both ECDFs step only at sample points, so the sup over distinct
    values IS the sup; edge placement affects balance, never the
    statistic.

    Cross-engine determinism: the max runs over the INTEGER quantity
    ``|cum_base * n_cur - cum_cur * n_base|`` (exact in any engine);
    only the winner is divided by ``n_base * n_cur`` and rounded —
    one double op on identical integers, so the oracle matches
    bit-for-bit.
    """
    from pyspark.sql import Window

    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")

    def melt(df: DataFrame, a: int, b: int) -> DataFrame:
        stacked = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(c).cast("double").alias("__v"),
                        )
                        for c in cols
                    ]
                )
            ).alias("__m")
        )
        return stacked.select(
            F.col("__m.column").alias("column"),
            F.col("__m.__v").alias("__v"),
            F.lit(a).alias("__a"),
            F.lit(b).alias("__b"),
        ).filter(F.col("__v").isNotNull())

    counts = (
        melt(baseline, 1, 0)
        .unionByName(melt(current, 0, 1))
        .groupBy("column", "__v")
        .agg(F.sum("__a").alias("__na"), F.sum("__b").alias("__nb"))
    )
    # counts feeds FOUR consumers (edge estimation, bucketing, the
    # per-bucket totals, the grand totals); exchange reuse does not
    # fire across the pruned branches, so pin the distinct-value
    # aggregate once instead of re-melting the inputs per branch —
    # the same diamond (and fix) as bm25_topk's materialize_tf.
    # Measured: 3.6 s -> 2.6 s at sf0.1 on three lineitem columns
    # (the remainder is the one melt+aggregate pass plus the bucketed
    # cumsum windows, each now executed exactly once).
    counts = counts.localCheckpoint(eager=False)
    probs = F.array(*[F.lit(i / buckets) for i in range(1, buckets)])
    edges = counts.groupBy("column").agg(
        F.percentile_approx("__v", probs, F.lit(10_000)).alias("__edges")
    )
    bucketed = counts.join(F.broadcast(edges), "column").withColumn(
        "__bucket",
        F.size(F.filter("__edges", lambda e: e < F.col("__v"))),
    )
    w_cum = Window.partitionBy("column", "__bucket").orderBy(
        "__v"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        bucketed.withColumn("__ca", F.sum("__na").over(w_cum))
        .withColumn("__cb", F.sum("__nb").over(w_cum))
    )
    # bucket totals/offsets come from a bounded (columns x buckets)
    # aggregate over the bucketed counts — NOT from window totals on
    # the ranked frame, which would recompute the heavy cumsum
    # subtree through the offsets branch
    per_bucket = bucketed.groupBy("column", "__bucket").agg(
        F.sum("__na").alias("__ta"), F.sum("__nb").alias("__tb")
    )
    w_off = Window.partitionBy("column").orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        per_bucket
        .withColumn("__oa", F.coalesce(F.sum("__ta").over(w_off), F.lit(0)))
        .withColumn("__ob", F.coalesce(F.sum("__tb").over(w_off), F.lit(0)))
        .select("column", "__bucket", "__oa", "__ob")
    )
    totals = counts.groupBy("column").agg(
        F.sum("__na").alias("__N_a"), F.sum("__nb").alias("__N_b")
    )
    scored = (
        ranked.join(F.broadcast(offsets), ["column", "__bucket"])
        .join(F.broadcast(totals), "column")
        .select(
            "column",
            # cross-multiply in double: int64 overflows when both eras
            # exceed ~3e9 rows (see ks_grid_from_binned_counts)
            F.abs(
                (F.col("__oa") + F.col("__ca")).cast("double")
                * F.col("__N_b").cast("double")
                - (F.col("__ob") + F.col("__cb")).cast("double")
                * F.col("__N_a").cast("double")
            ).alias("__d"),
            "__N_a",
            "__N_b",
        )
    )
    # the totals travel as max() AGGREGATES, not grouping keys:
    # grouping on aggregate-derived columns measured a ~3x whole-query
    # regression (Catalyst stops reusing the upstream subtree; same
    # finding as psi_from_binned_counts)
    return (
        scored.groupBy("column")
        .agg(
            F.max("__d").alias("__dmax"),
            F.max("__N_a").alias("__na"),
            F.max("__N_b").alias("__nb"),
        )
        .select(
            "column",
            # try_divide: an empty baseline or current side gives
            # N_a*N_b == 0 — surface NULL as the degenerate-case
            # contract (matching ks_drift_by_period) instead of an
            # ANSI DIVIDE_BY_ZERO
            F.round(
                F.try_divide(
                    F.col("__dmax"),
                    F.col("__na").cast("double")
                    * F.col("__nb").cast("double"),
                ),
                round_digits,
            ).alias("ks"),
            F.col("__na").alias("n_base"),
            F.col("__nb").alias("n_cur"),
        )
    )


def ks_drift_by_period(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    period_col: str,
    n_grid: int = 20,
    edge_accuracy: int | None = 10_000,
    round_digits: int = 6,
) -> DataFrame:
    """WHEN did it drift: a per-period KS series — for every value of
    ``period_col`` in ``current`` (week, month, export era), the
    KS-style sup-distance between that period's distribution and the
    frozen baseline, evaluated on the baseline's ``n_grid``-quantile
    grid.

    The exact two-sample ``ks_drift`` answers "how far apart are these
    two samples"; the operational question after an alert is usually
    "which week moved".  Evaluating every period against the full
    exact ECDF would replicate the baseline's distinct values per
    period; instead both sides bin ONCE against the baseline's
    broadcast quantile edges (the PSI machinery —
    ``quantile_edge_row`` / map-side bucketing), cumulative sums run
    over the bounded (periods x columns x grid) frame, and the
    statistic is the grid-restricted sup

        ks_grid = max_i |F_base(g_i^-) - F_period(g_i^-)|

    which lower-bounds the true KS with resolution error at most the
    largest single bin's mass (~1/n_grid on the baseline by
    construction).  Integer arithmetic until one final division, same
    cross-engine contract as ``ks_drift``.  Empty (period, bin) cells
    are dense-filled with zeros so cumulative sums stay aligned.

    Returns one row per (period, column): (period, column, ks_grid,
    n_base, n_cur), NULL-valued rows excluded from both sides.
    """
    from pyspark.sql import Window

    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    # The edge grid and period domain stay lazy subtrees: see the
    # inlining measurement above _edges_literal_map.
    edges_row = quantile_edge_row(baseline, cols, n_grid, edge_accuracy)

    base_counts = binned_counts_against_edges(
        baseline, edges_row, cols, "base"
    )
    cur_counts = binned_counts_against_edges(
        current, edges_row, cols, "cur", group_cols=[period_col]
    ).withColumnRenamed(period_col, "period")

    # dense (period x column x bin) frame so cumsums align over gaps
    bins = F.explode(
        F.sequence(F.lit(0), F.lit(int(n_grid) - 1))
    ).alias("bin")
    col_lit = F.explode(
        F.array(*[F.lit(c) for c in cols])
    ).alias("column")
    periods = current.select(
        F.col(period_col).alias("period")
    ).distinct()
    frame = periods.select("period", col_lit).select(
        "period", "column", bins
    )

    w_base = Window.partitionBy("column").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # The base-side scaffold is (column x bin) — pure geometry, never
    # data — so it is a local relation, not a distinct over the
    # period frame (r15: that distinct re-scanned the current era in
    # every consumer branch).  Equivalence: scored inner-joins
    # cur_dense on (column, bin), so scaffold rows for periods that
    # do not exist in the data (the only rows this adds when the
    # current era is empty) can never reach the output.
    # Explicit broadcasts: these sides are bounded metadata frames and
    # must never plan as a shuffle join (at HEAD before r14 the dense
    # joins planned as 8 SortMergeJoins in one v17_fdr_bh plan).
    base_slots = tiny_df(
        baseline.sparkSession,
        [(c, b) for c in cols for b in range(int(n_grid))],
        "column string, bin int",
    )
    base_dense = (
        base_slots
        .join(F.broadcast(base_counts), ["column", "bin"], "left")
        .withColumn("__nb", F.coalesce("n_base", F.lit(0)))
        .withColumn("__cb", F.sum("__nb").over(w_base))
    )
    w_cur = Window.partitionBy("period", "column").orderBy(
        "bin"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cur_dense = (
        frame.join(
            F.broadcast(cur_counts), ["period", "column", "bin"], "left"
        )
        .withColumn("__np", F.coalesce("n_cur", F.lit(0)))
        .withColumn("__cp", F.sum("__np").over(w_cur))
    )
    b_tot = base_dense.groupBy("column").agg(
        F.sum("__nb").alias("__N_b")
    )
    p_tot = cur_dense.groupBy("period", "column").agg(
        F.sum("__np").alias("__N_p")
    )
    scored = (
        cur_dense.join(
            F.broadcast(base_dense.select("column", "bin", "__cb")),
            ["column", "bin"],
        )
        .join(F.broadcast(b_tot), "column")
        .join(F.broadcast(p_tot), ["period", "column"])
        .select(
            "period",
            "column",
            # double cross-multiply: int64 overflows past ~3e9-row
            # eras (see ks_grid_from_binned_counts)
            F.abs(
                F.col("__cb").cast("double") * F.col("__N_p").cast("double")
                - F.col("__cp").cast("double") * F.col("__N_b").cast("double")
            ).alias("__d"),
            "__N_b",
            "__N_p",
        )
    )
    # totals as max() aggregates, not grouping keys (see ks_drift)
    return (
        scored.groupBy("period", "column")
        .agg(
            F.max("__d").alias("__dmax"),
            F.max("__N_b").alias("__nb"),
            F.max("__N_p").alias("__np"),
        )
        .select(
            "period",
            "column",
            F.round(
                F.try_divide(
                    F.col("__dmax"),
                    F.col("__nb").cast("double")
                    * F.col("__np").cast("double"),
                ),
                round_digits,
            ).alias("ks_grid"),
            F.col("__nb").alias("n_base"),
            F.col("__np").alias("n_cur"),
        )
    )


def js_from_binned_counts(
    base_counts: DataFrame,
    cur_counts: DataFrame,
    cols: Sequence[str],
    n_bins: int,
    round_digits: int = 6,
) -> DataFrame:
    """Jensen-Shannon divergence (log base 2 — bounded [0, 1]) and
    Hellinger distance from already-binned per-(column, bin) count
    tables — the shared tail of :func:`js_drift` and the streaming
    drift monitor's JS read-side.

    Unlike PSI, neither metric needs the eps clamp: the JS mixture
    ``m = (p+q)/2`` is positive wherever either side has mass, and the
    ``0 * log 0`` terms are defined 0 (per-side ``WHEN p > 0`` guards);
    Hellinger is a plain Bhattacharyya fold.  Both are therefore
    boundedly sensitive to empty bins where PSI's clamp saturates —
    the reason monitors publish them side by side.  An empty base or
    current era yields NULL (the family's degenerate-side contract).
    """
    cols = list(cols)
    slots = tiny_df(
        base_counts.sparkSession,
        [(c, b) for c in cols for b in range(n_bins)],
        "column string, bin int",
    )
    joined = (
        slots.join(base_counts, ["column", "bin"], "left")
        .join(cur_counts, ["column", "bin"], "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    tot = joined.groupBy("column").agg(
        F.sum("n_base").alias("__tb"), F.sum("n_cur").alias("__tc")
    )
    pb = F.try_divide(F.col("n_base").cast("double"), F.col("__tb"))
    pc = F.try_divide(F.col("n_cur").cast("double"), F.col("__tc"))
    m = (pb + pc) / 2
    term_b = F.when(pb > 0, pb * F.log2(pb / m)).otherwise(F.lit(0.0))
    term_c = F.when(pc > 0, pc * F.log2(pc / m)).otherwise(F.lit(0.0))
    bc = F.sqrt(F.coalesce(pb, F.lit(0.0)) * F.coalesce(pc, F.lit(0.0)))
    # gate totals as max() aggregates, not grouping keys (see
    # psi_from_binned_counts — a measured 3x plan regression)
    per_col = (
        joined.join(tot, "column")
        .groupBy("column")
        .agg(
            F.sum((term_b + term_c) / 2).alias("__js"),
            F.sum(bc).alias("__bc"),
            F.max("__tb").alias("__tb2"),
            F.max("__tc").alias("__tc2"),
        )
    )
    ok = (F.col("__tb2") > 0) & (F.col("__tc2") > 0)
    return per_col.select(
        "column",
        F.round(F.when(ok, F.col("__js")), round_digits).alias("js"),
        F.round(
            F.when(
                ok, F.sqrt(F.greatest(F.lit(0.0), 1 - F.col("__bc")))
            ),
            round_digits,
        ).alias("hellinger"),
        F.lit(n_bins).alias("n_bins"),
    )


def js_drift(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    n_bins: int = 10,
    round_digits: int = 6,
    edge_accuracy: int | None = 10_000,
) -> DataFrame:
    """Per-column Jensen-Shannon divergence + Hellinger distance of
    ``current`` against ``baseline`` on the baseline's quantile bins —
    the bounded companions to :func:`psi_drift` (PSI is unbounded and
    clamp-saturated on empty bins; JS is [0, 1] in bits and Hellinger
    [0, 1], so thresholds transfer across columns and eras).  Same
    engine shape as PSI: one edge aggregate, map-side binning against
    the one-row broadcast, per-(column, bin) counts, a bins-sized
    final fold.  ``edge_accuracy`` follows the module contract
    (approx sketch default; ``None`` = exact, bounded baselines
    only)."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    base_counts, cur_counts = _edge_binned_pair(
        baseline, current, cols, n_bins, edge_accuracy
    )
    return js_from_binned_counts(
        base_counts, cur_counts, cols, n_bins, round_digits
    )


def chi2_from_binned_counts(
    base_counts: DataFrame,
    cur_counts: DataFrame,
    cols: Sequence[str],
    n_bins: int,
    round_digits: int = 6,
) -> DataFrame:
    """Two-sample chi-squared test of homogeneity from per-(column,
    bin) count tables — the fifth drift lens: PSI weighs log-ratio
    surprise, KS the worst ECDF gap, JS/Hellinger bounded divergence,
    W1 how FAR mass moved; chi-squared is the classical
    significance-ready statistic whose null distribution
    (chi2 with dof degrees of freedom) lets a monitor alarm at a
    chosen false-positive rate instead of a folk threshold.

    Uses the cross-multiplied identity per bin
    ``(n_base*N_cur - n_cur*N_base)^2 / (N_base*N_cur*(n_base+n_cur))``
    in double (the KS overflow lesson — products reach 1e24 at
    billion-row eras, past long range).  EXPOSES effect sizes, not the
    raw statistic: chi2 grows linearly with N (a raw value of ~1e8 at
    6 decimals breaks the sum-magnitude hashing rule and is useless as
    a threshold anyway), so the surface is ``phi2 = chi2 / N`` and
    ``cramers_v = sqrt(phi2 / (k - 1))`` in [0, 1], plus ``dof``
    (occupied bins - 1) and ``chi2_per_dof`` for the
    significance-minded.  Bins empty on BOTH sides contribute nothing
    and don't count toward dof.  An empty era yields NULL (the
    family's degenerate-side contract).  The exact integer era totals
    ride along (``n_base_total`` / ``n_cur_total``) so a caller can
    reconstruct the raw chi2 = phi2 * N for a p-value lookup without
    the surface ever hashing an unbounded float.
    """
    cols = list(cols)
    slots = tiny_df(
        base_counts.sparkSession,
        [(c, b) for c in cols for b in range(n_bins)],
        "column string, bin int",
    )
    joined = (
        slots.join(base_counts, ["column", "bin"], "left")
        .join(cur_counts, ["column", "bin"], "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    tot = joined.groupBy("column").agg(
        F.sum("n_base").alias("__tb"), F.sum("n_cur").alias("__tc")
    )
    nb = F.col("n_base").cast("double")
    nc = F.col("n_cur").cast("double")
    tb = F.col("__tb").cast("double")
    tc = F.col("__tc").cast("double")
    diff = nb * tc - nc * tb
    # try_divide: an empty era makes the denominator 0 on every bin;
    # the ok-mask below turns the whole column NULL anyway (ANSI mode
    # would otherwise raise DIVIDE_BY_ZERO before the mask applies)
    term = F.when(
        nb + nc > 0, F.try_divide(diff * diff, tb * tc * (nb + nc))
    ).otherwise(F.lit(0.0))
    occupied = (nb + nc > 0).cast("long")
    per_col = (
        joined.join(tot, "column")
        .groupBy("column")
        .agg(
            F.sum(term).alias("__chi2"),
            F.sum(occupied).alias("__k"),
            F.max("__tb").alias("__tb2"),
            F.max("__tc").alias("__tc2"),
        )
    )
    ok = (F.col("__tb2") > 0) & (F.col("__tc2") > 0)
    n_total = (F.col("__tb2") + F.col("__tc2")).cast("double")
    phi2 = F.try_divide(F.col("__chi2"), n_total)
    dof = F.greatest(F.col("__k") - 1, F.lit(0)).cast("long")
    v = F.sqrt(F.try_divide(phi2, dof.cast("double")))
    return per_col.select(
        "column",
        F.when(ok, dof).alias("dof"),
        F.col("__tb2").cast("long").alias("n_base_total"),
        F.col("__tc2").cast("long").alias("n_cur_total"),
        F.round(F.when(ok, phi2) + F.lit(1e-9), round_digits).alias(
            "phi2"
        ),
        F.round(F.when(ok, v) + F.lit(1e-9), round_digits).alias(
            "cramers_v"
        ),
    )


def chi2_drift(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    n_bins: int = 10,
    round_digits: int = 6,
    edge_accuracy: int | None = 10_000,
) -> DataFrame:
    """Per-column two-sample chi-squared drift of ``current`` against
    ``baseline`` on the baseline's quantile bins — same one-edge-
    aggregate + map-side-binning shape as :func:`psi_drift`, with the
    :func:`chi2_from_binned_counts` fold (effect sizes exposed, raw
    statistic deliberately not — see the kernel docstring)."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    base_counts, cur_counts = _edge_binned_pair(
        baseline, current, cols, n_bins, edge_accuracy
    )
    return chi2_from_binned_counts(
        base_counts, cur_counts, cols, n_bins, round_digits
    )


def ks_grid_from_binned_counts(
    base_counts: DataFrame,
    cur_counts: DataFrame,
    cols: Sequence[str],
    n_bins: int,
    round_digits: int = 6,
) -> DataFrame:
    """Grid-restricted KS sup-distance from per-(column, bin) count
    tables — the shared tail of the streaming drift monitor's KS
    read-side (the batch exact-ECDF form lives in :func:`ks_drift`;
    the per-period grid form in :func:`ks_drift_by_period`).

    Cumulative sums run over the bounded (columns x n_bins) frame and
    the statistic stays integer (cross-multiplied counts) until one
    final ``try_divide`` — so counts accumulated additively across
    stream batches give bit-identical KS to batch binning of the
    union."""
    cols = list(cols)
    slots = tiny_df(
        base_counts.sparkSession,
        [(c, b) for c in cols for b in range(n_bins)],
        "column string, bin int",
    )
    joined = (
        slots.join(base_counts, ["column", "bin"], "left")
        .join(cur_counts, ["column", "bin"], "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("column")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = joined.groupBy("column").agg(
        F.sum("n_base").alias("__tb"), F.sum("n_cur").alias("__tc")
    )
    cum = joined.select(
        "column",
        "bin",
        F.sum("n_base").over(w_cum).alias("__cb"),
        F.sum("n_cur").over(w_cum).alias("__cc"),
    )
    # totals as max() aggregates, not grouping keys (see
    # psi_from_binned_counts — a measured 3x plan regression).
    # The cross-multiplication runs in DOUBLE, not long: with both
    # eras above ~3e9 rows the int64 product overflows (ANSI error
    # under Spark 4), at odds with the 100TB contract; doubles are
    # exact up to 2^53 per factor-product and the KS statistic only
    # needs ~1e-15 relative precision anyway.  The streaming read-side
    # shares THIS function, so batch/stream stay bit-identical.
    return (
        cum.join(F.broadcast(tot), "column")
        .groupBy("column")
        .agg(
            F.max(
                F.abs(
                    F.col("__cb").cast("double") * F.col("__tc").cast("double")
                    - F.col("__cc").cast("double") * F.col("__tb").cast("double")
                )
            ).alias("__dmax"),
            F.max("__tb").alias("__mtb"),
            F.max("__tc").alias("__mtc"),
        )
        .select(
            "column",
            F.round(
                F.try_divide(
                    F.col("__dmax"),
                    F.col("__mtb").cast("double")
                    * F.col("__mtc").cast("double"),
                ),
                round_digits,
            ).alias("ks_grid"),
            F.col("__mtb").alias("n_base"),
            F.col("__mtc").alias("n_cur"),
        )
    )


def wasserstein_grid_from_binned_counts(
    base_counts: DataFrame,
    cur_counts: DataFrame,
    cols: Sequence[str],
    n_bins: int,
    round_digits: int = 6,
) -> DataFrame:
    """Wasserstein-1 distance between the two eras on the UNIT-BIN
    metric (each quantile bin counts as distance 1), from already-
    binned per-(column, bin) count tables — the average-gap companion
    to :func:`ks_grid_from_binned_counts` (KS is the SUP of the CDF
    gap; W1 on the grid is its MEAN), normalized by ``n_bins`` so the
    value lands in [0, 1] and thresholds transfer across columns.  A
    persistent small shift across many bins — which KS understates
    and PSI's clamp can saturate on — integrates here.

    W = sum_b |F_base(b) - F_cur(b)| / n_bins, computed as the
    cross-multiplied cumulative counts sum(|cb*Nc - cc*Nb|) until the
    ONE final division by Nb*Nc*n_bins — so the streamed read-side
    (which shares this function) is bit-identical to batch binning of
    the union, by count additivity.  The cross-multiplication runs in
    double (int64 overflows past ~3e9-row eras — the grid-KS
    contract).  An empty era yields NULL (degenerate-side contract).
    """
    from pyspark.sql import Window

    cols = list(cols)
    slots = tiny_df(
        base_counts.sparkSession,
        [(c, b) for c in cols for b in range(n_bins)],
        "column string, bin int",
    )
    joined = (
        slots.join(base_counts, ["column", "bin"], "left")
        .join(cur_counts, ["column", "bin"], "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    w_cum = (
        Window.partitionBy("column")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = joined.groupBy("column").agg(
        F.sum("n_base").alias("__tb"), F.sum("n_cur").alias("__tc")
    )
    cum = joined.select(
        "column",
        "bin",
        F.sum("n_base").over(w_cum).alias("__cb"),
        F.sum("n_cur").over(w_cum).alias("__cc"),
    )
    # totals as max() aggregates, not grouping keys (the measured 3x
    # plan-regression lesson, see psi_from_binned_counts)
    return (
        cum.join(F.broadcast(tot), "column")
        .groupBy("column")
        .agg(
            F.sum(
                F.abs(
                    F.col("__cb").cast("double")
                    * F.col("__tc").cast("double")
                    - F.col("__cc").cast("double")
                    * F.col("__tb").cast("double")
                )
            ).alias("__dsum"),
            F.max("__tb").alias("__mtb"),
            F.max("__tc").alias("__mtc"),
        )
        .select(
            "column",
            F.round(
                F.try_divide(
                    F.col("__dsum"),
                    F.col("__mtb").cast("double")
                    * F.col("__mtc").cast("double")
                    * F.lit(float(n_bins)),
                ),
                round_digits,
            ).alias("wasserstein"),
            F.col("__mtb").alias("n_base"),
            F.col("__mtc").alias("n_cur"),
        )
    )


def wasserstein_drift(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    n_bins: int = 10,
    round_digits: int = 6,
    edge_accuracy: int | None = 10_000,
) -> DataFrame:
    """Per-column grid-Wasserstein drift of ``current`` against
    ``baseline`` on the baseline's quantile bins — same one-edge-
    aggregate + map-side-binning shape as :func:`psi_drift` /
    :func:`js_drift`, with the W1 fold of
    :func:`wasserstein_grid_from_binned_counts` as the tail."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    base_counts, cur_counts = _edge_binned_pair(
        baseline, current, cols, n_bins, edge_accuracy
    )
    return wasserstein_grid_from_binned_counts(
        base_counts, cur_counts, cols, n_bins, round_digits
    )


def benford_screen(
    df: DataFrame,
    cols: Sequence[str],
    round_digits: int = 6,
) -> DataFrame:
    """First-digit (Benford's law) conformance screen per column —
    the forensic data-quality check for MEASURED, scale-spanning
    quantities (amounts, durations, counts): organically generated
    magnitudes follow P(d) = log10(1 + 1/d), while fabricated,
    defaulted, or unit-mangled values do not.  A vendor that starts
    sending cents instead of dollars, or backfilling a constant,
    shifts the first-digit histogram long before any range check
    fires.

    Output per column: the chi-square distance to the Benford
    expectation, the mean absolute deviation of the nine digit shares
    (the "MAD" conformity statistic auditors threshold at ~0.015),
    and the observed share of leading 1s.  Zero/NULL values carry no
    first digit and are excluded (their rates are the expectation
    suite's job).

    Engine shape: first digits extract map-side (no string round
    trip: ``floor(v / 10^floor(log10(v)))`` on |v|), all columns ride
    ONE (column, digit) aggregate, and the fold is 9 rows per column.
    Caveat in the docstring, enforced nowhere: Benford only applies
    to quantities spanning >= 2-3 orders of magnitude; a bounded
    uniform column (quantity 1-50) legitimately fails the screen —
    the statistic is a FLAG for human review, not a gate.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    per_col = []
    for c in cols:
        v = F.abs(F.col(c).cast("double"))
        digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v))))
        per_col.append(
            F.when(
                v.isNotNull() & (v > 0),
                F.struct(
                    F.lit(c).alias("column"),
                    digit.cast("int").alias("digit"),
                ),
            )
        )
    cells = (
        df.select(
            F.explode(
                F.filter(F.array(*per_col), lambda s: s.isNotNull())
            ).alias("cd")
        )
        .select("cd.column", "cd.digit")
        .groupBy("column", "digit")
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    # all 9 digit slots so missing digits enter the fold as share 0
    slots = tiny_df(
        df.sparkSession,
        [(c, d) for c in cols for d in range(1, 10)],
        "column string, digit int",
    )
    from pyspark.sql import Window

    w_col = Window.partitionBy("column")
    joined = (
        slots.join(cells, ["column", "digit"], "left")
        .fillna(0, subset=["__o"])
        .select(
            "column",
            "digit",
            "__o",
            F.sum("__o").over(w_col).alias("__n"),
        )
    )
    share = F.try_divide(F.col("__o").cast("double"), F.col("__n"))
    expect = F.log10(1 + 1 / F.col("digit").cast("double"))
    return (
        joined.groupBy("column")
        .agg(
            F.round(
                F.sum(
                    (share - expect) * (share - expect)
                    / expect
                    * F.col("__n")
                )
                + F.lit(1e-9),
                round_digits,
            ).alias("__chi2"),
            F.round(
                F.avg(F.abs(share - expect)) + F.lit(1e-9), round_digits
            ).alias("digit_mad"),
            F.round(
                F.sum(F.when(F.col("digit") == 1, share).otherwise(0.0))
                + F.lit(1e-9),
                round_digits,
            ).alias("share_d1"),
            F.max("__n").alias("n"),
        )
        .select(
            "column",
            F.round(
                F.log10(F.greatest(F.col("__chi2"), F.lit(0.0)) + 1)
                + F.lit(1e-9),
                round_digits,
            ).alias("chi2_mag"),
            "digit_mad",
            "share_d1",
            "n",
        )
    )


def chi2_cell_residuals(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    n_bins: int = 10,
    round_digits: int = 6,
    edge_accuracy: int | None = 10_000,
) -> DataFrame:
    """Per-(column, bin) ADJUSTED standardized residuals of the
    two-era homogeneity table — the drill-down a user needs AFTER
    :func:`chi2_drift` flags a column: WHICH bins drive the statistic
    and in which direction.  For the current era's cell,

        adj = (n_cur - E) / sqrt(E * (1 - R/N) * (1 - T_cur/N)),
        E   = R * T_cur / N

    with R the bin total, T the era totals, N = T_base + T_cur — the
    Agresti adjusted residual, asymptotically N(0,1) under
    homogeneity, so |adj| > ~3 names the driving cells and the sign
    says over-/under-represented in the CURRENT era (the base-side
    residual is exactly -adj).

    Same engine shape as every grid lens: one edge aggregate on the
    baseline, map-side binning of both eras, then ALL arithmetic on
    the bounded (columns x n_bins) frame — era totals are windows over
    it, never a second fact pass.  Bins empty on both sides are
    absent; degenerate geometry (either era empty, a bin holding
    everything) yields NULL via ``try_divide``.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    from pyspark.sql import Window

    # inline_edges measured 1.39x here (4.24 -> 3.06 s at sf0.1): the
    # residual plan's windows block AQE exchange reuse, so the edge
    # aggregate really did re-execute per branch
    base_counts, cur_counts = _edge_binned_pair(
        baseline, current, cols, n_bins, edge_accuracy, inline_edges=True
    )
    slots = tiny_df(
        baseline.sparkSession,
        [(c, b) for c in cols for b in range(n_bins)],
        "column string, bin int",
    )
    joined = (
        slots.join(base_counts, ["column", "bin"], "left")
        .join(cur_counts, ["column", "bin"], "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    w = Window.partitionBy("column")
    tb = F.sum("n_base").over(w).cast("double")
    tc = F.sum("n_cur").over(w).cast("double")
    nb = F.col("n_base").cast("double")
    nc = F.col("n_cur").cast("double")
    n = tb + tc
    r = nb + nc
    e = r * tc / n
    adj = F.try_divide(
        nc - e,
        F.sqrt(e * (F.lit(1.0) - r / n) * (F.lit(1.0) - tc / n)),
    )
    return (
        joined.select(
            "column",
            "bin",
            F.col("n_base").cast("long").alias("n_base"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.round(e + F.lit(1e-9), round_digits).alias("expected_cur"),
            F.round(adj + F.lit(1e-9), round_digits).alias("adj_residual"),
        )
        .filter(F.col("n_base") + F.col("n_cur") > 0)
        .orderBy("column", "bin")
    )


def ks_asymptotic_pvalues(
    tests: DataFrame,
    ks_col: str = "ks_grid",
    n_base_col: str = "n_base",
    n_cur_col: str = "n_cur",
    terms: int = 100,
    p_col: str = "p_value",
    round_digits: int = 6,
) -> DataFrame:
    """Attach the asymptotic two-sample KS p-value to a per-test KS
    frame (the output shape of :func:`ks_drift` /
    :func:`ks_drift_by_period`): the Kolmogorov distribution tail

        p = 2 * sum_{k>=1} (-1)^(k-1) exp(-2 k^2 lam^2),
        lam = (sqrt(n_e) + 0.12 + 0.11 / sqrt(n_e)) * D,
        n_e = n_base * n_cur / (n_base + n_cur)

    with the small-sample correction of Stephens (1970), truncated at
    a FIXED ``terms`` so the computation is a closed form any SQL
    engine reproduces (no convergence loop whose exit point could
    differ between engines).  The truncated-and-clamped value IS the
    defined statistic, with one guard: for ``lam < 0.05`` (including
    D == 0 exactly) the 100-term alternating sum has NOT converged —
    the slowly-decaying terms pair-cancel toward 0 for even ``terms``,
    so the raw truncation would report p ~ 0 for two nearly-identical
    samples, a false drift alarm — and the true tail there is
    indistinguishable from 1 (the Kolmogorov CDF at lam = 0.05 is
    < 1e-100), so the statistic is DEFINED as p = 1 on that region.
    100 terms converge to full double precision for lam >= 0.05
    (term k decays as exp(-2 k^2 lam^2); at lam = 0.05 the k = 100
    term is exp(-50) ~ 2e-22), so the clamp boundary is exactly where
    the truncation becomes trustworthy.

    Scale shape: a pure projection over the (tests)-sized frame — the
    fixed-length series runs inside whole-stage codegen via
    ``aggregate(sequence(...))``; no Python, no shuffle.
    """
    d = F.col(ks_col).cast("double")
    na = F.col(n_base_col).cast("double")
    nb = F.col(n_cur_col).cast("double")
    ne = F.try_divide(na * nb, na + nb)
    lam = (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)) * d
    k = lambda c: c.cast("double")  # noqa: E731
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(terms))),
        F.lit(0.0),
        lambda acc, i: acc
        + F.when(i % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.exp(F.lit(-2.0) * k(i) * k(i) * lam * lam),
    )
    p = F.when(lam < F.lit(0.05), F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(2.0) * series))
    )
    return tests.withColumn(
        p_col, F.round(p + F.lit(1e-9), round_digits)
    )


def fdr_bh(
    tests: DataFrame,
    p_col: str,
    id_cols: Sequence[str],
    q: float = 0.05,
    round_digits: int = 6,
) -> DataFrame:
    """Benjamini–Hochberg false-discovery-rate control over a frame of
    hypothesis tests — the step every many-segment monitoring suite
    needs between "compute 500 per-segment drift p-values" and "page
    someone": at q = 0.05, naive per-test thresholds expect 25 false
    alarms; BH bounds the expected FALSE-DISCOVERY share of what it
    flags at q.

    Standard step-up procedure on the m tests: rank p ascending
    (ties broken by ``id_cols`` so the rank is deterministic), and

        p_adj(i) = min(1, min_{j >= i} p_(j) * m / j)

    via a reverse running min; ``reject = p_adj <= q`` recovers the
    step-up rule exactly.

    Scale contract: the input is a TEST frame (one row per hypothesis
    — segments x metrics), which is monitoring metadata, orders of
    magnitude below fact grain; the global rank window runs on those
    m rows by definition of the procedure (every p competes with
    every other), so the single-partition sort here is bounded by the
    suite size, never by the data.  The heavy lift (the p-values) is
    upstream.

    NULL p-values (untestable hypotheses — e.g. an empty era upstream)
    are EXCLUDED before ranking: under Spark's nulls-first ascending
    sort a NULL row would otherwise take rank 1, shift every real
    test's rank by one (deflating its p*m/rank denominator), inflate
    m, and itself inherit a reject decision from the running min of
    OTHER rows.  They are dropped from the output too — a hypothesis
    without a p-value has no BH-adjusted decision by definition.
    """
    id_cols = list(id_cols)
    if not 0.0 < q < 1.0:
        raise ValueError(f"fdr_bh: q={q} not in (0, 1)")
    tests = tests.filter(F.col(p_col).isNotNull())
    # m rides the SAME single-partition global window the rank already
    # pays for (r15, guide §2.4): the old ``tests.agg(count)`` +
    # crossJoin(broadcast) embedded the whole upstream test pipeline a
    # SECOND time in the plan — for v17_fdr_bh that re-executed every
    # KS scan and aggregate just to count ~14 rows.  count(*) over the
    # unbounded frame of one global window is the identical m, no
    # second subtree, no extra exchange.
    w_rank = Window.orderBy(F.col(p_col).asc(), *[F.col(c) for c in id_cols])
    w_all = w_rank.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        tests.withColumn("__m", F.count(F.lit(1)).over(w_all).cast("double"))
        .withColumn("__rank", F.row_number().over(w_rank))
    )
    w_rev = Window.orderBy(F.col("__rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = ranked.withColumn(
        "__p_adj",
        F.least(
            F.lit(1.0),
            F.min(
                F.col(p_col) * F.col("__m") / F.col("__rank").cast("double")
            ).over(w_rev),
        ),
    )
    keep = [c for c in tests.columns if c != p_col]
    return stepped.select(
        *keep,
        F.col(p_col),
        F.col("__rank").cast("long").alias("rank"),
        F.round(F.col("__p_adj") + F.lit(1e-9), round_digits).alias(
            "p_adj"
        ),
        (F.col("__p_adj") <= F.lit(float(q))).alias("reject"),
    )


def cvm_grid_from_binned_counts(
    base_counts: DataFrame,
    cur_counts: DataFrame,
    cols: Sequence[str],
    n_bins: int,
    round_digits: int = 6,
) -> DataFrame:
    """Cramér–von Mises drift on the grid, from already-binned
    per-(column, bin) count tables — the MEAN-SQUARE companion to
    :func:`ks_grid_from_binned_counts` (sup gap) and
    :func:`wasserstein_grid_from_binned_counts` (mean |gap|):

        cvm = sum_b w_b * (F_base(b) - F_cur(b))^2,
        w_b = (n_base_b + n_cur_b) / (N_base + N_cur)

    i.e. the omega^2 integrand of the two-sample test with the
    combined empirical measure as dH — in [0, 1], scale-free across
    columns.  Squaring makes it the tail-sensitive member of the
    family: a large gap over few bins (which W1 averages away) and a
    moderate gap over many bins (which KS understates) both register.

    Computed from cross-multiplied cumulative counts:
    ``d = cb*Nc - cc*Nb`` is exact in double below ~9e15 (the grid-KS
    contract); ``d^2 * (nb + nc)`` is then double-rounded but
    DETERMINISTICALLY so (same IEEE product of the same doubles in
    any engine), with the one normalizing division
    ``/(Nb*Nc)^2 / (Nb+Nc)`` at the end.  Empty era -> NULL.
    """
    cols = list(cols)
    slots = tiny_df(
        base_counts.sparkSession,
        [(c, b) for c in cols for b in range(n_bins)],
        "column string, bin int",
    )
    joined = (
        slots.join(base_counts, ["column", "bin"], "left")
        .join(cur_counts, ["column", "bin"], "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    w_cum = (
        Window.partitionBy("column")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = joined.groupBy("column").agg(
        F.sum("n_base").alias("__tb"), F.sum("n_cur").alias("__tc")
    )
    cum = joined.select(
        "column",
        "bin",
        F.col("n_base").alias("__nb"),
        F.col("n_cur").alias("__nc"),
        F.sum("n_base").over(w_cum).alias("__cb"),
        F.sum("n_cur").over(w_cum).alias("__cc"),
    )
    d = (
        F.col("__cb").cast("double") * F.col("__tc").cast("double")
        - F.col("__cc").cast("double") * F.col("__tb").cast("double")
    )
    return (
        cum.join(F.broadcast(tot), "column")
        .groupBy("column")
        .agg(
            F.sum(
                d * d * (F.col("__nb") + F.col("__nc")).cast("double")
            ).alias("__ssum"),
            F.max("__tb").alias("__mtb"),
            F.max("__tc").alias("__mtc"),
        )
        .select(
            "column",
            F.round(
                F.try_divide(
                    F.col("__ssum"),
                    F.col("__mtb").cast("double")
                    * F.col("__mtc").cast("double")
                    * F.col("__mtb").cast("double")
                    * F.col("__mtc").cast("double")
                    * (F.col("__mtb") + F.col("__mtc")).cast("double"),
                ),
                round_digits,
            ).alias("cvm"),
            F.col("__mtb").alias("n_base"),
            F.col("__mtc").alias("n_cur"),
        )
    )


def cvm_drift(
    baseline: DataFrame,
    current: DataFrame,
    cols: Sequence[str],
    n_bins: int = 10,
    round_digits: int = 6,
    edge_accuracy: int | None = 10_000,
) -> DataFrame:
    """Per-column grid Cramér–von Mises drift of ``current`` against
    ``baseline`` on the baseline's quantile bins — same one-edge-
    aggregate + map-side-binning shape as :func:`psi_drift` /
    :func:`wasserstein_drift`, with the squared-gap fold of
    :func:`cvm_grid_from_binned_counts` as the tail."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    base_counts, cur_counts = _edge_binned_pair(
        baseline, current, cols, n_bins, edge_accuracy
    )
    return cvm_grid_from_binned_counts(
        base_counts, cur_counts, cols, n_bins, round_digits
    )
