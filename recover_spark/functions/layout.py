"""Z-order (Morton) interleaving for multi-dimensional data layout.

Range clustering (sources/writers.py:write_range_clustered_parquet)
bounds ONE column's min/max per file; a predicate on any other column
still touches every file.  Z-ordering interleaves the bits of several
columns into one sort key so files/row groups get tight min/max ranges
on ALL participating columns at once — the standard layout for
multi-dimensional pruning (time × key, lat × lon) at warehouse scale.

Everything here is pure Catalyst bit arithmetic (shifts/and/or over
longs) — whole-stage-codegen-friendly, engine-portable (the same
shifts run in any SQL engine), no UDF.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scale_to_bits(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Scale an INTEGRAL ``col`` from [lo, hi] to [0, 2**bits) by linear
    bucketing with round-half-up — entirely in exact bigint arithmetic
    (``(v-lo)*2*levels + span) intdiv (2*span)``), so the result is
    bit-identical across engines: float scaling would put values
    exactly on .5 boundaries whenever 2*span divides the numerator, and
    1-ulp noise would then flip the bucket.  Degenerate lo == hi maps
    to 0.  Requires (hi-lo) * 2**(bits+1) < 2**63."""
    levels = (1 << bits) - 1
    span = (hi - lo).cast("bigint")
    num = (col - lo).cast("bigint") * F.lit(2 * levels) + span
    den = span * 2
    # exact integer division for the full bigint range: floor(num/den)
    # via double is only an estimate (doubles carry 53 mantissa bits, so
    # a num past 2**53 — e.g. an epoch-micros span — can land one bucket
    # off); the remainder check corrects the at-most-±1 rounding error
    # in exact bigint arithmetic, restoring the cross-engine bit-for-bit
    # guarantee up to the documented 2**63 overflow bound.
    approx = F.floor(num / den).cast("bigint")
    rem = num - approx * den
    quot = (
        approx
        + F.when(rem >= den, F.lit(1))
        .when(rem < 0, F.lit(-1))
        .otherwise(F.lit(0))
    )
    return F.when(span > 0, quot).otherwise(F.lit(0))


def interleave_bits(cols: Sequence[Column], bits: int) -> Column:
    """Morton code: bit j of column i lands at position j*len(cols)+i.

    Compiles to a sum of shift/mask terms — ``bits * len(cols)`` integer
    ops per row, all inside codegen.  ``bits * len(cols)`` must be <= 63
    to stay in a signed long.
    """
    k = len(cols)
    if bits * k > 63:
        raise ValueError(f"bits*cols = {bits * k} exceeds 63 (signed long)")
    terms = []
    for i, c in enumerate(cols):
        for j in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(c, j).bitwiseAND(F.lit(1)), j * k + i
                )
            )
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def zorder_values(
    df: DataFrame,
    zorder_cols: Sequence[str],
    bits: int = 16,
    z_col: str = "zvalue",
) -> DataFrame:
    """Attach the Z-order key of ``zorder_cols`` to every row.

    Scale shape: one tiny global min/max aggregate per column (a single
    one-row frame joined in by broadcast — the fact table never
    shuffles), then the scaling + interleave as a map-side projection.
    """
    aggs = []
    for c in zorder_cols:
        aggs.append(F.min(c).alias(f"__lo_{c}"))
        aggs.append(F.max(c).alias(f"__hi_{c}"))
    bounds = df.groupBy().agg(*aggs)
    with_bounds = df.crossJoin(F.broadcast(bounds))
    scaled = [
        scale_to_bits(
            F.col(c), F.col(f"__lo_{c}"), F.col(f"__hi_{c}"), bits
        )
        for c in zorder_cols
    ]
    return with_bounds.withColumn(z_col, interleave_bits(scaled, bits)).drop(
        *[f"__lo_{c}" for c in zorder_cols],
        *[f"__hi_{c}" for c in zorder_cols],
    )


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    bits: int = 16,
    num_files: int = 32,
) -> None:
    """Z-order-clustered parquet: range-partition and sort on the Morton
    key so every file/row group has tight min/max footer stats on ALL
    ``zorder_cols`` — a predicate on any participating column prunes.

    Same write topology as range clustering (one range exchange with
    sampled boundaries, local sort), different sort key.  The zvalue
    column itself is dropped before writing; it is layout state, not
    data.
    """
    z = zorder_values(df, zorder_cols, bits=bits)
    (
        z.repartitionByRange(num_files, F.col("zvalue"))
        .sortWithinPartitions("zvalue")
        .drop("zvalue")
        .write.mode("overwrite")
        .parquet(path)
    )
