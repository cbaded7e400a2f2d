"""Scale-oriented join strategies: skew salting and bucketed co-location.

The reference expresses no join strategy at all (SURVEY.md §2.3 — Glue/
Spark picks); these helpers encode the two levers that matter at 100 TB
beyond AQE's automatic broadcast/skew handling:

- **Salting** for pathological key skew that AQE's skew-join splitting
  can't fix (e.g. one participant id holding 20% of all rows in a
  dimension join).  The big side gets a deterministic salt in
  ``[0, buckets)``; the small side is exploded ``buckets``-fold so every
  ``(key, salt)`` pair still matches.  Result is row-identical to the
  unsalted join, but the hot key's rows spread over ``buckets`` shuffle
  partitions instead of one straggler task.

- **Bucketing** for repeated co-located joins: both fact tables are
  written ``bucketBy(n, keys)`` once, after which every equi-join on the
  bucket keys is shuffle-free (SortMergeJoin with no Exchange on either
  side) for ALL downstream jobs — the amortized answer when the same
  join runs weekly, as the reference's pipeline does
  (templates/glue-workflow.j2:66).  It lives in sources/bucketed.py
  (``write_bucketed_table`` / ``colocated_join``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    buckets: int = 8,
) -> DataFrame:
    """Equi-join with the big side's skewed keys salted over ``buckets``.

    ``big`` gets ``salt = pmod(xxhash64(all non-key cols), buckets)`` —
    deterministic (replay-safe, unlike ``rand()``) and uniform across a
    hot key's rows.  ``small`` is exploded ``buckets``-fold (its row
    count must make that acceptable — dimension-sized inputs).  Supports
    ``inner`` and ``left`` joins; output columns match the plain join.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    on = list(on)
    non_key = [c for c in big.columns if c not in on]
    salt_src = (
        F.xxhash64(*[F.col(f"`{c}`") for c in non_key])
        if non_key
        else F.monotonically_increasing_id()
    )
    b = big.withColumn("__salt", F.pmod(salt_src, F.lit(buckets)).cast("int"))
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    out = b.join(s, on=on + ["__salt"], how=how)
    return out.drop("__salt")

