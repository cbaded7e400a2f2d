"""J1 — anti-join delete application.

Reference: src/glue/jobs/json_to_parquet.py:224-301 (drop_deleted_healthkit_data)
  - rows whose composite key appears in the deleted table are removed
    via a left-anti join on the index fields.  The reference dedups the
    ``{type}_deleted`` table (W1) first; that is redundant for an anti
    join (a key removes its row however often it is listed), so it is
    not done here, saving a shuffle per delete application.

Spark-first notes
-----------------
Deleted-key sets are tiny relative to the fact table, so Catalyst picks a
broadcast left-anti join (we hint it): no shuffle of the big side at all.
The deleted table is projected to only the join keys first so the
broadcast payload is minimal (column pruning would do this anyway; being
explicit keeps the intent readable).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_deleted(
    df: DataFrame,
    deleted: DataFrame,
    index_fields: Sequence[str],
    broadcast_deleted: bool = True,
) -> DataFrame:
    """Remove rows whose key exists in ``deleted`` (left-anti join)."""
    keys = list(index_fields)
    deleted_keys = deleted.select(*keys)
    if broadcast_deleted:
        deleted_keys = F.broadcast(deleted_keys)
    return df.join(deleted_keys, on=keys, how="left_anti")
