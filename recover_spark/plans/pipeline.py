"""Per-datatype pipeline composition — json_to_parquet.main re-expressed
as one DataFrame chain.

Reference flow (src/glue/jobs/json_to_parquet.py:629-745), per data type:

    scan -> resolve schema -> drop synthetic partitions
         -> [audit READ]
         -> W1 dedup -> [audit DROP_DUPLICATES]
         -> J1 anti-join deleted  (HealthKit types) -> [audit ...]
         -> if nested: relationalize -> child re-key
         -> partitioned parquet write -> [audit WRITE] -> ledgers

Here the same flow is a composition of the engine's operators.  ``run``
computes the post-delete frame in ONE eager action (a local checkpoint)
and writes the parent and every relationalized child from it, so the
source is read once per data type.  Audits use ``df.observe``: their
counts ride that action instead of the reference's four ``.count()``
scans, and the A2 empty-input gate reads the observed READ count.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from recover_spark.operators.dedup import dedup_latest
from recover_spark.operators.deletes import drop_deleted
from recover_spark.operators.relationalize import has_nested_fields, relationalize
from recover_spark.schemas.registry import TableSpec
from recover_spark.sources.writers import write_partitioned_parquet


def route_tables(
    df: DataFrame, name: str, index_fields: Sequence[str]
) -> dict[str, DataFrame]:
    """The output tables of one data type: relationalized when the
    frame is nested, ``{name: df}`` otherwise.  Shared by the batch
    pipeline and the incremental state reader
    (``streaming/incremental.pipeline_tables_from_state``)."""
    # ``relationalize`` resolves through this module's globals on every
    # call, so a tracer that wraps the name sees both callers.
    if has_nested_fields(df.schema):
        carry = list(index_fields) + [
            c for c in ("cohort", "ParticipantID") if c in df.columns
        ]
        return relationalize(df, name, carry_cols=carry)
    return {name: df}


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame]
    counts: dict[str, int] = field(default_factory=dict)


class DatasetPipeline:
    """Compose dedup/delete/relationalize per a TableSpec and run it."""

    def __init__(self, spec: TableSpec, observe_counts: bool = True) -> None:
        self.spec = spec
        self.observe_counts = observe_counts
        self._observations: dict[str, Observation] = {}

    def _observe(self, df: DataFrame, stage: str) -> DataFrame:
        obs = Observation(stage)
        self._observations[stage] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    def _post_delete(
        self, df: DataFrame, deleted: DataFrame | None, observe: bool
    ) -> DataFrame:
        """READ -> W1 dedup -> J1 deletes, with each stage's row count
        observed when ``observe`` is set."""
        spec = self.spec
        self._observations = {}
        watch = self._observe if observe else lambda frame, _stage: frame
        df = watch(df, "READ")
        if spec.index_fields:
            df = watch(dedup_latest(df, spec.index_fields), "DROP_DUPLICATES")
        if deleted is not None:
            df = watch(
                drop_deleted(df, deleted, spec.index_fields), "DROP_DELETED_SAMPLES"
            )
        return df

    def build(
        self,
        df: DataFrame,
        deleted: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Build the lazy plan; returns {table_name: DataFrame}."""
        frame = self._post_delete(df, deleted, self.observe_counts)
        return route_tables(frame, self.spec.name, self.spec.index_fields)

    def run(
        self,
        df: DataFrame,
        output_root: str,
        deleted: DataFrame | None = None,
    ) -> PipelineResult:
        """Compute the post-delete frame once, write every output table
        from it; collect observed counts."""
        # The READ count is always observed: the A2 gate needs it.
        frame = self._post_delete(df, deleted, observe=True)
        frame = frame.localCheckpoint(eager=True)
        counts = {
            stage: obs.get["n"] for stage, obs in self._observations.items()
        }
        # A2 — empty-input short-circuit (json_to_parquet.py:658-659).
        if counts["READ"] == 0:
            return PipelineResult(tables={}, counts={})
        tables = route_tables(frame, self.spec.name, self.spec.index_fields)
        for name, table in tables.items():
            write_partitioned_parquet(
                table, f"{output_root}/dataset={name}", partition_by=("cohort",)
            )
        return PipelineResult(
            tables=tables, counts=counts if self.observe_counts else {}
        )
