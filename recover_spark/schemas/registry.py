"""Declared-schema registry: Hive/Spark type strings -> StructType.

The reference declares all 35 table schemas in a single YAML file
(src/glue/resources/table_columns.yaml:1-1397) with Hive type-string
syntax (``string``, ``int``, ``array<struct<...>>``) plus per-table
``partition_keys`` and implicit index fields
(src/glue/jobs/json_to_parquet.py:39-88 INDEX_FIELD_MAP).

Spark parses the same type-string grammar natively, so the registry is a
thin, dependency-free layer: a dict of table specs, each with a lazily
constructed ``StructType``.  Reading with a declared schema gives exactly
the reference's ``resolveChoice(choice="match_catalog")`` semantics
(json_to_parquet.py:157-159): mismatched values -> null, missing -> null.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T


def parse_type(type_string: str) -> T.DataType:
    """Parse a Hive/Spark SQL type string into a DataType.

    Accepts the full grammar the reference's YAML uses: primitives,
    ``struct<...>``, ``array<...>``, ``map<...>`` at any nesting depth.
    """
    try:
        return T._parse_datatype_string(type_string)  # stable across 3.x/4.x
    except Exception as exc:  # pragma: no cover - defensive
        raise ValueError(f"cannot parse type string {type_string!r}") from exc


@dataclass
class TableSpec:
    """One table's declaration, mirroring a table_columns.yaml entry."""

    name: str
    columns: dict[str, str]  # column name -> type string (ordered)
    index_fields: list[str] = field(default_factory=list)
    partition_keys: list[str] = field(default_factory=list)
    # Reference dedup ordering: InsertedDate desc then export_end_date desc
    # when InsertedDate exists, else export_end_date desc
    # (json_to_parquet.py:201-214).
    order_fields: list[str] = field(default_factory=list)

    def struct_type(self, include_partitions: bool = True) -> T.StructType:
        """The table's StructType, parsed in one JVM call."""
        columns = ",".join(
            "`{}`:{}".format(name.replace("`", "``"), ts)
            for name, ts in self.columns.items()
        )
        struct = parse_type(f"struct<{columns}>")
        if include_partitions:
            for pk in self.partition_keys:
                if pk not in self.columns:
                    struct.add(pk, T.StringType(), nullable=True)
        return struct


class SchemaRegistry:
    """Registry of TableSpecs; the engine's catalog.

    Populated from plain dicts (tests, configs) — the YAML file format of
    the reference maps 1:1 onto ``register`` kwargs.
    """

    def __init__(self) -> None:
        self._tables: dict[str, TableSpec] = {}

    def register(
        self,
        name: str,
        columns: dict[str, str],
        index_fields: list[str] | None = None,
        partition_keys: list[str] | None = None,
    ) -> TableSpec:
        spec = TableSpec(
            name=name.lower(),
            columns=dict(columns),
            index_fields=list(index_fields or []),
            partition_keys=list(partition_keys or ["cohort"]),
        )
        self._tables[spec.name] = spec
        return spec

    def __getitem__(self, name: str) -> TableSpec:
        return self._tables[name.lower()]

    def __contains__(self, name: str) -> bool:
        return name.lower() in self._tables

    def names(self) -> list[str]:
        return sorted(self._tables)

    @classmethod
    def from_yaml(cls, path: str) -> "SchemaRegistry":
        """Load a registry from a YAML catalog file.

        Accepts two layouts under a top-level ``tables:`` mapping:

        - the engine's compact form (shipped as
          ``recover_spark/schemas/table_schemas.yaml``)::

            TableName:
              columns: {ColA: string, ColB: "array<struct<x:int>>"}
              partition_keys: [cohort]
              index: [ParticipantIdentifier, LogId]

        - the reference catalog's verbose form
          (src/glue/resources/table_columns.yaml:1-1397), where
          ``columns``/``partition_keys`` are lists of ``{Name, Type}``
          dicts and index fields live in a separate map
          (json_to_parquet.py:39-88) passed via ``index:`` when present.
        """
        import yaml

        with open(path) as fh:
            doc = yaml.safe_load(fh)
        reg = cls()
        for name, spec in (doc.get("tables") or {}).items():
            cols = spec.get("columns") or {}
            if isinstance(cols, list):  # verbose {Name, Type} form
                cols = {c["Name"]: c["Type"] for c in cols}
            pks = spec.get("partition_keys") or []
            if pks and isinstance(pks[0], dict):
                pks = [p["Name"] for p in pks]
            reg.register(
                name,
                columns=cols,
                index_fields=spec.get("index") or [],
                partition_keys=pks,
            )
        return reg


def load_default_registry() -> SchemaRegistry:
    """The shipped wearable-study catalog: 38 tables / ~600 columns
    mirroring the reference's full table inventory (table_columns.yaml
    + INDEX_FIELD_MAP), including the deeply nested device-summary
    schemas (GarminSleepSummary, HealthKitV2Electrocardiogram, ...)."""
    from pathlib import Path

    return SchemaRegistry.from_yaml(
        str(Path(__file__).with_name("table_schemas.yaml"))
    )
