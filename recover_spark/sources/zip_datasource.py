"""S6/S7 as a first-class Spark 4 Python DataSource.

``sources/archive.py`` processes zip exports by extracting members on
the DRIVER and handing a scratch directory to the JSON reader — correct,
but the extraction is a single-machine bottleneck: a weekly export of
hundreds of members decompresses serially before Spark sees a byte.

Spark 4's Python DataSource API removes that: this source plans **one
input partition per eligible zip member** from a driver-side central-
directory read (the S7 metadata-only listing — zipfile never touches the
compressed payloads when listing), and each EXECUTOR opens the archive
and decompresses only its own member.  Parallelism = member count, the
driver moves no data, and the dispatch eligibility rules
(dispatch/app.py:85-118: non-dir, non-Manifest, non-empty, no dotfiles,
no nested paths) are applied at planning time so ineligible members are
never even scheduled.

Usage::

    spark.dataSource.register(ZipNdjsonDataSource)
    raw = spark.read.format("zip_ndjson").load("/path/export.zip")
    # raw: (member string, value string) — one row per NDJSON line
    parsed = raw.select("member", F.from_json("value", schema).alias("r"))

The source deliberately transports RAW LINES: parsing stays in Spark's
``from_json`` with the catalog-declared schema, so the defensive-JSON
semantics (P4) and schema resolution (S2) remain exactly the shared
code paths every other reader uses.

Requires the archive path to be reachable from executors (shared
filesystem or object store) — the same contract as every other file
source.
"""

from __future__ import annotations

import zipfile

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    In,
    InputPartition,
    StringStartsWith,
)

from recover_spark.sources.archive import eligible_member

ARROW_BATCH_LINES = 8192


class ZipMemberPartition(InputPartition):
    def __init__(self, archive_path: str, member: str):
        self.archive_path = archive_path
        self.member = member


class ZipNdjsonReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("zip_ndjson: .load(<archive path>) is required")
        self.path = path
        self._member_pred = None  # planning-time partition pruning

    def pushFilters(self, filters):
        """Partition pruning: equality / IN / prefix predicates on the
        ``member`` column are applied at PLANNING time, so filtered-out
        members are never scheduled, opened, or decompressed — the
        Python-DataSource twin of parquet partition pruning.  Pushed
        filters are exact (not a superset), so they are fully consumed;
        everything else returns to Spark."""
        remaining = []
        preds = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("member",):
                preds.append(lambda m, v=f.value: m == v)
            elif isinstance(f, In) and f.attribute == ("member",):
                preds.append(lambda m, vs=set(f.value): m in vs)
            elif isinstance(f, StringStartsWith) and f.attribute == ("member",):
                preds.append(lambda m, v=f.value: m.startswith(v))
            else:
                remaining.append(f)
        if preds:
            self._member_pred = lambda m: all(p(m) for p in preds)
        return remaining

    def partitions(self):
        # S7: central-directory-only listing on the driver; payloads
        # stay compressed and unread until an executor claims them
        with zipfile.ZipFile(self.path) as zf:
            return [
                ZipMemberPartition(self.path, info.filename)
                for info in zf.infolist()
                if eligible_member(info.filename, info.file_size)
                and (self._member_pred is None or self._member_pred(info.filename))
            ]

    def read(self, partition: ZipMemberPartition):
        # runs on the executor: decompress ONLY this member, and ship
        # rows as Arrow batches (one Python->JVM transfer per ~8k
        # lines, not one per row)
        import pyarrow as pa

        with zipfile.ZipFile(partition.archive_path) as zf:
            with zf.open(partition.member) as fh:
                lines: list[str] = []
                for raw in fh:
                    line = raw.decode("utf-8", errors="replace").rstrip("\r\n")
                    if line:
                        lines.append(line)
                    if len(lines) >= ARROW_BATCH_LINES:
                        yield pa.record_batch(
                            {
                                "member": [partition.member] * len(lines),
                                "value": lines,
                            }
                        )
                        lines = []
                if lines:
                    yield pa.record_batch(
                        {
                            "member": [partition.member] * len(lines),
                            "value": lines,
                        }
                    )


class ZipNdjsonDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zip_ndjson"

    def schema(self) -> str:
        return "member string, value string"

    def reader(self, schema) -> ZipNdjsonReader:
        return ZipNdjsonReader(self.options)


class ZipStreamPartition(InputPartition):
    def __init__(self, archive_path: str, member: str):
        self.archive_path = archive_path
        self.member = member


class ZipNdjsonStreamReader(DataSourceStreamReader):
    """Streaming planner for arriving zip exports (see
    ``ZipNdjsonStreamDataSource``)."""

    def __init__(self, options):
        import os

        path = options.get("path")
        if not path:
            raise ValueError("zip_ndjson_stream: .load(<directory>) required")
        self.dir = path
        self._os = os

    def _archives(self):
        os = self._os
        return sorted(
            f
            for f in os.listdir(self.dir)
            if f.endswith(".zip")
            and os.path.isfile(os.path.join(self.dir, f))
        )

    def initialOffset(self):
        return {"watermark": ""}

    def latestOffset(self):
        names = self._archives()
        return {"watermark": names[-1] if names else ""}

    def partitions(self, start, end):
        lo, hi = start["watermark"], end["watermark"]
        parts = []
        for name in self._archives():
            if not (lo < name <= hi):
                continue
            full = self._os.path.join(self.dir, name)
            with zipfile.ZipFile(full) as zf:
                for info in zf.infolist():
                    if eligible_member(info.filename, info.file_size):
                        parts.append(ZipStreamPartition(full, info.filename))
        # Spark requires >=1 partition per microbatch plan
        return parts or [ZipStreamPartition("", "")]

    def read(self, partition: ZipStreamPartition):
        if not partition.archive_path:
            return iter(())
        import os

        archive = os.path.basename(partition.archive_path)

        def rows():
            with zipfile.ZipFile(partition.archive_path) as zf:
                with zf.open(partition.member) as fh:
                    for raw in fh:
                        line = raw.decode("utf-8", errors="replace").rstrip(
                            "\r\n"
                        )
                        if line:
                            yield (archive, partition.member, line)

        return rows()

    def commit(self, end):
        pass  # offsets are derived from immutable archive names

    def stop(self):
        pass


class ZipNdjsonStreamDataSource(DataSource):
    """Streaming twin of ``ZipNdjsonDataSource`` — the reference's
    actual arrival model (weekly zip exports landing in a prefix,
    dispatch fanning out members: dispatch/app.py:85-118) as a Spark 4
    streaming DataSource.

    Offset model: the WATERMARK is the lexicographically-largest
    archive name processed so far.  Contract: archive names sort in
    arrival order (true for the reference's timestamped exports); an
    archive is immutable once it appears.  Each micro-batch plans the
    archives in ``(start, end]`` as one input partition per eligible
    member — decompression stays on executors, replay of a committed
    batch re-plans the identical member set from the identical name
    interval (deterministic, so checkpoint recovery is exactly-once
    downstream).

    Rows: (archive string, member string, value string) — raw lines;
    parsing stays in ``from_json`` with the declared schema, shared
    with the batch source.
    """

    @classmethod
    def name(cls) -> str:
        return "zip_ndjson_stream"

    def schema(self) -> str:
        return "archive string, member string, value string"

    def streamReader(self, schema):
        return ZipNdjsonStreamReader(self.options)
