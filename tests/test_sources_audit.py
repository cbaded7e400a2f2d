"""S6/S7 archive source, K6/K7 sinks, J4/A5 audit, P2/P9 transforms."""

import json
import zipfile

import pyspark.sql.functions as F

from recover_spark.functions import transforms as X
from recover_spark.operators.audit import count_reconciliation, group_collect
from recover_spark.schemas import parse_type
from recover_spark.sources.archive import (
    eligible_member,
    list_archive_members,
    read_archive_ndjson,
)
from recover_spark.sources.writers import copy_into_table, write_csv_ledger


def _make_zip(path):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "FitbitDevices_20230114.json",
            json.dumps({"Device": "Versa"}) + "\n" + json.dumps({"Device": "Sense"}) + "\n",
        )
        zf.writestr("Manifest.csv", "a,b\n")
        zf.writestr("empty.json", "")
        zf.writestr("dir/", "")


def test_eligible_member_filter():
    assert eligible_member("FitbitDevices_20230114.json", 10)
    assert not eligible_member("Manifest.csv", 10)
    assert not eligible_member("dir/", 0)
    assert not eligible_member("x.json", 0)
    assert not eligible_member("nested/x.json", 5)


def test_list_archive_members(spark, tmp_path):
    zp = str(tmp_path / "export.zip")
    _make_zip(zp)
    rows = {r.member_name: r for r in list_archive_members(spark, zp).collect()}
    assert rows["FitbitDevices_20230114.json"].eligible
    assert not rows["Manifest.csv"].eligible
    assert rows["FitbitDevices_20230114.json"].file_size > 0


def test_read_archive_ndjson(spark, tmp_path):
    zp = str(tmp_path / "export.zip")
    _make_zip(zp)
    schema = parse_type("struct<Device:string>")
    df = read_archive_ndjson(spark, zp, schema, str(tmp_path / "scratch"))
    assert sorted(r.Device for r in df.collect()) == ["Sense", "Versa"]


def test_write_csv_ledger(spark, tmp_path):
    df = spark.createDataFrame(
        [("2023-01-01", 5, "READ")], "export_end_date string, n long, stage string"
    )
    out = str(tmp_path / "ledger")
    write_csv_ledger(df, out)
    back = spark.read.option("header", True).csv(out)
    assert back.collect()[0].stage == "READ"


def test_copy_into_table_by_name(spark):
    spark.sql("DROP TABLE IF EXISTS t_copy_target")
    spark.createDataFrame(
        [("a", 1, 9.0)], "name string, n int, extra_target double"
    ).write.saveAsTable("t_copy_target")
    # source has extra column, different order, missing 'extra_target'
    src = spark.createDataFrame([(2, "b", "drop-me")], "n int, name string, junk string")
    copy_into_table(src, "t_copy_target")
    rows = {r.name: r for r in spark.table("t_copy_target").collect()}
    assert rows["b"].n == 2
    assert rows["b"].extra_target is None
    assert "junk" not in spark.table("t_copy_target").columns
    spark.sql("DROP TABLE t_copy_target")


def test_count_reconciliation(spark):
    access = spark.createDataFrame(
        [("c1", "f1", 10), ("c1", "f2", 5)],
        "cohort string, file_name string, access_count long",
    )
    creation = spark.createDataFrame(
        [("c1", "f1", 10)], "cohort string, file_name string, creation_count long"
    )
    out = {r.file_name: r.difference for r in count_reconciliation(access, creation).collect()}
    assert out == {"f1": 0, "f2": 5}


def test_group_collect_sorted(spark):
    df = spark.createDataFrame(
        [("w1", "z"), ("w1", "a"), ("w2", "m")], "run_id string, msg string"
    )
    out = {r.run_id: r.msg_list for r in group_collect(df, ["run_id"], "msg").collect()}
    assert out == {"w1": ["a", "z"], "w2": ["m"]}


def test_reinject_subtype_and_object_filter(spark):
    df = spark.createDataFrame([("x",)], "a string")
    assert X.reinject_subtype(df, "BloodGlucose").collect()[0].Type == "BloodGlucose"

    keys = spark.createDataFrame(
        [("data/adults/file.zip", 10), ("data/owner.txt", 5), ("folder/", 0), ("ok.zip", 0)],
        "key string, size long",
    )
    kept = keys.filter(X.ingest_object_filter(F.col("key"), F.col("size"))).collect()
    assert [r.key for r in kept] == ["data/adults/file.zip"]


class TestZipPythonDataSource:
    """Spark 4 Python DataSource: one partition per eligible member,
    executor-side decompression, raw-line transport."""

    @staticmethod
    def _fixture(tmp_path) -> str:
        import json
        import zipfile

        p = str(tmp_path / "export.zip")
        with zipfile.ZipFile(p, "w") as zf:
            zf.writestr(
                "part_a.ndjson",
                "\n".join(json.dumps({"id": i, "v": f"a{i}"}) for i in range(3)),
            )
            zf.writestr(
                "part_b.ndjson",
                "\n".join(json.dumps({"id": i, "v": f"b{i}"}) for i in range(2)),
            )
            zf.writestr("Manifest.json", json.dumps({"files": 2}))
            zf.writestr(".hidden", "x")
            zf.writestr("dir/", "")
            zf.writestr("dir/nested.ndjson", '{"id": 99}')
        return p

    def test_reads_eligible_members_in_parallel(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from recover_spark.sources.zip_datasource import ZipNdjsonDataSource

        spark.dataSource.register(ZipNdjsonDataSource)
        raw = spark.read.format("zip_ndjson").load(self._fixture(tmp_path))
        assert raw.rdd.getNumPartitions() == 2  # one per eligible member
        rows = raw.collect()
        assert len(rows) == 5
        assert {r["member"] for r in rows} == {"part_a.ndjson", "part_b.ndjson"}
        parsed = raw.select(
            "member", F.from_json("value", "id long, v string").alias("r")
        ).select("member", "r.*")
        got = {(r["member"], r["id"], r["v"]) for r in parsed.collect()}
        assert ("part_a.ndjson", 2, "a2") in got
        assert ("part_b.ndjson", 1, "b1") in got
        # manifest / dotfile / nested members were never scheduled
        assert not any("Manifest" in m or m.startswith(".") for m, *_ in got)

    def test_matches_driver_extraction_path(self, spark, tmp_path):
        """Same rows as the scratch-dir S6 reader (shared eligibility +
        parsing code paths)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from recover_spark.sources.archive import read_archive_ndjson
        from recover_spark.sources.zip_datasource import ZipNdjsonDataSource

        archive = self._fixture(tmp_path)
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
        )
        via_scratch = read_archive_ndjson(
            spark, archive, schema, str(tmp_path / "scratch")
        )
        spark.dataSource.register(ZipNdjsonDataSource)
        via_source = (
            spark.read.format("zip_ndjson")
            .load(archive)
            .select(F.from_json("value", schema).alias("r"))
            .select("r.*")
        )
        assert sorted(map(tuple, via_source.collect())) == sorted(
            map(tuple, via_scratch.select("id", "v").collect())
        )

    def test_member_filter_pushdown_prunes_partitions(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from pyspark.sql.datasource import EqualTo, GreaterThan, StringStartsWith

        from recover_spark.sources.zip_datasource import (
            ZipNdjsonDataSource,
            ZipNdjsonReader,
        )

        archive = self._fixture(tmp_path)
        # unit level: planning-time pruning consumes member predicates
        reader = ZipNdjsonReader({"path": archive})
        leftover = list(
            reader.pushFilters(
                [EqualTo(("member",), "part_a.ndjson"), GreaterThan(("value",), "x")]
            )
        )
        assert [type(f).__name__ for f in leftover] == ["GreaterThan"]
        parts = reader.partitions()
        assert [p.member for p in parts] == ["part_a.ndjson"]

        reader2 = ZipNdjsonReader({"path": archive})
        assert list(reader2.pushFilters([StringStartsWith(("member",), "part_")])) == []
        assert len(reader2.partitions()) == 2

        # end to end: filtered read returns exactly that member's rows
        spark.dataSource.register(ZipNdjsonDataSource)
        got = (
            spark.read.format("zip_ndjson")
            .load(archive)
            .filter(F.col("member") == "part_a.ndjson")
            .collect()
        )
        assert len(got) == 3
        assert {r["member"] for r in got} == {"part_a.ndjson"}

    def test_member_in_filter_pushdown(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from pyspark.sql.datasource import In

        from recover_spark.sources.zip_datasource import (
            ZipNdjsonDataSource,
            ZipNdjsonReader,
        )

        archive = self._fixture(tmp_path)
        reader = ZipNdjsonReader({"path": archive})
        pushed = In(("member",), ("part_b.ndjson", "gone.ndjson"))
        assert list(reader.pushFilters([pushed])) == []
        assert [p.member for p in reader.partitions()] == ["part_b.ndjson"]

        spark.dataSource.register(ZipNdjsonDataSource)
        got = (
            spark.read.format("zip_ndjson")
            .load(archive)
            .filter(F.col("member").isin("part_b.ndjson", "gone.ndjson"))
            .collect()
        )
        assert len(got) == 2
        assert {r["member"] for r in got} == {"part_b.ndjson"}


class TestZipStreamingDataSource:
    """Streaming arrival of zip exports: watermark offsets over archive
    names, per-member executor partitions, checkpointed exactly-once."""

    @staticmethod
    def _write_archive(dirpath, name, payload: dict[str, list[dict]]):
        import json
        import zipfile

        with zipfile.ZipFile(str(dirpath / name), "w") as zf:
            for member, rows in payload.items():
                zf.writestr(member, "\n".join(json.dumps(r) for r in rows))
            zf.writestr("Manifest.json", "{}")

    def test_incremental_archive_arrivals_exactly_once(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from recover_spark.sources.zip_datasource import (
            ZipNdjsonStreamDataSource,
        )

        src = tmp_path / "arrivals"
        src.mkdir()
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        spark.dataSource.register(ZipNdjsonStreamDataSource)

        def run_once():
            q = (
                spark.readStream.format("zip_ndjson_stream")
                .load(str(src))
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        self._write_archive(
            src,
            "export-2024-01-01.zip",
            {"a.ndjson": [{"id": 1}, {"id": 2}], "b.ndjson": [{"id": 3}]},
        )
        run_once()
        got1 = spark.read.parquet(sink)
        assert got1.count() == 3
        assert {r["archive"] for r in got1.collect()} == {"export-2024-01-01.zip"}

        # second arrival: ONLY the new archive's members are planned
        self._write_archive(
            src, "export-2024-01-08.zip", {"c.ndjson": [{"id": 4}]}
        )
        run_once()
        got2 = spark.read.parquet(sink)
        assert got2.count() == 4
        ids = sorted(
            r["id"]
            for r in got2.select(
                F.from_json("value", "id long").alias("r")
            ).select("r.id").collect()
        )
        assert ids == [1, 2, 3, 4]

        # no new archives -> a further run appends nothing (no replays)
        run_once()
        assert spark.read.parquet(sink).count() == 4
