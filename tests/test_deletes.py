"""J1 golden tests, mirroring tests/test_json_to_parquet.py:1031-1055
(all-deleted -> 0 rows) plus partial-delete cases."""

from recover_spark.operators import drop_deleted


def _table(spark, keys):
    return spark.createDataFrame(
        [(k, f"v{k}", "2023-01-01") for k in keys],
        "GlobalKey string, v string, export_end_date string",
    )


def test_all_deleted_gives_zero_rows(spark):
    t = _table(spark, ["a", "b", "c"])
    deleted = _table(spark, ["a", "b", "c"])
    assert drop_deleted(t, deleted, ["GlobalKey"]).count() == 0


def test_partial_delete(spark):
    t = _table(spark, ["a", "b", "c"])
    deleted = _table(spark, ["b"])
    out = drop_deleted(t, deleted, ["GlobalKey"]).collect()
    assert sorted(r.GlobalKey for r in out) == ["a", "c"]


def test_delete_with_duplicate_deleted_rows(spark):
    # a key listed twice removes its row, and only its row
    t = _table(spark, ["a", "b", "c"])
    deleted = spark.createDataFrame(
        [("b", "x", "2023-01-01"), ("b", "y", "2023-02-01")],
        "GlobalKey string, v string, export_end_date string",
    )
    out = drop_deleted(t, deleted, ["GlobalKey"]).collect()
    assert sorted(r.GlobalKey for r in out) == ["a", "c"]


def test_composite_key_delete(spark):
    t = spark.createDataFrame(
        [("p1", "s1", 1), ("p1", "s2", 2), ("p2", "s1", 3)],
        "ParticipantIdentifier string, SampleKey string, v int",
    )
    deleted = spark.createDataFrame(
        [("p1", "s1")], "ParticipantIdentifier string, SampleKey string"
    )
    out = drop_deleted(t, deleted, ["ParticipantIdentifier", "SampleKey"]).collect()
    assert sorted(r.v for r in out) == [2, 3]
