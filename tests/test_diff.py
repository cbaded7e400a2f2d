"""J3 diff-operator tests, mirroring the reference's compare fixtures
(tests/conftest.py:67-226: identical, value-diff, missing rows,
column diffs, duplicate keys)."""

from recover_spark.operators import compare_datasets
from recover_spark.operators.audit import column_set_diff


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "pid string, logid string, calories double, city string"
    )


def test_identical_full_match(spark):
    rows = [("p1", "l1", 100.0, "NYC"), ("p2", "l2", 200.0, "LA")]
    res = compare_datasets(_df(spark, rows), _df(spark, rows), ["pid", "logid"])
    assert res.left_only.count() == 0
    assert res.right_only.count() == 0
    assert res.mismatched.count() == 0
    stats = {r.column: r for r in res.column_stats.collect()}
    assert stats["calories"].rows_unequal == 0
    assert stats["city"].rows_compared == 2


def test_value_mismatch_detected(spark):
    l = _df(spark, [("p1", "l1", 100.0, "NYC")])
    r = _df(spark, [("p1", "l1", 105.0, "NYC")])
    res = compare_datasets(l, r, ["pid", "logid"])
    assert res.mismatched.count() == 1
    stats = {x.column: x for x in res.column_stats.collect()}
    assert stats["calories"].rows_unequal == 1
    assert stats["city"].rows_unequal == 0


def test_tolerance_suppresses_numeric_diff(spark):
    l = _df(spark, [("p1", "l1", 100.0, "NYC")])
    r = _df(spark, [("p1", "l1", 105.0, "NYC")])
    res = compare_datasets(l, r, ["pid", "logid"], abs_tol=10.0)
    assert res.mismatched.count() == 0


def test_unique_rows_each_side(spark):
    l = _df(spark, [("p1", "l1", 1.0, "a"), ("p2", "l2", 2.0, "b")])
    r = _df(spark, [("p2", "l2", 2.0, "b"), ("p3", "l3", 3.0, "c")])
    res = compare_datasets(l, r, ["pid", "logid"])
    assert [x.pid for x in res.left_only.collect()] == ["p1"]
    assert [x.pid for x in res.right_only.collect()] == ["p3"]


def test_null_safe_equality(spark):
    l = _df(spark, [("p1", "l1", None, None)])
    r = _df(spark, [("p1", "l1", None, None)])
    res = compare_datasets(l, r, ["pid", "logid"])
    assert res.mismatched.count() == 0


def test_duplicate_key_report(spark):
    l = _df(spark, [("p1", "l1", 1.0, "a"), ("p1", "l1", 9.0, "z")])
    r = _df(spark, [("p1", "l1", 1.0, "a")])
    res = compare_datasets(l, r, ["pid", "logid"])
    dups = res.left_dup_keys.collect()
    assert len(dups) == 1 and dups[0].n_rows == 2
    assert res.right_dup_keys.count() == 0


def test_column_set_diff(spark):
    a = spark.createDataFrame([(1, 2)], "x int, y int")
    b = spark.createDataFrame([(1, 2)], "x int, z int")
    res = compare_datasets(a, b, ["x"])
    assert res.left_only_columns == ["y"]
    assert res.right_only_columns == ["z"]
    assert column_set_diff(a, b) == {
        "common": ["x"],
        "left_only": ["y"],
        "right_only": ["z"],
    }


def test_comparison_report_text(spark):
    """K8: the text report counts each kind of difference and lists
    per-column match stats and a mismatch sample."""
    from recover_spark.operators.diff import comparison_report

    l = _df(spark, [("p1", "l1", 100.0, "NYC"), ("p2", "l2", 2.0, "b")])
    r = _df(spark, [("p1", "l1", 105.0, "NYC"), ("p3", "l3", 3.0, "c")])
    lines = comparison_report(
        compare_datasets(l, r, ["pid", "logid"])
    ).splitlines()
    assert lines[0] == "Dataset comparison report"
    assert "rows only in left:   1" in lines
    assert "rows only in right:  1" in lines
    assert "rows with mismatch:  1" in lines
    assert "  calories: compared=1 equal=0 unequal=1" in lines
    assert "  city: compared=1 equal=1 unequal=0" in lines
    assert "mismatch sample (up to 20):" in lines
