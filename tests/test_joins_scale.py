"""Scale join strategies: skew salting and bucketed co-located joins."""

from __future__ import annotations

import pyspark.sql.functions as F

from recover_spark.operators.joins import salted_join
from recover_spark.sources.bucketed import colocated_join, write_bucketed_table


def _skewed(spark):
    # one hot key (k=1) with 500 rows, plus a tail
    hot = [(1, i, float(i)) for i in range(500)]
    tail = [(k, k * 1000, float(k)) for k in range(2, 20)]
    big = spark.createDataFrame(hot + tail, "k long, payload long, v double")
    dim = spark.createDataFrame(
        [(k, f"name_{k}") for k in range(0, 20)], "k long, name string"
    )
    return big, dim


def test_salted_join_matches_plain_inner(spark):
    big, dim = _skewed(spark)
    plain = {(r.k, r.payload, r.name) for r in big.join(dim, "k").collect()}
    salted = {
        (r.k, r.payload, r.name)
        for r in salted_join(big, dim, on=["k"], buckets=4).collect()
    }
    assert salted == plain and len(plain) == 518


def test_salted_join_left_keeps_unmatched(spark):
    big, dim = _skewed(spark)
    missing = dim.filter(F.col("k") > 5)
    out = salted_join(big, missing, on=["k"], how="left", buckets=4)
    rows = out.collect()
    assert len(rows) == big.count()
    assert any(r.name is None for r in rows)  # hot key 1 unmatched, kept


def test_salted_join_spreads_hot_key(spark):
    big, dim = _skewed(spark)
    b = big.withColumn(
        "__salt",
        F.pmod(F.xxhash64("payload", "v"), F.lit(4)).cast("int"),
    )
    n_salts = b.filter(F.col("k") == 1).select("__salt").distinct().count()
    assert n_salts == 4  # hot key's rows spread over all salt buckets


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("b")
        )
        write_bucketed_table(left, "t_bleft", ["k"], num_buckets=8)
        write_bucketed_table(right, "t_bright", ["k"], num_buckets=8)

        joined = colocated_join(spark, "t_bleft", "t_bright", on=["k"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # co-located: shuffle-free join
        assert joined.count() == 1000

        # sanity: the same join on plain (unbucketed) frames DOES shuffle
        plain = left.join(right, "k")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")
