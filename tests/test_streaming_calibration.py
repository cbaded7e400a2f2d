"""Streaming calibration matview (streaming/matview.py): stream ==
batch over the union of batches, crash-replay idempotence, and the
two read lenses sharing one state.
"""

import uuid

from pyspark.sql import Window
from pyspark.sql import functions as F


def _fixture(spark, n=400):
    return spark.range(n).selectExpr(
        "CAST(id % 3 AS STRING) g",
        "CAST(id % 97 AS DOUBLE) / 97 AS s",
        "CAST(id % 2 AS INT) y",
    )


class TestStreamingCalibration:
    def test_stream_equals_batch(self, spark, tmp_path):
        from recover_spark.ops.classifier_eval import (
            calibration_summary,
            reliability_bins,
        )
        from recover_spark.streaming.matview import (
            maintain_calibration_matview,
            read_calibration_matview,
            read_reliability_matview,
        )

        df = _fixture(spark)
        src = str(tmp_path / "src")
        df.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("g string, s double, y int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = str(tmp_path / "state")
        q = maintain_calibration_matview(
            stream, state, str(tmp_path / "ckpt"), ["g"], "s", "y"
        )
        q.awaitTermination(120)

        got = {
            r["g"]: r
            for r in read_calibration_matview(spark, state, ["g"]).collect()
        }
        want = {
            r["g"]: r
            for r in calibration_summary(df, ["g"], "s", "y").collect()
        }
        assert set(got) == set(want)
        for g in want:
            assert got[g]["n"] == want[g]["n"]
            assert got[g]["brier"] == want[g]["brier"]
            assert got[g]["ece"] == want[g]["ece"]
            assert got[g]["base_rate"] == want[g]["base_rate"]

        got_b = {
            (r["g"], r["bin"]): r
            for r in read_reliability_matview(spark, state, ["g"]).collect()
        }
        want_b = {
            (r["g"], r["bin"]): r
            for r in reliability_bins(df, ["g"], "s", "y").collect()
        }
        assert set(got_b) == set(want_b)
        for k in want_b:
            assert got_b[k]["n_bin"] == want_b[k]["n_bin"]
            assert got_b[k]["confidence"] == want_b[k]["confidence"]
            assert got_b[k]["accuracy"] == want_b[k]["accuracy"]

    def test_crash_replay_idempotent(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            merge_calibration_state,
            read_calibration_matview,
        )

        df = _fixture(spark, n=100)
        state = str(tmp_path / "state")
        merge_calibration_state(
            spark, df, state, ["g"], "s", "y", 10, batch_id=0
        )
        before = {
            r["g"]: r
            for r in read_calibration_matview(spark, state, ["g"]).collect()
        }
        # replay of the same batch id must be a no-op
        merge_calibration_state(
            spark, df, state, ["g"], "s", "y", 10, batch_id=0
        )
        after = {
            r["g"]: r
            for r in read_calibration_matview(spark, state, ["g"]).collect()
        }
        assert before.keys() == after.keys()
        for g in before:
            assert before[g]["n"] == after[g]["n"]
            assert before[g]["brier"] == after[g]["brier"]


class TestHeartbeatMatview:
    def test_stream_equals_batch_and_staleness(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            maintain_heartbeat_matview,
            read_heartbeat_matview,
        )

        df = spark.createDataFrame(
            [("a", 0), ("a", 7200), ("b", 3600), ("c", 0)],
            "k string, sec long",
        ).selectExpr("k", "timestamp_micros(sec * 1000000) AS ts")
        src = str(tmp_path / "src")
        df.repartition(2).write.parquet(src)
        stream = (
            spark.readStream.schema("k string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = str(tmp_path / "state")
        q = maintain_heartbeat_matview(
            stream, state, str(tmp_path / "ckpt"), ["k"], "ts"
        )
        q.awaitTermination(120)
        got = {
            r["k"]: r
            for r in read_heartbeat_matview(spark, state, 3600).collect()
        }
        # frontier = a's 7200: b lags 3600 (not > threshold), c 7200
        assert got["a"]["is_stale"] is False
        assert got["b"]["is_stale"] is False
        assert got["c"]["is_stale"] is True
        assert got["c"]["lag_seconds"] == 7200.0
        assert got["a"]["n_rows"] == 2

    def test_replay_idempotent(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            merge_heartbeat_state,
            read_heartbeat_matview,
        )

        df = spark.createDataFrame(
            [("a", 0)], "k string, sec long"
        ).selectExpr("k", "timestamp_micros(sec) AS ts")
        state = str(tmp_path / "state")
        merge_heartbeat_state(spark, df, state, ["k"], "ts", batch_id=0)
        merge_heartbeat_state(spark, df, state, ["k"], "ts", batch_id=0)
        row = read_heartbeat_matview(spark, state, 1).collect()[0]
        assert row["n_rows"] == 1  # replay skipped, not double-counted

    def test_fold_equals_batch_with_timestamp_key(self, spark, tmp_path):
        """A multi-batch fold (one batch older than a key's current
        max) reads back equal to one aggregate over the union, replay
        of the last batch id is a no-op, and the state keeps Spark's
        TIMESTAMP type for last_seen."""
        from recover_spark.streaming.matview import (
            merge_heartbeat_state,
            read_heartbeat_matview,
        )

        batches = [
            [("a", 1_000_000), ("b", 2_500_000), ("a", 3_000_000)],
            [("b", 9_000_000), ("c", 4_000_000)],
            [("a", 2_000_000)],  # older than a's current max
        ]
        frames = [
            spark.createDataFrame(rows, "k string, us long").selectExpr(
                "k", "timestamp_micros(us) AS ts"
            )
            for rows in batches
        ]
        state = str(tmp_path / "state")
        for i, df in enumerate(frames):
            merge_heartbeat_state(spark, df, state, ["k"], "ts", batch_id=i)
        got = sorted(
            tuple(r) for r in read_heartbeat_matview(spark, state, 3).collect()
        )
        merge_heartbeat_state(
            spark, frames[-1], state, ["k"], "ts", batch_id=len(frames) - 1
        )
        assert sorted(
            tuple(r) for r in read_heartbeat_matview(spark, state, 3).collect()
        ) == got
        assert [
            f.simpleString() for f in spark.read.parquet(state).schema
        ] == ["k:string", "last_seen:timestamp", "n_rows:bigint"]

        union = frames[0].unionByName(frames[1]).unionByName(frames[2])
        per_key = union.groupBy("k").agg(
            F.max("ts").alias("last_seen"), F.count(F.lit(1)).alias("n_rows")
        )
        lag = (
            F.unix_micros(F.max("last_seen").over(Window.partitionBy()))
            - F.unix_micros("last_seen")
        ) / F.lit(1_000_000.0)
        want = per_key.select(
            "k", "last_seen", "n_rows",
            F.round(lag, 6).alias("lag_seconds"),
            (lag > F.lit(3.0)).alias("is_stale"),
        )
        assert got == sorted(tuple(r) for r in want.collect())
        # a's max stays 3 s (the older 2 s arrival loses); c lags 5 s
        assert [(r[0], r[2], r[3]) for r in got] == [
            ("a", 3, 6.0), ("b", 2, 0.0), ("c", 1, 5.0)
        ]
