"""Sessionization: batch formulation golden tests + streaming smoke."""

import datetime as dt

from recover_spark.streaming.stateful import sessionize_batch


def test_sessionize_batch_gap_split(spark):
    base = dt.datetime(2023, 1, 1, 10, 0, 0)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(seconds=60), 2.0),
        (1, base + dt.timedelta(seconds=5000), 5.0),  # > gap -> new session
        (2, base, 10.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sessionize_batch(df, gap_seconds=1800).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2
    first = min(by_user[1], key=lambda r: r.session_start)
    assert first.n_events == 2 and first.total_value == 3.0
    assert len(by_user[2]) == 1 and by_user[2][0].n_events == 1


def test_sessionize_stream_smoke(spark, tmp_path):
    """applyInPandasWithState wiring: runs a micro-batch without error
    and registers state (sessions emit on timeout in production)."""
    import json

    from recover_spark.schemas import parse_type
    from recover_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "stream_src"
    src.mkdir()
    with open(src / "e.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": "2023-01-01T10:00:00", "value": 1.5}) + "\n")
    schema = parse_type("struct<user_id:long,ts:timestamp,value:double>")
    stream = spark.readStream.schema(schema).json(str(src))
    sessions = sessionize_stream(stream, gap_seconds=1)
    # A processing-time timeout makes Spark run no-data batches for as
    # long as the query lives, so an availableNow run never terminates;
    # a once trigger runs the one data batch and stops.
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(once=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "a once-trigger run terminates"
    finally:
        q.stop()
    # The run processes the batch; emission needs a later timeout
    # tick, so the table exists (possibly empty) without error.
    assert spark.table("sessions_out").columns == [
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        "total_value",
    ]
