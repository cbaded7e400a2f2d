"""Streaming watermark semantics: append-mode windows finalize exactly
once, and late rows arriving after state eviction are dropped (no
duplicate emission).

Note what Spark does and does not guarantee: rows below the watermark
whose window state is STILL LIVE may legally be aggregated
("too-late" dropping is best-effort until eviction); the hard guarantee
is single emission per window and no resurrection after eviction.  The
engine's replay model (SURVEY.md §2.9) relies on exactly this plus W1
dedup downstream.
"""

from __future__ import annotations

import json
import os
import time


def _write_batch(path: str, rows: list[dict], mtime_offset_s: float) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    t = time.time() + mtime_offset_s
    os.utime(path, (t, t))


def test_append_mode_single_emission_and_post_eviction_drop(spark, tmp_path):
    from recover_spark.streaming.incremental import windowed_event_counts

    src = tmp_path / "src"
    src.mkdir()
    # batch 1: two events in the 10:00 window + one at 14:00 that will
    # advance the watermark to 13:00 for the next batch
    _write_batch(
        str(src / "b1.json"),
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "event_type": "A"},
            {"event_id": 2, "ts": "2024-01-01 10:10:00", "event_type": "A"},
            {"event_id": 3, "ts": "2024-01-01 14:00:00", "event_type": "A"},
        ],
        mtime_offset_s=-60,
    )
    # batch 2: watermark is now 13:00 > the 10:00 window's end, so the
    # window is emitted and its state evicted at the end of this batch
    _write_batch(
        str(src / "b2.json"),
        [{"event_id": 5, "ts": "2024-01-01 15:00:00", "event_type": "A"}],
        mtime_offset_s=-30,
    )
    # batch 3: a late event for the ALREADY-EVICTED 10:00 window — must
    # be dropped, not resurrect the window as a duplicate emission
    _write_batch(
        str(src / "b3.json"),
        [{"event_id": 4, "ts": "2024-01-01 10:30:00", "event_type": "A"}],
        mtime_offset_s=0,
    )

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    counts = windowed_event_counts(
        stream, window_duration="1 hour", watermark="1 hour"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("wm_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = [
        (str(r["window_start"]), r["n_events"])
        for r in spark.sql("SELECT * FROM wm_counts").collect()
    ]
    ten_oclock = [n for s, n in rows if s == "2024-01-01 10:00:00"]
    # exactly ONE emission for the 10:00 window, with only the two
    # on-time events; the post-eviction late event did not create a
    # duplicate window or bump the count
    assert ten_oclock == [2]
    # unfinalized windows (14:00, 15:00 — watermark never passed their
    # ends) were not emitted
    assert not any(s >= "2024-01-01 14" for s, _ in rows)


def test_incremental_matview_equals_full_recompute(spark, tmp_path):
    from recover_spark.streaming.matview import maintain_count_matview

    src = tmp_path / "mv_src"
    src.mkdir()
    state = str(tmp_path / "mv_state")
    ckpt = str(tmp_path / "mv_ckpt")
    schema = "event_id long, event_type string, value double"

    def run_increment():
        stream = spark.readStream.schema(schema).json(str(src))
        q = maintain_count_matview(
            stream, state, ckpt, ["event_type"], value_col="value"
        )
        q.awaitTermination(120)

    _write_batch(
        str(src / "f1.json"),
        [
            {"event_id": 1, "event_type": "a", "value": 1.0},
            {"event_id": 2, "event_type": "a", "value": 2.0},
            {"event_id": 3, "event_type": "b", "value": 5.0},
        ],
        mtime_offset_s=-60,
    )
    run_increment()
    # second increment: only the NEW file is processed (checkpoint)
    _write_batch(
        str(src / "f2.json"),
        [
            {"event_id": 4, "event_type": "a", "value": 10.0},
            {"event_id": 5, "event_type": "c", "value": 7.0},
        ],
        mtime_offset_s=0,
    )
    run_increment()

    got = {
        r["event_type"]: (r["n_rows"], r["sum_value"])
        for r in spark.read.parquet(state).collect()
    }
    assert got == {"a": (3, 13.0), "b": (1, 5.0), "c": (1, 7.0)}

    # a third increment with no new files is a no-op
    run_increment()
    again = {
        r["event_type"]: (r["n_rows"], r["sum_value"])
        for r in spark.read.parquet(state).collect()
    }
    assert again == got


def test_matview_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the state swap but
    before the checkpoint commit replays the batch.  The persisted
    batch-id sidecar must make the replayed merge a no-op instead of
    double-counting."""
    from recover_spark.streaming.matview import merge_counts

    state = str(tmp_path / "replay_state")
    batch = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 5.0)],
        "event_id long, event_type string, value double",
    )
    merge_counts(spark, batch, state, ["event_type"], "value", batch_id=0)
    first = {
        r["event_type"]: (r["n_rows"], r["sum_value"])
        for r in spark.read.parquet(state).collect()
    }
    assert first == {"a": (2, 3.0), "b": (1, 5.0)}

    # crash-replay of the SAME batch id: must not double-count
    merge_counts(spark, batch, state, ["event_type"], "value", batch_id=0)
    replayed = {
        r["event_type"]: (r["n_rows"], r["sum_value"])
        for r in spark.read.parquet(state).collect()
    }
    assert replayed == first

    # a genuinely new batch id still merges
    nxt = spark.createDataFrame(
        [(4, "b", 7.0)], "event_id long, event_type string, value double"
    )
    merge_counts(spark, nxt, state, ["event_type"], "value", batch_id=1)
    merged = {
        r["event_type"]: (r["n_rows"], r["sum_value"])
        for r in spark.read.parquet(state).collect()
    }
    assert merged == {"a": (2, 3.0), "b": (2, 12.0)}


def test_dedup_stream_replay_exactly_once(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside a run collapse,
    and a key replayed in a LATER availableNow run (same checkpoint)
    is still suppressed by state restored from the checkpoint."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from recover_spark.streaming import dedup_stream

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("v", T.StringType()),
        ]
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .json(str(src))
            .withColumn("ts", F.to_timestamp("ts"))
        )
        q = (
            dedup_stream(stream, key_cols=("event_id",), watermark="1 hour")
            .writeStream.format("parquet")
            .option("checkpointLocation", str(ckpt))
            .option("path", str(out))
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(120)

    _write_batch(
        str(src / "a.json"),
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "v": "first"},
            {"event_id": 1, "ts": "2024-01-01 10:00:05", "v": "intra-dup"},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "v": "first"},
        ],
        mtime_offset_s=-60,
    )
    run_once()

    # replayed delivery of event 2 plus a genuinely new event 3,
    # inside the 1 h watermark horizon
    _write_batch(
        str(src / "b.json"),
        [
            {"event_id": 2, "ts": "2024-01-01 10:20:00", "v": "replay"},
            {"event_id": 3, "ts": "2024-01-01 10:21:00", "v": "first"},
        ],
        mtime_offset_s=-30,
    )
    run_once()

    got = {
        (r["event_id"], r["v"]) for r in spark.read.parquet(str(out)).collect()
    }
    assert {eid for eid, _ in got} == {1, 2, 3}
    assert len(got) == 3  # one row per key
    assert ("2", "replay") not in got and (2, "replay") not in got

    # batch mode: same call is a plain keyed dropDuplicates
    batch = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "event_id long, v string"
    )
    assert dedup_stream(batch, key_cols=("event_id",)).count() == 2


def test_interval_join_stream_matches_batch_twin(spark, tmp_path):
    """Watermarked stream-stream interval join: streaming append output
    equals the batch join of the same data, and the streaming plan
    carries watermarks on both sides (bounded state)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from recover_spark.streaming import interval_join_stream

    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    lsrc.mkdir(), rsrc.mkdir()
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    _write_batch(
        str(lsrc / "l.json"),
        [
            {"user_id": 1, "ts": "2024-01-01 10:00:00", "tag": "L1"},
            {"user_id": 2, "ts": "2024-01-01 11:00:00", "tag": "L2"},
        ],
        mtime_offset_s=-60,
    )
    _write_batch(
        str(rsrc / "r.json"),
        [
            {"user_id": 1, "ts": "2024-01-01 10:30:00", "tag": "R-in"},
            {"user_id": 1, "ts": "2024-01-01 12:30:00", "tag": "R-late"},
            {"user_id": 2, "ts": "2024-01-01 10:59:00", "tag": "R-early"},
            {"user_id": 2, "ts": "2024-01-01 11:45:00", "tag": "R-in2"},
        ],
        mtime_offset_s=-30,
    )

    def load(path, streaming):
        if streaming:
            df = spark.readStream.schema(schema).json(str(path))
        else:
            df = spark.read.schema(schema).json(str(path))
        return df.withColumn("ts", F.to_timestamp("ts"))

    out = tmp_path / "out"
    q = (
        interval_join_stream(
            load(lsrc, True), load(rsrc, True), key="user_id",
            max_delay="1 hour",
        )
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("path", str(out))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["user_id"], r["tag"], r["tag_r"])
        for r in spark.read.parquet(str(out)).collect()
    }
    batch = {
        (r["user_id"], r["tag"], r["tag_r"])
        for r in interval_join_stream(
            load(lsrc, False), load(rsrc, False), key="user_id",
            max_delay="1 hour",
        ).collect()
    }
    assert streamed == batch == {
        (1, "L1", "R-in"),       # within [ts, ts+1h]
        (2, "L2", "R-in2"),
        # R-late (2.5h after) and R-early (before left ts) excluded
    }


def test_enrich_stream_matches_batch_and_is_stateless(spark, tmp_path):
    """Stream-static enrichment: streaming availableNow output equals
    the batch join twin, and the physical plan keeps the static side
    broadcast (no stream shuffle, no join state)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from recover_spark.streaming import enrich_stream

    src = tmp_path / "src"
    src.mkdir()
    _write_batch(
        str(src / "e.json"),
        [
            {"user_id": 1, "v": 10.0},
            {"user_id": 2, "v": 20.0},
            {"user_id": 9, "v": 90.0},  # no dim row -> left join null
        ],
        mtime_offset_s=-60,
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )

    out = tmp_path / "out"
    q = (
        enrich_stream(
            spark.readStream.schema(schema).json(str(src)), dim, key="user_id"
        )
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("path", str(out))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["user_id"], r["v"], r["tier"])
        for r in spark.read.parquet(str(out)).collect()
    }
    batch = {
        (r["user_id"], r["v"], r["tier"])
        for r in enrich_stream(
            spark.read.schema(schema).json(str(src)), dim, key="user_id"
        ).collect()
    }
    assert streamed == batch
    assert (1, 10.0, "gold") in streamed and (9, 90.0, None) in streamed

    plan = (
        enrich_stream(spark.read.schema(schema).json(str(src)), dim, "user_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_dedup_against_corpus_across_runs(spark, tmp_path):
    """Cross-run exact dedup: a digest accepted in run 1 must be
    rejected in run 2 even from a different doc id; within-run dups
    collapse to the lowest id; output accumulates only novel docs."""
    from recover_spark.streaming.incremental import dedup_against_corpus

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "doc_id long, text string"

    def run():
        stream = spark.readStream.schema(schema).json(str(src))
        q = dedup_against_corpus(stream, state, ckpt, out)
        q.awaitTermination(120)

    _write_batch(
        str(src / "b1.json"),
        [
            {"doc_id": 1, "text": "alpha beta"},
            {"doc_id": 2, "text": "alpha beta"},   # within-batch dup of 1
            {"doc_id": 3, "text": "gamma delta"},
        ],
        mtime_offset_s=-60,
    )
    run()
    got1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 3}

    _write_batch(
        str(src / "b2.json"),
        [
            {"doc_id": 9, "text": "alpha beta"},    # cross-run dup
            {"doc_id": 10, "text": "epsilon zeta"}, # novel
        ],
        mtime_offset_s=0,
    )
    run()
    got2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 3, 10}


def test_dedup_against_corpus_replay_leaves_partitions_alone(
    spark, tmp_path
):
    """A fresh checkpoint replays every batch id; each replayed batch's
    digests are all in the state, so its kept frame is empty.  The
    empty per-batch writes must leave the first run's ``__batch=<id>``
    partitions of the output and the digest state as they were."""
    from recover_spark.streaming.incremental import dedup_against_corpus

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    schema = "doc_id long, text string"

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = dedup_against_corpus(stream, state, str(tmp_path / ckpt), out)
        q.awaitTermination(120)

    def snapshot(path):
        return sorted(
            (r["__batch"], *r[:-1])
            for r in spark.read.parquet(path).collect()
        )

    _write_batch(
        str(src / "b1.json"),
        [
            {"doc_id": 1, "text": "alpha beta"},
            {"doc_id": 2, "text": "gamma delta"},
        ],
        mtime_offset_s=-60,
    )
    _write_batch(
        str(src / "b2.json"),
        [
            {"doc_id": 3, "text": "alpha beta"},  # cross-batch dup of 1
            {"doc_id": 4, "text": "epsilon zeta"},
        ],
        mtime_offset_s=0,
    )
    run("ckpt1")
    out1, state1 = snapshot(out), snapshot(state)
    assert {r[0] for r in out1} == {0, 1}
    assert sorted(r[1] for r in out1) == [1, 2, 4]

    run("ckpt2")
    assert snapshot(out) == out1
    assert snapshot(state) == state1


def test_topk_matview_capacity_bound_and_hot_keys_exact(spark, tmp_path):
    """Bounded frequent-items view: hot keys keep near-exact weights
    across increments while the state never exceeds the capacity, and
    a direct replay of an applied batch id is a no-op."""
    from recover_spark.streaming.matview import (
        maintain_topk_matview,
        merge_topk_summary,
        read_topk_matview,
    )

    src = tmp_path / "tk_src"
    src.mkdir()
    state = str(tmp_path / "tk_state")
    ckpt = str(tmp_path / "tk_ckpt")
    schema = "k string"

    def run_increment():
        stream = spark.readStream.schema(schema).json(str(src))
        q = maintain_topk_matview(stream, state, ckpt, ["k"], capacity=8)
        q.awaitTermination(120)

    # batch 1: hot key A x20, 12 distinct cold keys (over capacity 8)
    rows1 = [{"k": "A"}] * 20 + [{"k": f"c{i}"} for i in range(12)]
    _write_batch(str(src / "f1.json"), rows1, mtime_offset_s=-60)
    run_increment()
    st1 = spark.read.parquet(state)
    assert st1.count() <= 8
    w1 = {r["k"]: r["weight"] for r in st1.collect()}
    # undercount bound: N/(capacity+1) = 32/9 < 4
    assert w1["A"] >= 20 - 4

    # batch 2: hot key B x15 + more cold noise
    rows2 = [{"k": "B"}] * 15 + [{"k": f"d{i}"} for i in range(10)]
    _write_batch(str(src / "f2.json"), rows2, mtime_offset_s=0)
    run_increment()
    top = read_topk_matview(spark, state, top_n=2).collect()
    assert [r["k"] for r in top] == ["A", "B"]
    assert spark.read.parquet(state).count() <= 8

    # direct replay of an already-applied batch id: no double counting
    before = {r["k"]: r["weight"] for r in spark.read.parquet(state).collect()}
    replay = spark.createDataFrame([("A",)] * 100, "k string")
    merge_topk_summary(spark, replay, state, ["k"], capacity=8, batch_id=0)
    after = {r["k"]: r["weight"] for r in spark.read.parquet(state).collect()}
    assert after == before


class TestStreamingDrift:
    def _mk_batches(self, spark, tmp_path):
        """Baseline era + three arriving batches with a shifted
        distribution (the vendor-firmware failure shape)."""
        base = spark.range(0, 6000).selectExpr(
            "CAST((id * 37) % 997 AS DOUBLE) AS v",
            "CAST((id * 11) % 53 AS DOUBLE) AS w",
        )
        batches = [
            spark.range(lo, lo + 1500).selectExpr(
                "CAST(((id * 37) % 997) * 1.2 + 5 AS DOUBLE) AS v",
                "CAST((id * 11) % 53 AS DOUBLE) AS w",
            )
            for lo in (0, 1500, 3000)
        ]
        src = tmp_path / "arrivals"
        src.mkdir()
        import glob
        import shutil
        import time

        for i, b in enumerate(batches):
            staging = str(tmp_path / f"stage{i}")
            b.coalesce(1).write.parquet(staging)
            part = glob.glob(f"{staging}/part-*.parquet")[0]
            shutil.move(part, str(src / f"b{i}.parquet"))
            time.sleep(1.05)
        return base, batches, str(src)

    def test_streamed_psi_equals_batch_and_replay_is_noop(
        self, spark, tmp_path
    ):
        from recover_spark.quality.drift import psi_drift
        from recover_spark.streaming.drift import (
            freeze_drift_baseline,
            maintain_drift_matview,
            read_drift_psi,
        )

        base, batches, src = self._mk_batches(spark, tmp_path)
        state = str(tmp_path / "drift_state")
        freeze_drift_baseline(base, state, ["v", "w"], n_bins=10)

        stream = spark.readStream.schema("v double, w double").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = maintain_drift_matview(stream, state, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        streamed = {
            r.column: r.psi for r in read_drift_psi(spark, state).collect()
        }
        union = batches[0].unionByName(batches[1]).unionByName(batches[2])
        batch_ref = {
            r.column: r.psi for r in psi_drift(base, union, ["v", "w"]).collect()
        }
        assert streamed == batch_ref, (streamed, batch_ref)
        assert streamed["v"] > 0.1          # the shift registers
        assert batch_ref["w"] < 0.01        # the stable column does not

        # fresh checkpoint replays every batch id: the sidecar makes
        # the whole replay a strict no-op
        stream2 = spark.readStream.schema("v double, w double").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q2 = maintain_drift_matview(stream2, state, str(tmp_path / "ckpt2"))
        q2.awaitTermination(120)
        replayed = {
            r.column: r.psi for r in read_drift_psi(spark, state).collect()
        }
        assert replayed == streamed

    def test_streamed_ks_and_js_equal_batch_twins(self, spark, tmp_path):
        """The KS/JS read-sides consume the SAME state as PSI: grid-KS
        is bit-identical to batch binning of the union (integer
        cross-multiplied cumulative counts, one final division); JS
        equals the batch js_from_binned_counts over the same counts."""
        from recover_spark.quality.drift import (
            js_drift,
            ks_grid_from_binned_counts,
            binned_counts_against_edges,
            quantile_edge_row,
        )
        from recover_spark.streaming.drift import (
            freeze_drift_baseline,
            maintain_drift_matview,
            read_drift_js,
            read_drift_ks,
        )

        base, batches, src = self._mk_batches(spark, tmp_path)
        state = str(tmp_path / "drift_state")
        freeze_drift_baseline(base, state, ["v", "w"], n_bins=10)
        stream = spark.readStream.schema("v double, w double").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = maintain_drift_matview(stream, state, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        union = batches[0].unionByName(batches[1]).unionByName(batches[2])
        edges = quantile_edge_row(base, ["v", "w"], 10)
        want_ks = {
            r.column: (r.ks_grid, r.n_base, r.n_cur)
            for r in ks_grid_from_binned_counts(
                binned_counts_against_edges(base, edges, ["v", "w"], "base"),
                binned_counts_against_edges(union, edges, ["v", "w"], "cur"),
                ["v", "w"],
                10,
            ).collect()
        }
        got_ks = {
            r.column: (r.ks_grid, r.n_base, r.n_cur)
            for r in read_drift_ks(spark, state).collect()
        }
        assert got_ks == want_ks
        assert got_ks["v"][0] > 0.1      # the shift registers
        assert got_ks["w"][0] < 0.02     # the stable column does not

        want_js = {
            r.column: (r.js, r.hellinger)
            for r in js_drift(base, union, ["v", "w"], n_bins=10).collect()
        }
        got_js = {
            r.column: (r.js, r.hellinger)
            for r in read_drift_js(spark, state).collect()
        }
        assert got_js == want_js
        assert got_js["v"][0] > 0.02 and got_js["w"][0] < 0.005

        # round 9: the Wasserstein read-side shares the same state —
        # bit-identical to batch binning of the union by the same
        # count-additivity argument as grid-KS
        from recover_spark.quality.drift import wasserstein_drift
        from recover_spark.streaming.drift import read_drift_wasserstein

        want_wd = {
            r.column: (r.wasserstein, r.n_base, r.n_cur)
            for r in wasserstein_drift(
                base, union, ["v", "w"], n_bins=10
            ).collect()
        }
        got_wd = {
            r.column: (r.wasserstein, r.n_base, r.n_cur)
            for r in read_drift_wasserstein(spark, state).collect()
        }
        assert got_wd == want_wd
        # the mean gap is below the sup gap by construction
        assert got_wd["v"][0] <= got_ks["v"][0]

    def test_ks_js_read_side_before_any_batch_is_null(self, spark, tmp_path):
        from recover_spark.streaming.drift import (
            freeze_drift_baseline,
            read_drift_js,
            read_drift_ks,
            read_drift_wasserstein,
        )

        base = spark.range(0, 1000).selectExpr(
            "CAST(id % 31 AS DOUBLE) AS v"
        )
        state = str(tmp_path / "ds0")
        freeze_drift_baseline(base, state, ["v"], n_bins=5)
        ks = read_drift_ks(spark, state).collect()
        js = read_drift_js(spark, state).collect()
        wd = read_drift_wasserstein(spark, state).collect()
        assert len(ks) == 1 and ks[0]["ks_grid"] is None
        assert len(js) == 1 and js[0]["js"] is None
        assert len(wd) == 1 and wd[0]["wasserstein"] is None

    def test_mid_swap_crash_heals_and_batch_remerges(self, spark, tmp_path):
        """Simulate the _swap_state crash window: counts renamed aside,
        new generation never promoted.  The next read/merge must heal
        from counts.old instead of starting an empty era."""
        import os

        from recover_spark.streaming.drift import (
            freeze_drift_baseline,
            merge_drift_counts,
            read_drift_psi,
        )

        base = spark.range(0, 2000).selectExpr(
            "CAST((id * 7) % 101 AS DOUBLE) AS v"
        )
        state = str(tmp_path / "ds")
        freeze_drift_baseline(base, state, ["v"], n_bins=8)
        b1 = spark.range(0, 500).selectExpr(
            "CAST((id * 7) % 101 + 30 AS DOUBLE) AS v"
        )
        merge_drift_counts(spark, b1, state, batch_id=0)
        healthy = {
            r.column: r.psi for r in read_drift_psi(spark, state).collect()
        }
        counts = os.path.join(state, "counts")
        os.rename(counts, counts + ".old")  # crash between the renames
        healed = {
            r.column: r.psi for r in read_drift_psi(spark, state).collect()
        }
        assert healed == healthy
        # the failed batch's marker never landed -> its replay re-merges
        merge_drift_counts(spark, b1, state, batch_id=0)
        assert {
            r.column: r.psi for r in read_drift_psi(spark, state).collect()
        } == healthy


class TestStreamingCategoricalDrift:
    def test_streamed_equals_batch_and_replay_noop(self, spark, tmp_path):
        from recover_spark.quality.drift import psi_drift_categorical
        from recover_spark.streaming.drift import (
            freeze_categorical_baseline,
            maintain_categorical_drift_matview,
            read_categorical_drift_psi,
        )

        base = spark.range(0, 3000).selectExpr(
            "CASE WHEN id % 10 < 6 THEN 'a' WHEN id % 10 < 9 THEN 'b' "
            "ELSE 'c' END AS k"
        )
        # renamed-enum failure: 'c' becomes 'c_v2' in the new era
        batches = [
            spark.range(lo, lo + 800).selectExpr(
                "CASE WHEN id % 10 < 6 THEN 'a' WHEN id % 10 < 9 THEN 'b' "
                "ELSE 'c_v2' END AS k"
            )
            for lo in (0, 800)
        ]
        import glob
        import shutil
        import time

        src = tmp_path / "cat_src"
        src.mkdir()
        for i, b in enumerate(batches):
            staging = str(tmp_path / f"cstage{i}")
            b.coalesce(1).write.parquet(staging)
            shutil.move(
                glob.glob(f"{staging}/part-*.parquet")[0],
                str(src / f"b{i}.parquet"),
            )
            time.sleep(1.05)
        state = str(tmp_path / "cat_state")
        freeze_categorical_baseline(base, state, ["k"], top_k=5)
        stream = spark.readStream.schema("k string").option(
            "maxFilesPerTrigger", 1
        ).parquet(str(src))
        q = maintain_categorical_drift_matview(
            stream, state, str(tmp_path / "cat_ckpt")
        )
        q.awaitTermination(120)
        streamed = {
            r.column: r.psi
            for r in read_categorical_drift_psi(spark, state).collect()
        }
        ref = {
            r.column: r.psi
            for r in psi_drift_categorical(
                base, batches[0].unionByName(batches[1]), ["k"], top_k=5
            ).collect()
        }
        assert streamed == ref
        assert streamed["k"] > 0.25  # the renamed enum must register

        stream2 = spark.readStream.schema("k string").option(
            "maxFilesPerTrigger", 1
        ).parquet(str(src))
        q2 = maintain_categorical_drift_matview(
            stream2, state, str(tmp_path / "cat_ckpt2")
        )
        q2.awaitTermination(120)
        assert {
            r.column: r.psi
            for r in read_categorical_drift_psi(spark, state).collect()
        } == streamed


def test_compact_dedup_state_folds_partitions(spark, tmp_path):
    """Digest-state maintenance: after N batches the state holds N
    __batch partitions; compaction folds the distinct digests into one
    partition, the file count drops, and the dedup behavior (replay a
    known digest -> rejected; novel digest -> accepted) is unchanged."""
    from recover_spark.streaming.incremental import (
        compact_dedup_state,
        dedup_against_corpus,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    schema = "doc_id long, text string"

    def run(tag):
        # one shared checkpoint: each run picks up only the files that
        # arrived since the previous run (the weekly-export model), so
        # every batch leaves its own __batch partition in the state
        stream = spark.readStream.schema(schema).json(str(src))
        q = dedup_against_corpus(stream, state, str(tmp_path / "ckpt"), out)
        q.awaitTermination(120)

    _write_batch(
        str(src / "b1.json"),
        [{"doc_id": 1, "text": "alpha"}, {"doc_id": 2, "text": "beta"}],
        mtime_offset_s=-60,
    )
    run("a")
    _write_batch(
        str(src / "b2.json"),
        [{"doc_id": 3, "text": "gamma"}],
        mtime_offset_s=-30,
    )
    run("b")
    report = compact_dedup_state(spark, state)
    assert report["files_after"] < report["files_before"]
    import glob as g

    parts = {p.rsplit("=", 1)[1] for p in g.glob(f"{state}/__batch=*")}
    assert parts == {"-1"}
    # post-compaction behavior: known digest rejected, novel accepted
    _write_batch(
        str(src / "b3.json"),
        [{"doc_id": 9, "text": "alpha"}, {"doc_id": 10, "text": "delta"}],
        mtime_offset_s=0,
    )
    run("c")
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 10]


class TestCorrMatview:
    """Pairwise-correlation matview: Chan-merged centered moments."""

    def test_increments_equal_batch_and_survive_large_means(self, spark, tmp_path):
        """The reason the merge is Chan and not sum-of-products: means
        around 1e9 with unit variance cancel ~16 digits in the naive
        formula; the centered merge must still match numpy to 1e-6."""
        import numpy as np

        from recover_spark.streaming.matview import (
            merge_corr_moments,
            read_corr_matview,
        )

        rng = np.random.default_rng(2)
        x = 1e9 + rng.normal(0, 1.0, 300)
        y = 0.5 * (x - 1e9) + rng.normal(0, 0.5, 300) + 2e9
        state = str(tmp_path / "corr_state")
        for bid in range(3):  # three arrival slices
            sl = slice(bid * 100, (bid + 1) * 100)
            batch = spark.createDataFrame(
                [(float(a), float(b)) for a, b in zip(x[sl], y[sl])],
                "x double, y double",
            )
            merge_corr_moments(spark, batch, state, ["x", "y"], batch_id=bid)
        got = {
            (r["col_a"], r["col_b"]): r
            for r in read_corr_matview(spark, state).collect()
        }
        want = float(np.corrcoef(x, y)[0, 1])
        assert abs(got[("x", "y")]["corr"] - want) < 1e-6
        assert got[("x", "y")]["n"] == 300
        want_cov = float(np.cov(x, y, ddof=1)[0, 1])
        assert abs(got[("x", "y")]["cov_samp"] - want_cov) < 1e-4 * abs(want_cov) + 1e-6
        # var_pop vs covar_pop accumulate M2 differently; at mean
        # ~1e9 the self-pair agrees to ~1e-8, not the last ulp
        assert abs(got[("x", "x")]["corr"] - 1.0) < 1e-6

        # replay of an applied batch id is a strict no-op
        replay = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(x[:100], y[:100])],
            "x double, y double",
        )
        merge_corr_moments(spark, replay, state, ["x", "y"], batch_id=1)
        again = {
            (r["col_a"], r["col_b"]): r["corr"]
            for r in read_corr_matview(spark, state).collect()
        }
        assert again[("x", "y")] == got[("x", "y")]["corr"]

    def test_mid_swap_crash_heals(self, spark, tmp_path):
        import os

        from recover_spark.streaming.matview import (
            merge_corr_moments,
            read_corr_matview,
        )

        state = str(tmp_path / "cs")
        b = spark.createDataFrame(
            [(float(i), float(2 * i)) for i in range(50)],
            "x double, y double",
        )
        merge_corr_moments(spark, b, state, ["x", "y"], batch_id=0)
        before = read_corr_matview(spark, state).collect()
        os.rename(state, state + ".old")  # crash between the renames
        after = read_corr_matview(spark, state).collect()
        assert sorted(map(tuple, after)) == sorted(map(tuple, before))
