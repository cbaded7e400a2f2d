"""Round-15 optimization tests.

``TestBoundedStateGates`` pins four streaming matview families
(calibration / vector-sum / bottom-k sample / bootstrap), whose state is
bounded by keys x a fixed axis, to their one distributed fold: a
multi-batch stream folds to a read lens equal to the family's batch
operator over the union of all batches, a replay of the last batch id
is a no-op, and the persisted state schema is pinned.
"""

import pytest
from pyspark.sql import functions as F


def _lens_rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def _state_schema(spark, path):
    return [f.simpleString() for f in spark.read.parquet(path).schema]


def _fold(spark, merge, batches, schema, state):
    """Fold ``batches`` (row lists) through ``merge(df, batch_id)``, then
    replay the last batch id.  Returns the state's (schema, rows) before
    and after the replay, and the union of all batches."""
    frames = [spark.createDataFrame(rows, schema) for rows in batches]
    for i, df in enumerate(frames):
        merge(df, i)
    before = (_state_schema(spark, state), _lens_rows(spark.read.parquet(state)))
    merge(frames[-1], len(frames) - 1)
    after = (_state_schema(spark, state), _lens_rows(spark.read.parquet(state)))
    union = frames[0]
    for df in frames[1:]:
        union = union.unionByName(df)
    return before, after, union


class TestBoundedStateGates:
    def test_calibration_fold_equals_distributed(self, spark, tmp_path):
        from recover_spark.ops.classifier_eval import calibration_summary
        from recover_spark.streaming.matview import (
            merge_calibration_state,
            read_calibration_matview,
        )

        batches = [
            [("a", 0.1, 0), ("a", 0.9, 1), ("b", 0.4, 0)],
            [("a", 0.52, 1), ("b", 0.45, 1), ("c", 0.99, 1)],
            [("a", 0.11, 0)],
        ]
        state = str(tmp_path / "cal")
        before, after, union = _fold(
            spark,
            lambda df, i: merge_calibration_state(
                spark, df, state, ["g"], "score", "label", 10, batch_id=i
            ),
            batches,
            "g string, score double, label int",
            state,
        )
        assert after == before
        assert before[0] == [
            "g:string", "bin:int", "n_bin:bigint",
            "__ss:double", "__sy:double", "__sq:double",
        ]
        assert _lens_rows(read_calibration_matview(spark, state, ["g"])) == (
            _lens_rows(calibration_summary(union, ["g"], "score", "label"))
        )

    def test_vector_fold_equals_distributed(self, spark, tmp_path):
        from recover_spark.ops.clustering import embedding_centroid_drift
        from recover_spark.streaming.matview import (
            merge_vector_sums,
            read_embedding_drift_matview,
        )

        dim = 4
        batches = [
            [("x", 0, [1.0, 2.0, 3.0, 4.0]), ("x", 1, [1.1, 2.2, 2.9, 4.0])],
            [("x", 0, [0.5, 0.5, 0.5, 0.5]), ("y", 0, [9.0, 0.0, 0.0, 1.0])],
            [("y", 1, [8.5, 0.3, 0.0, 1.2])],
        ]
        state = str(tmp_path / "vec")
        before, after, union = _fold(
            spark,
            lambda df, i: merge_vector_sums(
                spark, df, state, ["label", "era"], "embedding", dim,
                batch_id=i,
            ),
            batches,
            "label string, era int, embedding array<double>",
            state,
        )
        assert after == before
        assert before[0] == [
            "label:string", "era:int", "n_rows:bigint",
            *[f"s{i}:double" for i in range(dim)],
        ]
        streamed = read_embedding_drift_matview(
            spark, state, "label", "era", dim
        )
        batch = embedding_centroid_drift(
            union, "label", F.col("era"), dim=dim
        )
        assert _lens_rows(streamed) == _lens_rows(batch)

    def test_sample_fold_equals_distributed(self, spark, tmp_path):
        from recover_spark.ops.kmv import kmv_sketch
        from recover_spark.streaming.matview import (
            merge_sample_state,
            read_sample_matview,
        )

        batches = [
            [("a", i) for i in range(20)] + [("b", i) for i in range(5)],
            [("a", i) for i in range(15, 40)] + [("c", 1)],
            [("b", i) for i in range(100, 130)],
        ]
        state = str(tmp_path / "samp")
        before, after, union = _fold(
            spark,
            lambda df, i: merge_sample_state(
                spark, df, state, ["g"], "v", k=8, batch_id=i
            ),
            batches,
            "g string, v long",
            state,
        )
        assert after == before
        assert before[0] == ["g:string", "payload:string", "h:bigint"]
        streamed = {}
        for r in read_sample_matview(spark, state).collect():
            streamed.setdefault(r["g"], []).append((r["rank"], r["h"]))
        # the bottom-k members ARE the batch KMV sketch of the payloads
        batch = kmv_sketch(
            union.select("g", F.col("v").cast("string").alias("payload")),
            ["g"], "payload", k=8, salt="bksample",
        )
        assert {
            g: [h for _, h in sorted(m)] for g, m in streamed.items()
        } == {r["g"]: list(r["kmv"]) for r in batch.collect()}

    def test_bootstrap_fold_equals_distributed(self, spark, tmp_path):
        from recover_spark.operators.analytics import bootstrap_ci
        from recover_spark.streaming.matview import (
            merge_bootstrap_state,
            read_bootstrap_matview,
        )

        batches = [
            [("p", i, 10.0 + i) for i in range(30)],
            [("p", i, 5.0 + i) for i in range(30, 50)]
            + [("q", i, 100.0 - i) for i in range(25)],
            [("q", i, 50.0 + i) for i in range(25, 40)],
        ]
        state = str(tmp_path / "boot")
        before, after, union = _fold(
            spark,
            lambda df, i: merge_bootstrap_state(
                spark, df, state, ["g"], "v", "rk", 8, batch_id=i
            ),
            batches,
            "g string, rk long, v double",
            state,
        )
        assert after == before
        assert before[0] == [
            "g:string", "__rep:int", "__ws:double", "__wn:double",
            "__s:double", "__c:bigint",
        ]
        assert _lens_rows(read_bootstrap_matview(spark, state, ["g"], 8)) == (
            _lens_rows(bootstrap_ci(union, ["g"], "v", "rk", n_replicates=8))
        )


def test_legacy_index_append_keeps_full_corpus_counts(spark, tmp_path):
    """An index whose meta predates vectors/ (no vectors_cover_corpus
    flag) must keep the full-postings n_docs scan on EVERY append and
    never grow a partial vectors/ dir that a later append or delete
    would mistake for whole-corpus coverage (ADVICE r14 medium)."""
    import json
    import os
    import shutil

    from recover_spark.ops.text_index import (
        META_NAME,
        append_text_index,
        build_text_index,
        probe_text_index,
    )

    def corpus(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    path = str(tmp_path / "legacy_idx")
    build_text_index(
        corpus([(1, "alpha beta gamma"), (2, "delta epsilon zeta")]),
        path,
        num_buckets=8,
    )
    # Forge the legacy shape: drop vectors/ and the coverage flag.
    shutil.rmtree(os.path.join(path, "vectors"))
    meta_path = os.path.join(path, META_NAME)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta.pop("vectors_cover_corpus", None)
    with open(meta_path, "w") as fh:
        json.dump(meta, fh, sort_keys=True)

    meta = append_text_index(corpus([(3, "eta theta iota")]), path)
    assert meta["n_docs"] == 3
    # The failure mode being pinned: append #1 must NOT have created a
    # vectors/ dir holding only doc 3 that append #2 would treat as
    # the whole corpus (n_docs would collapse to the appended docs).
    assert not os.path.isdir(os.path.join(path, "vectors"))
    meta = append_text_index(corpus([(4, "kappa lambda mu")]), path)
    assert meta["n_docs"] == 4
    # prefix strategy: the postings-only path a pre-vectors index
    # actually supports (dense scans vectors/, which never existed)
    got = probe_text_index(
        corpus([(901, "alpha beta gamma"), (902, "kappa lambda mu")]),
        path,
        0.95,
        strategy="prefix",
    ).collect()
    assert {(r.new_id, r.indexed_id, r.cosine) for r in got} == {
        (901, 1, 1.0),
        (902, 4, 1.0),
    }


def test_probed_lists_query_row_cap(spark, monkeypatch):
    """Probe planning collects query vectors to the driver; past
    MAX_DRIVER_QUERY_ROWS it must refuse loudly (the
    refuse-to-degrade contract, VERDICT r14 #3)."""
    from recover_spark.ops import similarity as sim

    queries = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    seeds = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    monkeypatch.setattr(sim, "MAX_DRIVER_QUERY_ROWS", 4)
    with pytest.raises(ValueError, match="ivf_topk_joined"):
        sim._probed_lists(queries, "embedding", seeds, nprobe=1)
    monkeypatch.setattr(sim, "MAX_DRIVER_QUERY_ROWS", 65_536)
    assert sim._probed_lists(queries, "embedding", seeds, nprobe=1)
