"""Round-12 second-batch operators: KMV bottom-k distinct sketch with
set operations (ops/kmv.py), the bottom-k sample matview
(streaming/matview.py), multi-source BFS shortest paths
(ops/graph.py:shortest_paths), and contrastive triplet mining
invariants."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from recover_spark.functions.hashing import portable_hash64
from recover_spark.ops.kmv import (
    kmv_estimate,
    kmv_pairwise_overlap,
    kmv_sketch,
    kmv_union,
)


def _vals(spark, n=4000, groups=3):
    return spark.range(n).select(
        (F.col("id") % groups).cast("string").alias("g"),
        # overlapping value sets: group j holds [j*1000, j*1000+2500)
        # (v decoupled from the group parity via the integer divide)
        (
            (F.col("id") / groups).cast("long") % 2500
            + (F.col("id") % groups) * 1000
        ).alias("v"),
    )


class TestKMV:
    def test_exact_below_k(self, spark):
        df = _vals(spark, n=600, groups=3)
        sk = kmv_sketch(df, ["g"], "v", k=4096)
        est = sk.select("g", kmv_estimate(F.col("kmv"), 4096).alias("e"))
        exact = {
            r["g"]: r["n"]
            for r in df.groupBy("g")
            .agg(F.countDistinct("v").alias("n"))
            .collect()
        }
        for r in est.collect():
            assert r["e"] == exact[r["g"]]

    def test_estimator_within_4_sigma(self, spark):
        k = 256
        df = _vals(spark, n=40000, groups=2)
        sk = kmv_sketch(df, ["g"], "v", k=k)
        est = {
            r["g"]: r["e"]
            for r in sk.select(
                "g", kmv_estimate(F.col("kmv"), k).alias("e")
            ).collect()
        }
        exact = {
            r["g"]: r["n"]
            for r in df.groupBy("g")
            .agg(F.countDistinct("v").alias("n"))
            .collect()
        }
        sigma = 1.0 / (k - 2) ** 0.5
        for g, n in exact.items():
            assert abs(est[g] - n) <= 4 * sigma * n

    def test_union_sketch_equals_sketch_of_union(self, spark):
        # merged bottom-k == bottom-k of the merged set, EXACTLY —
        # the mergeability property the estimator rests on
        k = 64
        df = _vals(spark, n=9000, groups=2)
        sk = {r["g"]: r["kmv"] for r in kmv_sketch(df, ["g"], "v", k=k).collect()}
        union_direct = kmv_sketch(
            df.select(F.lit("u").alias("g"), "v"), ["g"], "v", k=k
        ).collect()[0]["kmv"]
        merged = (
            spark.createDataFrame(
                [(sk["0"], sk["1"])], "a array<bigint>, b array<bigint>"
            )
            .select(kmv_union(F.col("a"), F.col("b"), k).alias("u"))
            .collect()[0]["u"]
        )
        assert merged == union_direct

    def test_two_level_bottom_k_matches_single_window(self, spark):
        # the fanout pre-filter must not change sketch membership
        df = _vals(spark, n=12000, groups=3)
        a = kmv_sketch(df, ["g"], "v", k=128, fanout=64)
        b = kmv_sketch(df, ["g"], "v", k=128, fanout=1)
        da = {r["g"]: tuple(r["kmv"]) for r in a.collect()}
        db = {r["g"]: tuple(r["kmv"]) for r in b.collect()}
        assert da == db

    def test_pairwise_overlap_guard(self, spark):
        df = _vals(spark, n=2000, groups=3)
        sk = kmv_sketch(df, ["g"], "v", k=32)
        with pytest.raises(ValueError, match="max_groups"):
            kmv_pairwise_overlap(sk, "g", k=32, max_groups=2)

    def test_pairwise_jaccard_sane(self, spark):
        k = 256
        df = _vals(spark, n=30000, groups=2)
        sk = kmv_sketch(df, ["g"], "v", k=k)
        (row,) = kmv_pairwise_overlap(sk, "g", k=k).collect()
        # group 0 holds [0,2500), group 1 holds [1000,3500):
        # true jaccard = 1500/3500 ~ 0.4286
        assert abs(row["jaccard_est"] - 1500 / 3500) < 0.15
        assert row["est_intersect"] <= row["est_union"]


class TestSampleMatview:
    def test_stream_equals_batch_bottom_k(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            maintain_sample_matview,
            read_sample_matview,
        )

        df = spark.range(5000).select(
            (F.col("id") % 4).cast("string").alias("g"),
            F.col("id").alias("v"),
        )
        src = str(tmp_path / "src")
        df.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("g string, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = str(tmp_path / "state")
        q = maintain_sample_matview(
            stream, state, str(tmp_path / "ckpt"), ["g"], "v", k=8
        )
        q.awaitTermination(120)
        streamed = {
            (r["g"], r["rank"]): r["payload"]
            for r in read_sample_matview(spark, state).collect()
        }
        from pyspark.sql import Window

        w = Window.partitionBy("g").orderBy("h")
        batch = {
            (r["g"], r["rank"]): r["payload"]
            for r in df.select(
                "g", F.col("v").cast("string").alias("payload")
            )
            .withColumn(
                "h", portable_hash64(F.col("payload"), salt="bksample")
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 8)
            .collect()
        }
        assert streamed == batch

    def test_merge_order_independent_and_idempotent(self, spark, tmp_path):
        import itertools

        from recover_spark.streaming.matview import merge_sample_state

        df = spark.range(900).select(
            (F.col("id") % 2).cast("string").alias("g"),
            F.col("id").alias("v"),
        )
        parts = [
            df.filter(F.col("v") % 3 == i).localCheckpoint() for i in range(3)
        ]
        states = []
        for order in itertools.permutations(range(3)):
            sp = str(tmp_path / f"st_{''.join(map(str, order))}")
            for i in order:
                merge_sample_state(spark, parts[i], sp, ["g"], "v", k=8)
            states.append(
                frozenset(
                    (r["g"], r["h"], r["payload"])
                    for r in spark.read.parquet(sp).collect()
                )
            )
        assert len(set(states)) == 1
        # idempotent: re-merging an already-folded part changes nothing
        sp0 = str(tmp_path / "st_012")
        merge_sample_state(spark, parts[1], sp0, ["g"], "v", k=8)
        again = frozenset(
            (r["g"], r["h"], r["payload"])
            for r in spark.read.parquet(sp0).collect()
        )
        assert again == states[0]


class TestShortestPaths:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "src string, dst string")

    def test_hand_graph_distances(self, spark):
        from recover_spark.ops.graph import shortest_paths

        # a -> b -> c -> d, plus shortcut a -> c; e isolated
        e = self._edges(
            spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
        )
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {
            r["node"]: r["dist"]
            for r in shortest_paths(e, seeds, max_hops=5).collect()
        }
        assert got == {"a": 0, "b": 1, "c": 1, "d": 2}

    def test_max_hops_cap_and_early_exit(self, spark):
        from recover_spark.ops.graph import shortest_paths

        chain = self._edges(
            spark, [(f"n{i}", f"n{i+1}") for i in range(6)]
        )
        seeds = spark.createDataFrame([("n0",)], "node string")
        got = shortest_paths(chain, seeds, max_hops=2)
        assert {r["node"]: r["dist"] for r in got.collect()} == {
            "n0": 0, "n1": 1, "n2": 2,
        }
        # cycle: early exit once every node is settled
        cyc = self._edges(spark, [("x", "y"), ("y", "x")])
        got2 = shortest_paths(
            cyc, spark.createDataFrame([("x",)], "node string"), max_hops=50
        )
        assert {r["node"]: r["dist"] for r in got2.collect()} == {
            "x": 0, "y": 1,
        }

    def test_multi_source_takes_minimum(self, spark):
        from recover_spark.ops.graph import shortest_paths

        e = self._edges(
            spark, [("a", "m"), ("m", "z"), ("b", "z")]
        )
        seeds = spark.createDataFrame([("a",), ("b",)], "node string")
        got = {
            r["node"]: r["dist"]
            for r in shortest_paths(e, seeds, max_hops=4).collect()
        }
        assert got["z"] == 1  # via b, not the 2-hop path via a


class TestContrastiveTriplets:
    def test_triplet_invariants(self, spark):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "entry_mod", "/root/repo/__spark_entry__.py"
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        sf = "/root/testdata/sf0.001"
        trips = mod.q_sample_contrastive_triplets(spark, sf).collect()
        assert len(trips) > 0
        from recover_spark.ops import ngram_jaccard_pairs

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        pairs = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                docs, shingle_size=3, min_jaccard=0.2
            ).collect()
        }
        sym = pairs | {(b, a) for a, b in pairs}
        langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
        for t in trips:
            # positive IS a near-dup of the anchor
            assert (t["anchor_id"], t["positive_id"]) in sym
            # negative is NOT the anchor, its positive, or any near-dup
            assert t["negative_id"] != t["anchor_id"]
            assert t["negative_id"] != t["positive_id"]
            assert (t["anchor_id"], t["negative_id"]) not in sym
            # negative is same-language (the hard-negative contract)
            assert langs[t["negative_id"]] == t["lang"]
            assert langs[t["anchor_id"]] == t["lang"]


class TestContainment:
    def test_quote_detected_jaccard_blind(self, spark):
        from recover_spark.ops.dedup_text import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        quote = " ".join(f"q{i}" for i in range(10))
        article = quote + " " + " ".join(f"body{i}" for i in range(200))
        docs = spark.createDataFrame(
            [(1, quote), (2, article), (3, "totally different words here")],
            "doc_id long, text string",
        )
        cont = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in ngram_containment_pairs(
                docs, shingle_size=3, min_containment=0.6
            ).collect()
        }
        # the quote is fully contained in the article...
        assert cont[(1, 2)] == 1.0
        # ...but not the reverse (article >> quote)
        assert (2, 1) not in cont
        # and symmetric Jaccard misses the pair entirely at any
        # near-dup threshold
        jac = ngram_jaccard_pairs(docs, shingle_size=3, min_jaccard=0.2)
        assert jac.filter("id_a = 1 AND id_b = 2").count() == 0

    def test_min_set_size_suppresses_trivial(self, spark):
        from recover_spark.ops.dedup_text import ngram_containment_pairs

        tiny = "a b c"  # one 3-shingle: trivially contained
        host = "a b c " + " ".join(f"w{i}" for i in range(50))
        docs = spark.createDataFrame(
            [(1, tiny), (2, host)], "doc_id long, text string"
        )
        got = ngram_containment_pairs(
            docs, shingle_size=3, min_containment=0.6, min_set_size=5
        )
        assert got.filter("id_a = 1").count() == 0


class TestPRF:
    def _corpus(self, spark):
        # 'alpha' docs co-mention 'omega'; the query only says 'alpha'.
        # PRF should pull omega-only docs into the ranking.
        rows = [(i, "alpha omega shared topic words") for i in range(4)]
        rows += [(10 + i, "omega omega deep dive content") for i in range(3)]
        rows += [(20 + i, "unrelated filler noise text") for i in range(6)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_expansion_recalls_co_occurring_docs(self, spark):
        from recover_spark.ops.text_analysis import bm25_topk, prf_expand_topk

        docs = self._corpus(spark)
        q = spark.createDataFrame(
            [("q1", "alpha")], "query_id string, query_text string"
        )
        plain = {
            r["doc_id"]
            for r in bm25_topk(docs, q, k=7).collect()
        }
        prf = {
            r["doc_id"]
            for r in prf_expand_topk(
                docs, q, k=7, fb_docs=3, fb_terms=3, alpha=0.5
            ).collect()
        }
        omega_only = {10, 11, 12}
        # plain BM25 cannot rank omega-only docs (no query-term match)
        assert not (plain & omega_only)
        # the feedback loop recalls them
        assert prf & omega_only

    def test_rank_contract_and_determinism(self, spark):
        from recover_spark.ops.text_analysis import prf_expand_topk

        docs = self._corpus(spark)
        q = spark.createDataFrame(
            [("q1", "alpha"), ("q2", "filler noise")],
            "query_id string, query_text string",
        )
        a = prf_expand_topk(docs, q, k=5).collect()
        b = prf_expand_topk(docs, q, k=5).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        by_q = {}
        for r in a:
            by_q.setdefault(r["query_id"], []).append(r)
        for rows in by_q.values():
            rows.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
            scores = [r["score"] for r in rows]
            assert scores == sorted(scores, reverse=True)

    def test_query_term_broadcast_guard(self, spark):
        import pytest as _pytest

        from recover_spark.ops.text_analysis import prf_expand_topk

        docs = self._corpus(spark)
        q = spark.createDataFrame(
            [("q1", "a b c d e f")], "query_id string, query_text string"
        )
        with _pytest.raises(ValueError, match="max_query_terms"):
            prf_expand_topk(docs, q, max_query_terms=3)


class TestStreamKMVOverlap:
    def test_streamed_overlap_equals_batch_sketch(self, spark, tmp_path):
        from recover_spark.ops.kmv import kmv_pairwise_overlap, kmv_sketch
        from recover_spark.streaming.matview import (
            maintain_sample_matview,
            read_sample_overlap,
        )

        k = 64
        df = _vals(spark, n=12000, groups=3).select(
            "g", F.col("v").cast("string").alias("payload_src")
        )
        src = str(tmp_path / "src")
        df.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("g string, payload_src string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = str(tmp_path / "state")
        q = maintain_sample_matview(
            stream, state, str(tmp_path / "ckpt"), ["g"], "payload_src", k=k
        )
        q.awaitTermination(120)
        streamed = {
            (r["key_a"], r["key_b"]): (
                r["est_union"], r["est_intersect"], r["jaccard_est"]
            )
            for r in read_sample_overlap(spark, state, "g", k=k).collect()
        }
        batch = {
            (r["key_a"], r["key_b"]): (
                r["est_union"], r["est_intersect"], r["jaccard_est"]
            )
            for r in kmv_pairwise_overlap(
                kmv_sketch(df, ["g"], "payload_src", k=k, salt="bksample"),
                "g",
                k=k,
            ).collect()
        }
        assert streamed == batch


class TestDTW:
    def test_hand_computed_distance(self, spark):
        from recover_spark.ops.dtw import dtw_distance
        import numpy as np

        # identical series: 0
        a = np.array([1.0, 2.0, 3.0])
        assert dtw_distance(a, a, band=8) == 0.0
        # classic alignment: [0,0,1] vs [0,1,1] warps to cost 0
        assert dtw_distance(
            np.array([0.0, 0.0, 1.0]), np.array([0.0, 1.0, 1.0]), band=8
        ) == 0.0
        # hand DP: [0,2] vs [0,0,2] -> 0 (duplicate-alignment free)
        assert dtw_distance(
            np.array([0.0, 2.0]), np.array([0.0, 0.0, 2.0]), band=8
        ) == 0.0
        # scalar offset accumulates along the diagonal
        assert dtw_distance(
            np.array([1.0, 1.0]), np.array([2.0, 2.0]), band=8
        ) == 2.0

    def test_phase_shift_tolerance(self, spark):
        from recover_spark.ops.dtw import dtw_distance
        import numpy as np

        base = np.sin(np.linspace(0, 6.28, 50))
        shifted = np.roll(base, 3)  # same shape, 3 steps late
        noise = np.linspace(-1, 1, 50)
        d_shift = dtw_distance(base, shifted, band=8)
        d_other = dtw_distance(base, noise, band=8)
        # euclidean would punish the shift hard; DTW keeps it small
        assert d_shift < 0.25 * d_other

    def test_pairwise_guard_and_schema(self, spark):
        from recover_spark.ops.dtw import dtw_pairwise, keyed_series

        pts = spark.createDataFrame(
            [("a", i, float(i)) for i in range(5)]
            + [("b", i, float(i + 1)) for i in range(5)]
            + [("c", i, float(2 * i)) for i in range(5)],
            "k string, o int, v double",
        )
        series = keyed_series(pts, "k", "o", "v")
        got = dtw_pairwise(series, "k", band=4).collect()
        assert {(r["key_a"], r["key_b"]) for r in got} == {
            ("a", "b"), ("a", "c"), ("b", "c")
        }
        for r in got:
            assert r["n_a"] == 5 and r["n_b"] == 5
            assert r["dtw_dist"] >= 0.0
        with pytest.raises(ValueError, match="max_keys"):
            dtw_pairwise(series, "k", max_keys=2)

    def test_band_infeasible_lengths_still_finite(self, spark):
        from recover_spark.ops.dtw import dtw_distance
        import numpy as np

        # length gap wider than the band: band_eff widens to |n-m|
        d = dtw_distance(np.ones(3), np.ones(40), band=2)
        assert d == 0.0


class TestTargetEncode:
    def _df(self, spark, n=3000):
        return spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).cast("string").alias("cat"),
            (F.col("id") % 13).cast("double").alias("y"),
        )

    def test_leakage_free_by_construction(self, spark):
        # perturbing the targets INSIDE fold f must not move fold f's
        # encoding (it is computed from the other folds only)
        from recover_spark.functions.hashing import portable_hash32
        from recover_spark.ops.encoding import target_encode_cells

        df = self._df(spark)
        base = {
            (r["category"], r["fold"]): r["encoded"]
            for r in target_encode_cells(df, "cat", "y", "k").collect()
        }
        fold_of = (portable_hash32(F.col("k"), salt="tenc") % 5).cast("int")
        poisoned = df.withColumn(
            "y",
            F.when(fold_of == 2, F.col("y") + 1000.0).otherwise(F.col("y")),
        )
        pois = {
            (r["category"], r["fold"]): r["encoded"]
            for r in target_encode_cells(poisoned, "cat", "y", "k").collect()
        }
        for (c, f), v in base.items():
            if f == 2:
                assert pois[(c, f)] == v  # own-fold rows can't leak in
            else:
                assert pois[(c, f)] != v  # other folds DO see fold 2

    def test_smoothing_pulls_rare_to_prior(self, spark):
        from recover_spark.ops.encoding import target_encode_cells

        rows = [(i, "common", 10.0) for i in range(500)]
        rows += [(1000, "rare", 99.0)]
        df = spark.createDataFrame(rows, "k long, cat string, y double")
        got = {
            (r["category"], r["fold"]): r["encoded"]
            for r in target_encode_cells(
                df, "cat", "y", "k", smoothing=10.0
            ).collect()
        }
        # the rare category's encoding is prior-dominated (~10), never 99
        for (c, f), v in got.items():
            if c == "rare":
                assert abs(v - 10.0) < 1.0

    def test_fact_grain_join(self, spark):
        from recover_spark.ops.encoding import target_encode

        df = self._df(spark, n=500)
        out = target_encode(df, "cat", "y", "k")
        assert out.count() == 500
        assert out.filter(F.col("encoded").isNull()).count() == 0


class TestIsotonic:
    def test_pav_known_blocks(self, spark):
        from recover_spark.ops.classifier_eval import (
            isotonic_calibration_by_group,
        )

        # rates by score: 0.8, 0.2, 0.4 -> first two pool to 0.5, then
        # 0.5 >= 0.4 pools all three to 7/15; a fourth at 0.9 stands
        rows = []
        for s, pos, n in [(1, 8, 10), (2, 1, 5), (3, 2, 5), (4, 9, 10)]:
            rows += [("g", s, True)] * pos + [("g", s, False)] * (n - pos)
        df = spark.createDataFrame(rows, "g string, s int, label boolean")
        got = (
            isotonic_calibration_by_group(df, ["g"], "s", "label")
            .orderBy("block")
            .collect()
        )
        assert [
            (r["block"], r["score_lo"], r["score_hi"], r["n_rows"],
             r["n_pos"], r["calibrated"])
            for r in got
        ] == [
            (0, 1.0, 3.0, 20, 11, 0.55),
            (1, 4.0, 4.0, 10, 9, 0.9),
        ]

    def test_monotone_and_mass_preserving(self, spark):
        from recover_spark.ops.classifier_eval import (
            isotonic_calibration_by_group,
        )

        df = spark.range(4000).select(
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") % 50).alias("s"),
            ((F.col("id") * 7919) % 11 < 5).alias("label"),
        )
        got = isotonic_calibration_by_group(df, ["g"], "s", "label").collect()
        by_g: dict = {}
        for r in got:
            by_g.setdefault(r["g"], []).append(r)
        tot_rows = sum(r["n_rows"] for r in got)
        tot_pos = sum(r["n_pos"] for r in got)
        assert tot_rows == 4000
        assert tot_pos == df.filter("label").count()
        for rows in by_g.values():
            rows.sort(key=lambda r: r["block"])
            rates = [r["calibrated"] for r in rows]
            assert rates == sorted(rates)  # isotonic
            for a, b in zip(rows, rows[1:]):
                assert a["score_hi"] < b["score_lo"]  # disjoint blocks


class TestStreamIsotonic:
    def test_streamed_fit_equals_batch_fit_on_bins(self, spark, tmp_path):
        from recover_spark.ops.classifier_eval import (
            isotonic_calibration_by_group,
        )
        from recover_spark.streaming.matview import (
            maintain_calibration_matview,
            read_isotonic_matview,
        )

        df = spark.range(6000).select(
            (F.col("id") % 2).cast("string").alias("g"),
            ((F.col("id") * 31) % 100 / 100.0).alias("score"),
            ((F.col("id") * 7919) % 11 < 5).cast("int").alias("label"),
        )
        src = str(tmp_path / "src")
        df.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("g string, score double, label int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = str(tmp_path / "state")
        q = maintain_calibration_matview(
            stream, state, str(tmp_path / "ckpt"), ["g"], "score", "label",
            bins=10,
        )
        q.awaitTermination(120)
        streamed = sorted(
            map(tuple, read_isotonic_matview(spark, state, ["g"]).collect())
        )
        batch = sorted(
            map(
                tuple,
                isotonic_calibration_by_group(
                    df.select(
                        "g",
                        F.least(
                            F.floor(F.col("score") * 10).cast("int"),
                            F.lit(9),
                        ).alias("bin"),
                        "label",
                    ),
                    ["g"],
                    "bin",
                    "label",
                ).collect(),
            )
        )
        assert streamed == batch


class TestIndexBuildAtomicity:
    def test_poisoned_index_detected_and_rebuilt(self, spark, tmp_path):
        import os

        from recover_spark.ops.similarity import (
            build_ivf_index,
            build_pq_sidecar,
            ivf_index_complete,
            ivf_topk_indexed,
            pq_sidecar_complete,
        )

        emb = spark.range(64).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: (F.col("id") * i % 17 + 1).cast("double"),
            ).alias("embedding"),
        )
        idx = str(tmp_path / "idx")
        # the pre-atomic crash shape: dir tree exists, centroids empty
        os.makedirs(os.path.join(idx, "_centroids"))
        assert not ivf_index_complete(idx)  # isdir() would have lied
        build_ivf_index(emb, idx, n_centroids=4)
        assert ivf_index_complete(idx)
        assert not os.path.isdir(idx + ".tmp")  # tmp swapped away
        assert not pq_sidecar_complete(idx)
        build_pq_sidecar(
            spark, idx, m_subspaces=4, n_codes=4, dim=64
        )
        assert pq_sidecar_complete(idx)
        assert not os.path.isdir(os.path.join(idx, "_pq.tmp"))
        # and the rebuilt index actually answers
        q = emb.filter(F.col("vec_id") < 2)
        assert ivf_topk_indexed(spark, idx, q, nprobe=2, k=3).count() > 0

    def test_rebuild_replaces_stale_complete_index(self, spark, tmp_path):
        from recover_spark.ops.similarity import (
            build_ivf_index,
            ivf_index_complete,
        )

        emb = spark.range(32).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: (F.col("id") + i).cast("double"),
            ).alias("embedding"),
        )
        idx = str(tmp_path / "idx")
        build_ivf_index(emb, idx, n_centroids=4)
        rows_before = spark.read.parquet(idx).count()
        build_ivf_index(emb.filter("vec_id < 16"), idx, n_centroids=4)
        assert ivf_index_complete(idx)
        assert spark.read.parquet(idx).count() == 16 != rows_before
