"""Round-12 third-batch operators: Poisson-bootstrap confidence
intervals (operators/analytics.py:bootstrap_ci), Benjamini-Hochberg
FDR over per-segment KS tests (quality/drift.py), split-conformal
intervals (ops/classifier_eval.py), corpus self-BLEU
(ops/text_analysis.py), and JL sign random projection (ops/pca.py)."""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F
import pytest

from recover_spark.operators.analytics import POISSON1_CDF, bootstrap_ci


def _py_u01(key: str, rep: int, salt: str = "boot") -> float:
    h = hashlib.md5(f"{salt}|{key}#{rep}".encode()).hexdigest()
    return int(h[:8], 16) / 4294967296.0


def _py_weight(key: str, rep: int) -> int:
    u = _py_u01(key, rep)
    for k, c in enumerate(POISSON1_CDF):
        if u < c:
            return k
    return len(POISSON1_CDF)


def _orders(spark, n=600, groups=3):
    return spark.range(n).select(
        (F.col("id") % groups).cast("string").alias("g"),
        (F.col("id") * 37 % 1000).cast("double").alias("x"),
        F.col("id").alias("k"),
    )


class TestBootstrapCI:
    def test_matches_independent_python_bootstrap(self, spark):
        """Bit-for-bit (to the 6-decimal contract) against a from-
        scratch Python Poisson bootstrap with the same hash draws."""
        df = _orders(spark, n=300, groups=2)
        out = {
            r["g"]: r
            for r in bootstrap_ci(
                df, ["g"], "x", "k", n_replicates=8, alpha=0.25
            ).collect()
        }
        rows = df.collect()
        by_g: dict[str, list] = {}
        for r in rows:
            by_g.setdefault(r["g"], []).append((str(r["k"]), r["x"]))
        lo_ix = max(1, math.ceil(0.125 * 8))
        hi_ix = min(8, math.ceil(0.875 * 8))
        for g, items in by_g.items():
            means = []
            for b in range(8):
                ws = sum(_py_weight(k, b) * x for k, x in items)
                wn = sum(_py_weight(k, b) for k, _ in items)
                if wn:
                    means.append(ws / wn)
            srt = sorted(means)
            got = out[g]
            assert got["n"] == len(items)
            assert got["mean"] == pytest.approx(
                round(sum(x for _, x in items) / len(items) + 1e-9, 6),
                abs=1e-9,
            )
            assert got["n_boot"] == len(means)
            assert got["boot_mean"] == pytest.approx(
                round(sum(means) / len(means) + 1e-9, 6), abs=1e-9
            )
            assert got["ci_lo"] == pytest.approx(
                round(srt[lo_ix - 1] + 1e-9, 6), abs=1e-9
            )
            assert got["ci_hi"] == pytest.approx(
                round(srt[hi_ix - 1] + 1e-9, 6), abs=1e-9
            )

    def test_partitioning_invariance(self, spark):
        df = _orders(spark, n=500, groups=3)
        a = bootstrap_ci(df, ["g"], "x", "k", n_replicates=16).collect()
        b = bootstrap_ci(
            df.repartition(17, "x"), ["g"], "x", "k", n_replicates=16
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_interval_shape(self, spark):
        df = _orders(spark, n=3000, groups=2)
        for r in bootstrap_ci(df, ["g"], "x", "k").collect():
            assert r["ci_lo"] <= r["boot_mean"] <= r["ci_hi"]
            assert r["se_boot"] > 0
            # percentile CI of a 1000+-row mean hugs the exact mean
            assert abs(r["boot_mean"] - r["mean"]) < 5 * r["se_boot"]

    def test_weight_law_is_poisson1(self, spark):
        """Empirical weight frequencies over 20k draws match the capped
        Poisson(1) pmf (4-sigma bands)."""
        n = 20000
        freq = [0] * (len(POISSON1_CDF) + 1)
        for i in range(n):
            freq[_py_weight(str(i), 0)] += 1
        prev = 0.0
        for k, c in enumerate(POISSON1_CDF):
            p = c - prev
            prev = c
            sd = math.sqrt(n * p * (1 - p))
            assert abs(freq[k] - n * p) < 4 * sd, (k, freq[k], n * p)

    def test_plan_two_exchanges_no_cartesian(self, spark):
        df = _orders(spark, n=200, groups=2)
        plan = (
            bootstrap_ci(df, ["g"], "x", "k", n_replicates=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange hashpartitioning") <= 2


class TestFdrBH:
    def _tests_df(self, spark, ps):
        rows = [(f"t{i:02d}", float(p)) for i, p in enumerate(ps)]
        return spark.createDataFrame(rows, "tid string, p double")

    def test_hand_example_step_up(self, spark):
        """Classic BH worked example: m=5, q=0.05."""
        from recover_spark.quality.drift import fdr_bh

        ps = [0.01, 0.04, 0.03, 0.005, 0.20]
        out = {
            r["tid"]: r
            for r in fdr_bh(
                self._tests_df(spark, ps), "p", ["tid"], q=0.05
            ).collect()
        }
        # sorted p: .005(r1) .01(r2) .03(r3) .04(r4) .20(r5)
        # p*m/r:    .025     .025    .05     .05     .20
        # reverse running min: .20 .05 .05 .025 .025
        expect = {
            "t03": (1, 0.025, True),
            "t00": (2, 0.025, True),
            "t02": (3, 0.05, True),
            "t01": (4, 0.05, True),
            "t04": (5, 0.20, False),
        }
        for tid, (rank, padj, rej) in expect.items():
            assert out[tid]["rank"] == rank
            assert out[tid]["p_adj"] == pytest.approx(padj, abs=2e-6)
            assert out[tid]["reject"] is rej

    def test_step_up_rule_equivalence(self, spark):
        """reject == the textbook step-up rule on random-ish p's."""
        from recover_spark.quality.drift import fdr_bh

        ps = [((i * 37) % 100 + 0.5) / 100.0 for i in range(30)]
        ps[3], ps[11], ps[17] = 0.0005, 0.001, 0.004
        q = 0.1
        out = fdr_bh(self._tests_df(spark, ps), "p", ["tid"], q=q).collect()
        srt = sorted(ps)
        m = len(ps)
        kstar = max(
            (i + 1 for i in range(m) if srt[i] <= (i + 1) / m * q),
            default=0,
        )
        for r in out:
            assert r["reject"] is (r["rank"] <= kstar)

    def test_null_p_rows_excluded(self, spark):
        """NULL p-values must not take rank 1 under nulls-first sort,
        shift real ranks, inflate m, or inherit a reject decision —
        they are excluded from ranking AND from the output."""
        from recover_spark.quality.drift import fdr_bh

        rows = [("t0", 0.01), ("tn", None), ("t1", 0.04), ("t2", 0.03),
                ("t3", 0.005), ("t4", 0.20)]
        df = spark.createDataFrame(rows, "tid string, p double")
        out = {r["tid"]: r for r in fdr_bh(df, "p", ["tid"], q=0.05).collect()}
        assert "tn" not in out
        # Identical to the 5-row hand example: m=5, same ranks/adj.
        assert out["t3"]["rank"] == 1
        assert out["t0"]["rank"] == 2
        assert out["t0"]["p_adj"] == pytest.approx(0.025, abs=2e-6)
        assert out["t4"]["reject"] is False
        assert out["t2"]["reject"] is True

    def test_p_adj_monotone_in_rank(self, spark):
        from recover_spark.quality.drift import fdr_bh

        ps = [((i * 61) % 97 + 1) / 100.0 for i in range(25)]
        out = sorted(
            fdr_bh(self._tests_df(spark, ps), "p", ["tid"]).collect(),
            key=lambda r: r["rank"],
        )
        adj = [r["p_adj"] for r in out]
        assert adj == sorted(adj)
        assert all(0.0 <= a <= 1.0 for a in adj)


class TestKsPvalues:
    def _frame(self, spark, rows):
        return spark.createDataFrame(
            rows, "ks_grid double, n_base long, n_cur long"
        )

    @staticmethod
    def _py_p(d, na, nb, terms=100):
        ne = na * nb / (na + nb)
        lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
        if lam < 0.05:
            # Defined as 1 below the truncation's convergence point
            # (true tail there is < 1e-100 away from 1).
            return 1.0
        s = sum(
            (1.0 if k % 2 == 1 else -1.0) * math.exp(-2.0 * k * k * lam * lam)
            for k in range(1, terms + 1)
        )
        return min(1.0, max(0.0, 2.0 * s))

    def test_matches_independent_python(self, spark):
        from recover_spark.quality.drift import ks_asymptotic_pvalues

        rows = [
            (0.0, 1000, 1000),
            (0.005, 50000, 50000),
            (0.02, 20000, 20000),
            (0.05, 5000, 5000),
            (0.10, 2000, 2000),
            (0.30, 500, 400),
            (0.80, 100, 100),
            # lam < 0.05 region: the raw 100-term truncation
            # pair-cancels toward 0 here (a false alarm for two
            # nearly-identical samples); defined p = 1.
            (0.0001, 50000, 50000),   # lam ~ 0.016
            (0.00025, 30000, 30000),  # lam ~ 0.031
        ]
        out = ks_asymptotic_pvalues(self._frame(spark, rows)).collect()
        for r in out:
            exp = round(
                self._py_p(r["ks_grid"], r["n_base"], r["n_cur"]) + 1e-9, 6
            )
            assert r["p_value"] == pytest.approx(exp, abs=1e-9), r

    def test_known_kolmogorov_point(self, spark):
        """Q_KS(lambda=1) = 0.26999967...; pick (D, n) so the Stephens
        factor lands lambda at exactly 1.0."""
        from recover_spark.quality.drift import ks_asymptotic_pvalues

        na = nb = 20000  # ne = 10000, factor = 100.1211
        d = 1.0 / (math.sqrt(10000.0) + 0.12 + 0.11 / 100.0)
        out = ks_asymptotic_pvalues(
            self._frame(spark, [(d, na, nb)])
        ).collect()[0]
        assert out["p_value"] == pytest.approx(0.27, abs=1e-4)

    def test_monotone_decreasing_in_d(self, spark):
        from recover_spark.quality.drift import ks_asymptotic_pvalues

        rows = [(i / 100.0, 5000, 5000) for i in range(0, 30, 3)]
        out = sorted(
            ks_asymptotic_pvalues(self._frame(spark, rows)).collect(),
            key=lambda r: r["ks_grid"],
        )
        ps = [r["p_value"] for r in out]
        assert ps[0] == 1.0
        assert all(a >= b for a, b in zip(ps, ps[1:]))


class TestSplitConformal:
    def _df(self, spark, n=2000, groups=2):
        return spark.range(n).select(
            (F.col("id") % groups).cast("string").alias("g"),
            (F.col("id") * 17 % 500).cast("double").alias("y"),
            ((F.col("id") * 17 % 500) + (F.col("id") * 7 % 41) - 20)
            .cast("double")
            .alias("yhat"),
            F.col("id").cast("string").alias("k"),
        )

    @staticmethod
    def _py_conformal(rows, alpha=0.1):
        import hashlib as hl

        by_g: dict[str, dict[str, list]] = {}
        for g, y, yhat, k in rows:
            h = int(
                hl.md5(f"conformal|{k}".encode()).hexdigest()[:8], 16
            )
            side = "cal" if h % 2 == 0 else "test"
            by_g.setdefault(g, {"cal": [], "test": []})[side].append(
                abs(y - yhat)
            )
        out = {}
        for g, d in by_g.items():
            cal = sorted(d["cal"])
            n = len(cal)
            k_ix = min((9 * (n + 1) + 9) // 10, n)
            q = cal[k_ix - 1]
            cov = sum(1.0 for r in d["test"] if r <= q) / len(d["test"])
            out[g] = (n, len(d["test"]), q, cov)
        return out

    def test_matches_independent_python(self, spark):
        from recover_spark.ops.classifier_eval import split_conformal

        df = self._df(spark, n=1500, groups=3)
        got = {
            r["g"]: r
            for r in split_conformal(
                df, ["g"], "y", "yhat", "k", alpha=0.1
            ).collect()
        }
        exp = self._py_conformal(
            [(r["g"], r["y"], r["yhat"], r["k"]) for r in df.collect()]
        )
        for g, (n_cal, n_test, q, cov) in exp.items():
            assert got[g]["n_cal"] == n_cal
            assert got[g]["n_test"] == n_test
            assert got[g]["q_hat"] == pytest.approx(
                round(q + 1e-9, 6), abs=1e-9
            )
            assert got[g]["coverage"] == pytest.approx(
                round(cov + 1e-9, 6), abs=1e-9
            )

    def test_coverage_near_target(self, spark):
        """On exchangeable residuals the realized coverage sits within
        a few points of 1 - alpha (finite-sample guarantee is >=)."""
        from recover_spark.ops.classifier_eval import split_conformal

        df = self._df(spark, n=6000, groups=1)
        r = split_conformal(df, ["g"], "y", "yhat", "k", alpha=0.1).collect()[
            0
        ]
        assert r["target"] == pytest.approx(0.9)
        assert 0.85 <= r["coverage"] <= 0.97

    def test_tiny_group_clamps_k(self, spark):
        from recover_spark.ops.classifier_eval import split_conformal

        df = self._df(spark, n=14, groups=1)
        out = split_conformal(df, ["g"], "y", "yhat", "k", alpha=0.1)
        rows = out.collect()
        assert len(rows) == 1
        # k = ceil(0.9 * (n_cal + 1)) clamps to n_cal; q_hat is the max
        # calibration residual
        exp = self._py_conformal(
            [(r["g"], r["y"], r["yhat"], r["k"]) for r in df.collect()]
        )["0"]
        assert rows[0]["q_hat"] == pytest.approx(
            round(exp[2] + 1e-9, 6), abs=1e-9
        )

    def test_partitioning_invariance(self, spark):
        from recover_spark.ops.classifier_eval import split_conformal

        df = self._df(spark, n=900, groups=2)
        a = split_conformal(df, ["g"], "y", "yhat", "k").collect()
        b = split_conformal(
            df.repartition(13, "y"), ["g"], "y", "yhat", "k"
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestSelfBleu:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    def test_identical_docs_bleu_one(self, spark):
        from recover_spark.ops.text_analysis import corpus_self_bleu

        rows = [(i, "the cat sat on the mat", "en") for i in range(6)]
        r = corpus_self_bleu(self._docs(spark, rows)).collect()[0]
        assert r["n_pairs"] == 5
        assert r["p1"] == 1.0 and r["p2"] == 1.0
        assert r["bp"] == 1.0 and r["self_bleu"] == 1.0

    def test_disjoint_docs_bleu_zero(self, spark):
        from recover_spark.ops.text_analysis import corpus_self_bleu

        rows = [
            (0, "alpha beta gamma", "en"),
            (1, "delta epsilon zeta", "en"),
            (2, "eta theta iota", "en"),
        ]
        r = corpus_self_bleu(self._docs(spark, rows)).collect()[0]
        assert r["p1"] == 0.0 and r["self_bleu"] == 0.0

    def test_hand_computed_clipping(self, spark):
        """cand='a a b', ref='a b b': clipped unigrams min(2,1)+min(1,2)
        = 2 of 3; bigrams cand {'a a','a b'} vs ref {'a b','b b'} ->
        1 of 2. bp = 1 (equal lengths)."""
        from recover_spark.ops.text_analysis import corpus_self_bleu

        rows = [(0, "a a b", "en"), (1, "a b b", "en")]
        r = corpus_self_bleu(self._docs(spark, rows)).collect()[0]
        assert r["n_pairs"] == 1
        assert r["p1"] == pytest.approx(2 / 3, abs=1e-6)
        assert r["p2"] == pytest.approx(0.5, abs=1e-6)
        assert r["self_bleu"] == pytest.approx(
            math.sqrt((2 / 3) * 0.5), abs=1e-6
        )

    def test_brevity_penalty(self, spark):
        """cand shorter than ref -> bp = exp(1 - ref/cand) < 1."""
        from recover_spark.ops.text_analysis import corpus_self_bleu

        rows = [(0, "a b", "en"), (1, "a b c d", "en")]
        r = corpus_self_bleu(self._docs(spark, rows)).collect()[0]
        assert r["bp"] == pytest.approx(round(math.exp(1 - 4 / 2) + 1e-9, 6))

    def test_block_boundary_pairless(self, spark):
        """Docs straddling a block boundary do not pair across it."""
        from recover_spark.ops.text_analysis import corpus_self_bleu

        rows = [
            (4094, "x y z", "en"),
            (4095, "x y z", "en"),
            (4096, "x y z", "en"),  # new block, alone -> no pair
        ]
        r = corpus_self_bleu(self._docs(spark, rows)).collect()[0]
        assert r["n_pairs"] == 1

    def test_matches_independent_python(self, spark):
        from recover_spark.ops.text_analysis import corpus_self_bleu
        import re

        rows = [
            (0, "the quick brown fox", "en"),
            (1, "the quick red fox jumps", "en"),
            (2, "a lazy dog sleeps", "en"),
            (3, "the lazy dog barks loudly", "en"),
            (4, "Quick brown foxes!", "en"),
        ]
        got = corpus_self_bleu(self._docs(spark, rows)).collect()[0]

        def toks(s):
            return [t for t in re.split(r"[^a-z0-9']+", s.lower()) if t]

        ts = [toks(t) for _, t, _ in rows]
        pairs = [(ts[i], ts[i + 1]) for i in range(len(ts) - 1)]
        from collections import Counter

        def grams(t, n):
            return Counter(
                " ".join(t[i : i + n]) for i in range(len(t) - n + 1)
            )

        m1 = sum(
            sum((grams(c, 1) & grams(r, 1)).values()) for c, r in pairs
        )
        m2 = sum(
            sum((grams(c, 2) & grams(r, 2)).values()) for c, r in pairs
        )
        ct = sum(len(c) for c, _ in pairs)
        rt = sum(len(r) for _, r in pairs)
        t2 = sum(max(len(c) - 1, 0) for c, _ in pairs)
        p1, p2 = m1 / ct, m2 / t2
        bp = min(1.0, math.exp(1 - rt / ct))
        assert got["n_pairs"] == len(pairs)
        assert got["p1"] == pytest.approx(round(p1 + 1e-9, 6), abs=1e-9)
        assert got["p2"] == pytest.approx(round(p2 + 1e-9, 6), abs=1e-9)
        assert got["self_bleu"] == pytest.approx(
            round(bp * math.sqrt(p1 * p2) + 1e-9, 6), abs=1e-9
        )


class TestRandomSignProjection:
    def test_matrix_deterministic_and_scaled(self):
        from recover_spark.ops.pca import jl_sign_matrix

        m1 = jl_sign_matrix(32, 8)
        m2 = jl_sign_matrix(32, 8)
        assert m1 == m2
        inv = 1.0 / math.sqrt(8.0)
        assert all(abs(w) == inv for row in m1 for w in row)
        # salt changes the matrix
        assert jl_sign_matrix(32, 8, salt="other") != m1

    def test_projection_matches_numpy(self, spark):
        import numpy as np

        from recover_spark.ops.pca import jl_sign_matrix, random_sign_projection

        d, k, n = 16, 4, 50
        rows = [
            (i, [math.sin(i * 0.7 + j) for j in range(d)]) for i in range(n)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["vec_id"]: [r[f"rp{c}"] for c in range(k)]
            for r in random_sign_projection(
                df, "embedding", in_dim=d, out_dim=k
            ).collect()
        }
        s = np.asarray(jl_sign_matrix(d, k))
        for i, v in rows:
            exp = s @ np.asarray(v)
            for c in range(k):
                assert out[i][c] == pytest.approx(exp[c], abs=2e-6)

    def test_jl_distance_preservation(self, spark):
        """Median squared-distance ratio across pairs near 1 (the JL
        concentration), k=16 from d=64."""
        import numpy as np

        from recover_spark.ops.pca import jl_sign_matrix

        rng = np.random.default_rng(7)
        x = rng.normal(size=(60, 64))
        s = np.asarray(jl_sign_matrix(64, 16))
        y = x @ s.T
        ratios = []
        for i in range(0, 58, 2):
            a = float(((x[i] - x[i + 1]) ** 2).sum())
            b = float(((y[i] - y[i + 1]) ** 2).sum())
            ratios.append(b / a)
        med = sorted(ratios)[len(ratios) // 2]
        assert 0.7 < med < 1.3
        # unbiasedness: mean ratio even tighter
        assert 0.8 < sum(ratios) / len(ratios) < 1.2


class TestStreamBootstrapMatview:
    def test_stream_equals_batch(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            maintain_bootstrap_matview,
            read_bootstrap_matview,
        )

        df = _orders(spark, n=800, groups=3)
        src = str(tmp_path / "src")
        df.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("g string, x double, k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = maintain_bootstrap_matview(
            stream,
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
            ["g"],
            "x",
            "k",
            n_replicates=16,
        )
        q.awaitTermination(120)
        streamed = read_bootstrap_matview(
            spark, str(tmp_path / "state"), ["g"], 16
        ).collect()
        batch = bootstrap_ci(df, ["g"], "x", "k", n_replicates=16).collect()
        assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))

    def test_replayed_batch_id_skipped(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            merge_bootstrap_state,
            read_bootstrap_matview,
        )

        df = _orders(spark, n=200, groups=2)
        state = str(tmp_path / "state")
        merge_bootstrap_state(
            spark, df, state, ["g"], "x", "k", 8, batch_id=0
        )
        once = read_bootstrap_matview(spark, state, ["g"], 8).collect()
        # replaying the same batch id must be a no-op
        merge_bootstrap_state(
            spark, df, state, ["g"], "x", "k", 8, batch_id=0
        )
        twice = read_bootstrap_matview(spark, state, ["g"], 8).collect()
        assert sorted(map(tuple, once)) == sorted(map(tuple, twice))

    def test_merge_order_independence(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            merge_bootstrap_state,
            read_bootstrap_matview,
        )

        df = _orders(spark, n=600, groups=2)
        a = df.filter(F.col("k") % 3 == 0)
        b = df.filter(F.col("k") % 3 == 1)
        c = df.filter(F.col("k") % 3 == 2)
        outs = []
        for i, order in enumerate([(a, b, c), (c, a, b)]):
            state = str(tmp_path / f"state{i}")
            for j, part in enumerate(order):
                merge_bootstrap_state(
                    spark, part, state, ["g"], "x", "k", 8, batch_id=j
                )
            outs.append(
                sorted(
                    map(
                        tuple,
                        read_bootstrap_matview(
                            spark, state, ["g"], 8
                        ).collect(),
                    )
                )
            )
        assert outs[0] == outs[1]


class TestCvmDrift:
    def _counts(self, spark, rows, tag):
        return spark.createDataFrame(
            rows, f"column string, bin int, n_{tag} long"
        )

    def test_identical_distributions_zero(self, spark):
        from recover_spark.quality.drift import cvm_drift

        df = spark.range(4000).select(
            (F.col("id") % 100).cast("double").alias("v")
        )
        r = cvm_drift(df, df, ["v"], n_bins=10).collect()[0]
        assert r["cvm"] == 0.0

    def test_disjoint_distributions_large(self, spark):
        from recover_spark.quality.drift import cvm_drift

        a = spark.range(2000).select((F.col("id") % 50).cast("double").alias("v"))
        b = spark.range(2000).select(
            (F.col("id") % 50 + 1000).cast("double").alias("v")
        )
        r = cvm_drift(a, b, ["v"], n_bins=10).collect()[0]
        # full separation on baseline-quantile bins: the gap ramps
        # 0.1..0.9 over the 9 base-mass bins (both ECDFs are 1 at the
        # last grid point), so cvm = 0.05*sum((0.1j)^2) ~ 0.134
        assert r["cvm"] > 0.12

    def test_matches_independent_python_on_binned_counts(self, spark):
        from recover_spark.quality.drift import cvm_grid_from_binned_counts

        nb = [30, 10, 25, 5, 30]
        nc = [5, 40, 10, 30, 15]
        base = self._counts(
            spark, [("x", i, n) for i, n in enumerate(nb)], "base"
        )
        cur = self._counts(
            spark, [("x", i, n) for i, n in enumerate(nc)], "cur"
        )
        got = cvm_grid_from_binned_counts(base, cur, ["x"], 5).collect()[0]
        tb, tc = sum(nb), sum(nc)
        cb = cc = 0
        s = 0.0
        for i in range(5):
            cb += nb[i]
            cc += nc[i]
            d = float(cb * tc - cc * tb)
            s += d * d * (nb[i] + nc[i])
        exp = s / (float(tb) * tc * tb * tc * (tb + tc))
        assert got["cvm"] == pytest.approx(round(exp, 6), abs=1e-9)
        assert got["n_base"] == tb and got["n_cur"] == tc

    def test_tail_shift_registers(self, spark):
        """A shift affecting only the top decile moves cvm off zero."""
        from recover_spark.quality.drift import cvm_drift

        base = spark.range(5000).select(
            (F.col("id") % 1000).cast("double").alias("v")
        )
        cur = spark.range(5000).select(
            F.when(F.col("id") % 10 == 0, F.lit(5000.0))
            .otherwise((F.col("id") % 900).cast("double"))
            .alias("v")
        )
        r = cvm_drift(base, cur, ["v"], n_bins=10).collect()[0]
        assert r["cvm"] > 0.0


class TestStreamDriftCvm:
    def test_stream_equals_batch(self, spark, tmp_path):
        from recover_spark.quality.drift import cvm_drift
        from recover_spark.streaming.drift import (
            freeze_drift_baseline,
            maintain_drift_matview,
            read_drift_cvm,
        )

        base = spark.range(3000).select(
            (F.col("id") % 97).cast("double").alias("v")
        )
        cur = spark.range(3000).select(
            ((F.col("id") * 7) % 120).cast("double").alias("v")
        )
        state = str(tmp_path / "state")
        freeze_drift_baseline(base, state, ["v"], n_bins=8,
                              edge_accuracy=None)
        src = str(tmp_path / "src")
        cur.repartition(3).write.parquet(src)
        stream = (
            spark.readStream.schema("v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = maintain_drift_matview(stream, state, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        streamed = read_drift_cvm(spark, state).collect()
        batch = cvm_drift(
            base, cur, ["v"], n_bins=8, edge_accuracy=None
        ).collect()
        assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


class TestMmrRerank:
    def _cands(self, spark, rows):
        return spark.createDataFrame(
            rows, "q long, d long, rel double, v array<double>"
        )

    @staticmethod
    def _py_mmr(rows, k, lam):
        import numpy as np

        def cos(a, b):
            a, b = np.asarray(a), np.asarray(b)
            return float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))

        by_q = {}
        for q, d, rel, v in rows:
            by_q.setdefault(q, []).append((d, round(rel + 1e-9, 6), v))
        out = []
        for q, items in by_q.items():
            sel = [max(items, key=lambda t: (t[1], -t[0]))]
            out.append((q, sel[0][0], 1))
            rem = [t for t in items if t[0] != sel[0][0]]
            for rank in range(2, k + 1):
                if not rem:
                    break
                scored = []
                for d, rel, v in rem:
                    ms = max(cos(v, sv) for _, _, sv in sel)
                    scored.append(
                        (round(lam * rel - (1 - lam) * ms + 1e-9, 6), -d, d, rel, v)
                    )
                best = max(scored)
                out.append((q, best[2], rank))
                sel.append((best[2], best[3], best[4]))
                rem = [t for t in rem if t[0] != best[2]]
        return sorted(out)

    def test_redundancy_penalized(self, spark):
        """Two near-identical high-rel docs: MMR picks one, then the
        diverse lower-rel doc, NOT the twin."""
        from recover_spark.ops.retrieval import mmr_rerank

        rows = [
            (0, 1, 0.99, [1.0, 0.0, 0.0]),
            (0, 2, 0.98, [0.999, 0.01, 0.0]),   # twin of 1
            (0, 3, 0.50, [0.0, 1.0, 0.0]),      # orthogonal
        ]
        out = sorted(
            (r["rank"], r["d"])
            for r in mmr_rerank(
                self._cands(spark, rows), "q", "d", "rel", "v",
                k=3, lam=0.5,
            ).collect()
        )
        assert out == [(1, 1), (2, 3), (3, 2)]

    def test_lambda_one_is_pure_relevance(self, spark):
        from recover_spark.ops.retrieval import mmr_rerank

        rows = [
            (0, d, 1.0 - d * 0.1, [1.0, float(d)]) for d in range(1, 6)
        ]
        out = sorted(
            (r["rank"], r["d"])
            for r in mmr_rerank(
                self._cands(spark, rows), "q", "d", "rel", "v",
                k=5, lam=1.0,
            ).collect()
        )
        assert out == [(r, r) for r in range(1, 6)]

    def test_matches_independent_python(self, spark):
        from recover_spark.ops.retrieval import mmr_rerank

        rows = []
        for q in range(2):
            for d in range(1, 9):
                v = [
                    math.sin(q * 3 + d * 0.9 + j) for j in range(6)
                ]
                rows.append((q, d, 1.0 / d, v))
        got = sorted(
            (r["q"], r["d"], r["rank"])
            for r in mmr_rerank(
                self._cands(spark, rows), "q", "d", "rel", "v",
                k=4, lam=0.7,
            ).collect()
        )
        assert got == self._py_mmr(rows, 4, 0.7)

    def test_candidate_guard(self, spark):
        from recover_spark.ops.retrieval import mmr_rerank

        rows = [(0, d, 0.5, [1.0, 0.0]) for d in range(30)]
        with pytest.raises(ValueError, match="max_candidates"):
            mmr_rerank(
                self._cands(spark, rows), "q", "d", "rel", "v",
                k=2, max_candidates=10,
            )

    def _counted_cands(self, spark, rows):
        """Candidates whose source rows pass through an accumulator;
        returns (frame, accumulator)."""
        reads = spark.sparkContext.accumulator(0)

        def counted(row):
            reads.add(1)
            return row

        src = spark.sparkContext.parallelize(rows, 2).map(counted)
        return spark.createDataFrame(
            src, "q long, d long, rel double, v array<double>"
        ), reads

    def test_over_cap_refused_without_pinned_rdds(self, spark):
        """The refusal must not leave the over-cap candidate set stored
        in executor block storage."""
        from recover_spark.ops.retrieval import mmr_rerank

        rows = [(0, d, 0.5, [1.0, float(d)]) for d in range(30)]
        cands, _ = self._counted_cands(spark, rows)
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
        with pytest.raises(ValueError, match="max_candidates"):
            mmr_rerank(cands, "q", "d", "rel", "v", k=2, max_candidates=10)
        assert set(jsc.getPersistentRDDs().keys()) <= before

    def test_under_cap_runs_upstream_once(self, spark):
        from recover_spark.ops.retrieval import mmr_rerank

        rows = [(0, d, 1.0 / d, [1.0, float(d)]) for d in range(1, 9)]
        cands, reads = self._counted_cands(spark, rows)
        out = mmr_rerank(
            cands, "q", "d", "rel", "v", k=3, max_candidates=100
        ).collect()
        assert sorted(r["rank"] for r in out) == [1, 2, 3]
        assert reads.value == len(rows)


class TestLabelPropagation:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    @staticmethod
    def _py_lpa(pairs, rounds):
        und = set()
        for s, t in pairs:
            if s != t:
                und.add((s, t))
                und.add((t, s))
        nodes = {a for a, _ in und}
        lab = {n: n for n in nodes}
        for _ in range(rounds):
            from collections import Counter

            new = {}
            for n in nodes:
                c = Counter(lab[b] for a, b in und if a == n)
                best = min(
                    c.items(), key=lambda kv: (-kv[1], kv[0])
                )[0]
                new[n] = best
            lab = new
        return lab

    def test_two_cliques_with_bridge(self, spark):
        """Two triangles joined by one bridge edge: LPA settles each
        triangle on its min node id."""
        from recover_spark.ops.graph import label_propagation

        pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12),
                 (3, 10)]
        got = {
            r["node"]: r["community"]
            for r in label_propagation(
                self._edges(spark, pairs), rounds=4
            ).collect()
        }
        assert got == self._py_lpa(pairs, 4)
        # the two triangle cores carry distinct labels
        assert got[1] == got[2]
        assert got[11] == got[12]
        assert got[1] != got[11]

    def test_matches_independent_python_on_lattice(self, spark):
        from recover_spark.ops.graph import label_propagation

        pairs = [(i, (i * 7 + 3) % 40) for i in range(40)] + [
            (i, (i + 1) % 40) for i in range(0, 40, 2)
        ]
        got = {
            r["node"]: r["community"]
            for r in label_propagation(
                self._edges(spark, pairs), rounds=3
            ).collect()
        }
        assert got == self._py_lpa(pairs, 3)

    def test_deterministic_under_repartition(self, spark):
        from recover_spark.ops.graph import label_propagation

        pairs = [(i, (i * 5 + 1) % 30) for i in range(60)]
        e = self._edges(spark, pairs)
        a = sorted(map(tuple, label_propagation(e, rounds=2).collect()))
        b = sorted(
            map(
                tuple,
                label_propagation(e.repartition(7), rounds=2).collect(),
            )
        )
        assert a == b

    def test_self_loops_ignored_and_isolated_absent(self, spark):
        from recover_spark.ops.graph import label_propagation

        pairs = [(1, 1), (2, 3)]
        got = {
            r["node"]: r["community"]
            for r in label_propagation(
                self._edges(spark, pairs), rounds=2
            ).collect()
        }
        assert set(got) == {2, 3}
        # synchronous LPA on a lone edge OSCILLATES (the documented
        # fixed-round contract): after an even round count each node
        # is back to its own label; after an odd count they swap
        assert got == {2: 2, 3: 3}
        odd = {
            r["node"]: r["community"]
            for r in label_propagation(
                self._edges(spark, pairs), rounds=1
            ).collect()
        }
        assert odd == {2: 3, 3: 2}


class TestRatioMetricCI:
    def test_matches_independent_python(self, spark):
        import numpy as np

        from recover_spark.operators.analytics import Z_95, ratio_metric_ci

        rows = [
            ("a", float(10 + (i * 7) % 40), float(1 + i % 5))
            for i in range(400)
        ] + [("b", float(100 + i % 9), float(2 + i % 3)) for i in range(300)]
        df = spark.createDataFrame(rows, "g string, x double, y double")
        got = {
            r["g"]: r
            for r in ratio_metric_ci(df, ["g"], "x", "y").collect()
        }
        for g in ("a", "b"):
            xs = np.array([x for gg, x, _ in rows if gg == g])
            ys = np.array([y for gg, _, y in rows if gg == g])
            n = len(xs)
            r = xs.sum() / ys.sum()
            var_r = (
                xs.var(ddof=1)
                - 2 * r * np.cov(xs, ys, ddof=1)[0, 1]
                + r * r * ys.var(ddof=1)
            ) / (n * (ys.mean() ** 2))
            se = math.sqrt(max(var_r, 0.0))
            assert got[g]["n"] == n
            assert got[g]["ratio"] == pytest.approx(
                round(r + 1e-9, 6), abs=1e-8
            )
            assert got[g]["se"] == pytest.approx(
                round(se + 1e-9, 6), abs=1e-6
            )
            assert got[g]["ci_lo"] == pytest.approx(
                round(r - Z_95 * se + 1e-9, 6), abs=1e-5
            )

    def test_constant_ratio_zero_se(self, spark):
        """x = 3y exactly -> ratio 3, se 0 (delta variance collapses)."""
        from recover_spark.operators.analytics import ratio_metric_ci

        rows = [("a", 3.0 * v, float(v)) for v in range(1, 200)]
        df = spark.createDataFrame(rows, "g string, x double, y double")
        r = ratio_metric_ci(df, ["g"], "x", "y").collect()[0]
        assert r["ratio"] == 3.0
        assert r["se"] == 0.0
        assert r["ci_lo"] == 3.0 and r["ci_hi"] == 3.0


class TestCuped:
    def test_matches_independent_python(self, spark):
        import numpy as np

        from recover_spark.operators.analytics import cuped_adjust

        rows = []
        for i in range(600):
            x = float(1 + i % 17)
            noise = float((i * 13) % 7) - 3.0
            rows.append(("g", i % 2, 5.0 * x + noise, x))
        df = spark.createDataFrame(
            rows, "g string, v int, y double, x double"
        )
        got = {
            r["v"]: r
            for r in cuped_adjust(df, ["g"], "v", "y", "x").collect()
        }
        xs = np.array([x for _, _, _, x in rows])
        ys = np.array([y for _, _, y, _ in rows])
        theta = (
            (xs * ys).sum() - xs.sum() * ys.sum() / len(xs)
        ) / ((xs * xs).sum() - xs.sum() ** 2 / len(xs))
        rho2 = (
            ((xs * ys).sum() - xs.sum() * ys.sum() / len(xs)) ** 2
            / (
                ((xs * xs).sum() - xs.sum() ** 2 / len(xs))
                * ((ys * ys).sum() - ys.sum() ** 2 / len(ys))
            )
        )
        for v in (0, 1):
            sel = [(y, x) for _, vv, y, x in rows if vv == v]
            my = sum(y for y, _ in sel) / len(sel)
            mx = sum(x for _, x in sel) / len(sel)
            adj = my - theta * (mx - xs.mean())
            assert got[v]["mean_y"] == pytest.approx(
                round(my + 1e-9, 6), abs=1e-7
            )
            assert got[v]["mean_cuped"] == pytest.approx(
                round(adj + 1e-9, 6), abs=1e-6
            )
            assert got[v]["theta"] == pytest.approx(
                round(theta + 1e-9, 6), abs=1e-6
            )
            assert got[v]["variance_reduction"] == pytest.approx(
                round(rho2 + 1e-9, 6), abs=1e-6
            )
        # strongly covariate-driven y: rho^2 near 1
        assert got[0]["variance_reduction"] > 0.9

    def test_unbiased_when_covariate_balanced(self, spark):
        """Variant means shift by the SAME theta*(mx - pooled) when the
        covariate is balanced -> adjusted diff == raw diff."""
        from recover_spark.operators.analytics import cuped_adjust

        rows = []
        for i in range(500):
            # (i // 2) decouples x from the variant parity: both arms
            # see the identical covariate distribution
            x = float((i // 2) % 10)
            lift = 2.0 if i % 2 else 0.0
            rows.append(("g", i % 2, 3.0 * x + lift, x))
        df = spark.createDataFrame(
            rows, "g string, v int, y double, x double"
        )
        got = {
            r["v"]: r
            for r in cuped_adjust(df, ["g"], "v", "y", "x").collect()
        }
        raw_diff = got[1]["mean_y"] - got[0]["mean_y"]
        adj_diff = got[1]["mean_cuped"] - got[0]["mean_cuped"]
        assert adj_diff == pytest.approx(raw_diff, abs=1e-6)


class TestMannWhitney:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "g string, variant int, v double"
        )

    @staticmethod
    def _py_mwu(vals_a, vals_b):
        allv = sorted(vals_a + vals_b)
        from collections import Counter

        cnt = Counter(allv)
        mrank, below = {}, 0
        for v in sorted(cnt):
            mrank[v] = below + (cnt[v] + 1) / 2.0
            below += cnt[v]
        ra = sum(mrank[v] for v in vals_a)
        na, nb = len(vals_a), len(vals_b)
        n = na + nb
        u = ra - na * (na + 1) / 2.0
        tie3 = sum(t**3 - t for t in cnt.values())
        var = na * nb / 12.0 * ((n + 1) - tie3 / (n * (n - 1.0)))
        z = (u - na * nb / 2.0) / math.sqrt(var) if var > 0 else None
        return u, u / (na * nb), z

    def test_matches_independent_python_with_ties(self, spark):
        from recover_spark.operators.analytics import mannwhitney_u

        rows = []
        va, vb = [], []
        for i in range(400):
            val = float((i * 7) % 23)  # heavy ties
            if i % 2 == 0:
                va.append(val + (1.0 if i % 6 == 0 else 0.0))
                rows.append(("g", 0, va[-1]))
            else:
                vb.append(val)
                rows.append(("g", 1, vb[-1]))
        got = mannwhitney_u(
            self._df(spark, rows), ["g"], "variant", "v", 0, 1
        ).collect()[0]
        u, cles, z = self._py_mwu(va, vb)
        assert got["n_a"] == len(va) and got["n_b"] == len(vb)
        assert got["u_stat"] == pytest.approx(round(u + 1e-9, 6), abs=1e-9)
        assert got["cles"] == pytest.approx(round(cles + 1e-9, 6), abs=1e-9)
        assert got["z_stat"] == pytest.approx(round(z + 1e-9, 6), abs=1e-8)

    def test_hand_example(self, spark):
        """A = {1,2,3}, B = {4,5}: every B beats every A -> U = 0,
        cles = 0."""
        from recover_spark.operators.analytics import mannwhitney_u

        rows = [("g", 0, 1.0), ("g", 0, 2.0), ("g", 0, 3.0),
                ("g", 1, 4.0), ("g", 1, 5.0)]
        got = mannwhitney_u(
            self._df(spark, rows), ["g"], "variant", "v", 0, 1
        ).collect()[0]
        assert got["u_stat"] == 0.0
        assert got["cles"] == 0.0
        assert got["z_stat"] < 0

    def test_identical_distributions_centered(self, spark):
        from recover_spark.operators.analytics import mannwhitney_u

        rows = [("g", i % 2, float(i // 2 % 50)) for i in range(2000)]
        got = mannwhitney_u(
            self._df(spark, rows), ["g"], "variant", "v", 0, 1
        ).collect()[0]
        assert got["cles"] == pytest.approx(0.5, abs=0.01)
        assert abs(got["z_stat"]) < 1.0

    def test_all_tied_null_z(self, spark):
        """Every value identical -> zero rank variance -> NULL z."""
        from recover_spark.operators.analytics import mannwhitney_u

        rows = [("g", i % 2, 7.0) for i in range(50)]
        got = mannwhitney_u(
            self._df(spark, rows), ["g"], "variant", "v", 0, 1
        ).collect()[0]
        assert got["z_stat"] is None
        assert got["cles"] == 0.5


class TestTostEquivalence:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "g string, variant int, v double"
        )

    def test_matches_independent_python(self, spark):
        import statistics as st

        from recover_spark.operators.analytics import tost_equivalence

        rows = [("g", i % 2, float((i * 7) % 31) + (0.5 if i % 2 else 0.0))
                for i in range(400)]
        got = tost_equivalence(
            self._df(spark, rows), ["g"], "variant", "v", 0, 1, margin=2.0
        ).collect()[0]
        a = [v for _, x, v in rows if x == 0]
        b = [v for _, x, v in rows if x == 1]
        sea = st.variance(a) / len(a)
        seb = st.variance(b) / len(b)
        se = math.sqrt(sea + seb)
        diff = st.mean(a) - st.mean(b)
        assert got["mean_diff"] == pytest.approx(
            round(diff + 1e-9, 6), abs=1e-8
        )
        assert got["t_lower"] == pytest.approx(
            round((diff + 2.0) / se + 1e-9, 6), abs=1e-6
        )
        assert got["t_upper"] == pytest.approx(
            round((2.0 - diff) / se + 1e-9, 6), abs=1e-6
        )
        assert got["margin"] == 2.0

    def test_equivalent_variants_both_t_large(self, spark):
        """Identical distributions with a wide margin: both one-sided
        t's are large and positive (equivalence)."""
        from recover_spark.operators.analytics import tost_equivalence

        rows = [("g", i % 2, float((i // 2) % 20)) for i in range(2000)]
        got = tost_equivalence(
            self._df(spark, rows), ["g"], "variant", "v", 0, 1, margin=3.0
        ).collect()[0]
        assert got["t_lower"] > 5 and got["t_upper"] > 5

    def test_nonequivalent_one_side_fails(self, spark):
        """B shifted past the margin: one t is strongly negative."""
        from recover_spark.operators.analytics import tost_equivalence

        rows = [("g", i % 2, float((i // 2) % 20) + (6.0 if i % 2 else 0.0))
                for i in range(2000)]
        got = tost_equivalence(
            self._df(spark, rows), ["g"], "variant", "v", 0, 1, margin=3.0
        ).collect()[0]
        assert min(got["t_lower"], got["t_upper"]) < -5

    def test_margin_guard(self, spark):
        from recover_spark.operators.analytics import tost_equivalence

        with pytest.raises(ValueError, match="margin"):
            tost_equivalence(
                self._df(spark, [("g", 0, 1.0)]),
                ["g"], "variant", "v", 0, 1, margin=0.0,
            )
