"""Round-4 operators: bitset semi-join reduction, canonical near-dup
collapse, temperature mixing, hashed-feature quality scoring, rolling
z-score anomalies, linear interpolation, HLL distinct rollup."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# -- bitset (bloom) semi-join reduction -------------------------------------


class TestBitsetPrefilter:
    def test_result_equals_plain_anti_join(self, spark):
        from recover_spark.operators.bloom import drop_deleted_filtered

        fact = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("payload")
        )
        deleted = spark.range(0, 5000, 7).select(F.col("id").alias("k"))
        got = drop_deleted_filtered(fact, deleted, ["k"], bits=1 << 14)
        want = fact.join(deleted, "k", "left_anti")
        assert got.count() == want.count()
        assert got.exceptAll(want.select("k", "payload")).count() == 0

    def test_exact_under_heavy_false_positives(self, spark):
        # bits << keys forces a mostly-set bitmap: every row becomes a
        # candidate, result must STILL be exact (bitmap only routes).
        from recover_spark.operators.bloom import drop_deleted_filtered

        fact = spark.range(0, 2000).select(F.col("id").alias("k"))
        deleted = spark.range(0, 2000, 2).select(F.col("id").alias("k"))
        got = drop_deleted_filtered(fact, deleted, ["k"], bits=64)
        assert sorted(r.k for r in got.collect()) == list(range(1, 2000, 2))

    def test_bitmap_size_is_bounded_by_bits(self, spark):
        from recover_spark.operators.bloom import build_key_bitset

        keys = spark.range(0, 100_000).select(F.col("id").alias("k"))
        bm = build_key_bitset(keys, ["k"], bits=1 << 12)
        # fixed-size summary: at most bits/64 words no matter the key count
        assert bm.count() <= (1 << 12) // 64

    def test_composite_keys(self, spark):
        from recover_spark.operators.bloom import drop_deleted_filtered

        fact = spark.range(0, 300).select(
            (F.col("id") % 10).alias("a"), (F.col("id") % 7).alias("b")
        )
        deleted = spark.createDataFrame([(1, 1), (2, 3)], "a long, b long")
        got = drop_deleted_filtered(fact, deleted, ["a", "b"], bits=1 << 10)
        want = fact.join(deleted, ["a", "b"], "left_anti")
        assert got.count() == want.count()

    def test_bitmap_join_is_broadcast(self, spark):
        from recover_spark.operators.bloom import drop_deleted_filtered

        fact = spark.range(0, 1000).select(F.col("id").alias("k"))
        deleted = spark.range(0, 100).select(F.col("id").alias("k"))
        plan = _plan(drop_deleted_filtered(fact, deleted, ["k"]))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


# -- canonical corpus collapse ----------------------------------------------


class TestCanonicalCorpus:
    def _clusters(self, spark):
        return spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)],
            "doc_id long, cluster long",
        )

    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, 50), (2, 90), (3, 90), (4, 10), (5, 30)],
            "doc_id long, n_chars long",
        )

    def test_keeps_longest_then_lowest_id(self, spark):
        from recover_spark.ops.dedup_text import canonical_corpus

        kept = canonical_corpus(self._docs(spark), self._clusters(spark))
        rows = {r.cluster: r for r in kept.collect()}
        assert rows[1].doc_id == 2  # 90 ties between 2 and 3 -> lowest id
        assert rows[1].cluster_size == 3
        assert rows[4].doc_id == 4 and rows[4].cluster_size == 1
        assert rows[5].doc_id == 5

    def test_aggregate_not_window(self, spark):
        from recover_spark.ops.dedup_text import canonical_corpus

        plan = _plan(canonical_corpus(self._docs(spark), self._clusters(spark)))
        assert "Window" not in plan  # argmax is a map-side-combinable agg
        # struct-max falls back to SortAggregate; what matters at scale
        # is the partial (map-side) phase before the exchange
        assert "partial_max" in plan


# -- temperature mixing -----------------------------------------------------


class TestTemperatureMix:
    def _corpus(self, spark):
        big = spark.range(0, 8000).select(
            F.col("id").alias("k"), F.lit("big").alias("src")
        )
        small = spark.range(100_000, 100_500).select(
            F.col("id").alias("k"), F.lit("small").alias("src")
        )
        return big.unionByName(small)

    def test_smallest_source_kept_whole(self, spark):
        from recover_spark.ops.sampling import temperature_mix

        out = temperature_mix(self._corpus(spark), "k", "src", alpha=0.5)
        kept = {r.src: r.n for r in out.groupBy("src").count()
                .withColumnRenamed("count", "n").collect()}
        assert kept["small"] == 500
        # big keeps ~ (8000/500)^-0.5 = 25% of rows; hash noise ~ +/- few %
        assert 0.18 * 8000 < kept["big"] < 0.32 * 8000

    def test_alpha_one_is_identity(self, spark):
        from recover_spark.ops.sampling import temperature_mix

        corpus = self._corpus(spark)
        assert temperature_mix(corpus, "k", "src", alpha=1.0).count() == (
            corpus.count()
        )

    def test_deterministic_and_no_corpus_shuffle_join(self, spark):
        from recover_spark.ops.sampling import temperature_mix

        corpus = self._corpus(spark)
        a = sorted(r.k for r in temperature_mix(corpus, "k", "src").collect())
        b = sorted(r.k for r in temperature_mix(corpus, "k", "src").collect())
        assert a == b
        plan = _plan(temperature_mix(corpus, "k", "src"))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


# -- hashed-feature quality scoring -----------------------------------------


class TestQualityScores:
    def test_scores_in_unit_interval_and_deterministic(self, spark):
        from recover_spark.ops.text_analysis import quality_scores

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "lorem ipsum dolor"),
             (3, "")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in quality_scores(docs).collect()}
        assert all(0.0 < out[i].quality_score < 1.0 for i in (1, 2))
        assert out[3].n_tokens == 0 and out[3].quality_score == 0.5
        again = {r.doc_id: r.quality_score
                 for r in quality_scores(docs).collect()}
        assert {k: v.quality_score for k, v in out.items()} == again

    def test_map_only_no_exchange(self, spark):
        from recover_spark.ops.text_analysis import quality_scores

        docs = spark.createDataFrame(
            [(1, "alpha beta")], "doc_id long, text string"
        )
        assert "Exchange" not in _plan(quality_scores(docs))


# -- rolling z-score anomalies ----------------------------------------------


class TestRollingZscore:
    def test_spike_flagged_cold_start_not(self, spark):
        from recover_spark.operators.temporal import rolling_zscore_anomalies

        t0 = datetime(2024, 1, 1)
        rows = [("u", t0 + timedelta(minutes=i), i, 10.0 + (i % 3) * 0.1)
                for i in range(30)]
        rows.append(("u", t0 + timedelta(minutes=31), 31, 500.0))  # spike
        df = spark.createDataFrame(
            rows, "user_id string, ts timestamp, event_id long, value double"
        )
        out = rolling_zscore_anomalies(
            df, "user_id", "ts", "value", lookback=20, min_points=5,
            threshold=3.0, tiebreakers=["event_id"],
        )
        flagged = [r.event_id for r in out.filter("is_anomaly").collect()]
        assert flagged == [31]
        # first 5 rows: not enough history -> never flagged, zscore null
        early = out.filter(F.col("event_id") < 5).collect()
        assert all(not r.is_anomaly and r.zscore is None for r in early)

    def test_single_window_exchange(self, spark):
        from recover_spark.operators.temporal import rolling_zscore_anomalies

        df = spark.createDataFrame(
            [("u", datetime(2024, 1, 1), 1, 1.0)],
            "user_id string, ts timestamp, event_id long, value double",
        )
        plan = _plan(
            rolling_zscore_anomalies(df, "user_id", tiebreakers=["event_id"])
        )
        assert plan.count("Exchange") == 1
        assert plan.count("Window") == 1  # all stats share one window pass


# -- linear interpolation ---------------------------------------------------


class TestResampleInterpolate:
    def test_exact_linear_fill_and_edge_clamp(self, spark):
        from recover_spark.operators.temporal import resample_interpolate

        t0 = datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("u", t0, 10.0),
             ("u", t0 + timedelta(hours=4), 30.0),
             ("u", t0 + timedelta(hours=6), 50.0)],
            "k string, ts timestamp, value double",
        )
        out = {r.bucket_start: r for r in resample_interpolate(
            df, "k", "ts", "value", interval_s=3600).collect()}
        base = int(t0.timestamp())
        assert out[base].value == 10.0 and not out[base].filled
        # linear between 10 @ h0 and 30 @ h4
        assert out[base + 3600].value == 15.0 and out[base + 3600].filled
        assert out[base + 2 * 3600].value == 20.0
        assert out[base + 3 * 3600].value == 25.0
        assert out[base + 4 * 3600].value == 30.0
        assert out[base + 5 * 3600].value == 40.0  # between 30 and 50

    def test_singleton_key_yields_its_observation(self, spark):
        from recover_spark.operators.temporal import resample_interpolate

        df = spark.createDataFrame(
            [("s", datetime(2024, 1, 1, 5), 7.0)],
            "k string, ts timestamp, value double",
        )
        rows = resample_interpolate(df, "k").collect()
        assert len(rows) == 1 and rows[0].value == 7.0


# -- HLL distinct rollup ----------------------------------------------------


class TestApproxDistinctRollup:
    def test_estimate_close_to_exact_and_mergeable_shape(self, spark):
        from recover_spark.operators.analytics import approx_distinct_rollup

        df = spark.range(0, 50_000).select(
            (F.col("id") % 4).alias("g"),
            (F.col("id") % 10).alias("fine"),
            (F.col("id") % 3000).alias("u"),
        )
        out = {r.g: r for r in approx_distinct_rollup(
            df, ["g"], "fine", "u", lg_k=12).collect()}
        for g in range(4):
            exact = df.filter(F.col("g") == g).select("u").distinct().count()
            assert abs(out[g].approx_distinct - exact) / exact < 0.05
            # id%4 and id%10 correlate: each g sees only same-parity
            # fine buckets -> 5 fine groups
            assert out[g].n_fine_groups == 5
        assert sum(r.n_rows for r in out.values()) == 50_000


# -- Z-order layout ---------------------------------------------------------


class TestZorderLayout:
    def test_zvalue_bit_interleave_exact(self, spark):
        from recover_spark.functions.layout import (
            interleave_bits,
            zorder_values,
        )

        # hand-checkable 2-bit interleave: x=0b10, y=0b01
        df = spark.createDataFrame([(2, 1)], "x long, y long")
        z = df.select(
            interleave_bits([F.col("x"), F.col("y")], bits=2).alias("z")
        ).first()[0]
        # bit j of x -> position 2j; of y -> position 2j+1:
        # x bits (0,1)->(pos0=0,pos2=1); y bits (1,0)->(pos1=1,pos3=0)
        assert z == 0b0110
        # bounds come from the data; corners map to 0 and max
        grid = spark.createDataFrame(
            [(0, 0), (0, 3), (3, 0), (3, 3)], "x long, y long"
        )
        zs = {(r.x, r.y): r.zvalue
              for r in zorder_values(grid, ["x", "y"], bits=2).collect()}
        assert zs[(0, 0)] == 0 and zs[(3, 3)] == 0b1111

    def test_zorder_layout_bounds_both_dims(self, spark, tmp_path):
        import pyarrow.parquet as pq
        from pathlib import Path

        from recover_spark.functions.layout import write_zordered_parquet
        from recover_spark.sources.writers import (
            write_range_clustered_parquet,
        )

        # two independent uniform dims
        df = spark.range(0, 40_000).select(
            (F.col("id") % 200).alias("x"),
            ((F.col("id") * 7919) % 200).alias("y"),
        )
        zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
        write_zordered_parquet(df, zdir, ["x", "y"], bits=8, num_files=16)
        write_range_clustered_parquet(df, rdir, ["x"], num_files=16)

        def avg_span(root, col_idx):
            spans = []
            for f in Path(root).glob("*.parquet"):
                md = pq.ParquetFile(str(f)).metadata
                st = [md.row_group(i).column(col_idx).statistics
                      for i in range(md.num_row_groups)]
                spans.append(max(s.max for s in st) - min(s.min for s in st))
            return sum(spans) / len(spans)

        # z-layout: BOTH dims bounded well below the 0..199 domain
        assert avg_span(zdir, 0) < 120
        assert avg_span(zdir, 1) < 120
        # range layout: clustered dim tight, other dim ~unbounded
        assert avg_span(rdir, 0) < 40
        assert avg_span(rdir, 1) > 150


# -- global row numbering without a global sort -----------------------------


class TestGlobalRowNumbers:
    def test_matches_naive_global_window(self, spark):
        from pyspark.sql import Window
        from recover_spark.operators.analytics import global_row_numbers

        df = spark.range(0, 20_000).select(
            ((F.col("id") * 7919) % 5000).alias("a"), F.col("id").alias("uid")
        )
        got = global_row_numbers(df, ["a", "uid"], buckets=16)
        naive = df.withColumn(
            "row_id", F.row_number().over(Window.orderBy("a", "uid"))
        )
        assert got.count() == 20_000
        assert got.join(
            naive, ["a", "uid"]
        ).filter(got["row_id"] != naive["row_id"]).count() == 0

    def test_fact_window_is_bucket_partitioned(self, spark):
        from recover_spark.operators.analytics import global_row_numbers

        df = spark.range(0, 10_000).select(
            F.col("id").alias("a"), F.col("id").alias("uid")
        )
        plan = _plan(global_row_numbers(df, ["a", "uid"], buckets=8))
        # the big window rides a hash exchange on the bucket; the ONLY
        # single-partition exchange is the <=buckets-row offsets frame
        assert "hashpartitioning(__bucket" in plan
        assert plan.count("Exchange SinglePartition") <= 1

    def test_skewed_leading_column_still_correct(self, spark):
        from pyspark.sql import Window
        from recover_spark.operators.analytics import global_row_numbers

        # 90% of rows share one leading value -> most land in one bucket
        df = spark.range(0, 5000).select(
            F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id")).alias("a"),
            F.col("id").alias("uid"),
        )
        got = global_row_numbers(df, ["a", "uid"], buckets=8)
        naive = df.withColumn(
            "row_id", F.row_number().over(Window.orderBy("a", "uid"))
        )
        assert got.join(
            naive, ["a", "uid"]
        ).filter(got["row_id"] != naive["row_id"]).count() == 0


# -- incremental HLL matview ------------------------------------------------


class TestDistinctMatview:
    def test_streamed_state_equals_batch_sketch(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            maintain_distinct_matview,
            read_distinct_matview,
        )

        src = str(tmp_path / "src")
        df = spark.range(0, 20_000).select(
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") % 1700).alias("u"),
        )
        df.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("g string, u long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = maintain_distinct_matview(
            stream, str(tmp_path / "state"), str(tmp_path / "ckpt"),
            ["g"], "u",
        )
        q.awaitTermination(120)
        got = {r.g: r for r in
               read_distinct_matview(spark, str(tmp_path / "state")).collect()}
        # the incremental union tracks the one-shot batch sketch
        # (DataSketches promotes sparse->dense during union, so the
        # estimates agree to estimator tolerance, not bit-for-bit)
        batch = {r.g: r.est for r in df.groupBy("g").agg(
            F.round(F.hll_sketch_estimate(
                F.hll_sketch_agg("u", F.lit(12)))).cast("bigint").alias("est")
        ).collect()}
        for g in batch:
            assert abs(got[g].approx_distinct - batch[g]) / batch[g] < 0.02
            exact = df.filter(F.col("g") == g).select("u").distinct().count()
            assert abs(got[g].approx_distinct - exact) / exact < 0.05
        assert sum(r.n_rows for r in got.values()) == 20_000

    def test_merge_is_associative_and_order_free(self, spark, tmp_path):
        # HLL register union is max-per-register: associative AND
        # commutative, so ANY merge order/grouping of the same batches
        # must land on the identical state (VERDICT r11 #4).  Exact
        # equality, not tolerance — order-dependence would be a bug.
        from recover_spark.streaming.matview import (
            merge_distinct_sketches,
            read_distinct_matview,
        )

        batches = [
            spark.range(i * 4000, (i + 1) * 4000).select(
                (F.col("id") % 3).cast("string").alias("g"),
                (F.col("id") % 2311).alias("u"),
            )
            for i in range(3)
        ]

        def run(name, parts):
            state = str(tmp_path / name)
            for j, b in enumerate(parts):
                merge_distinct_sketches(spark, b, state, ["g"], "u",
                                        batch_id=j)
            return tuple(sorted(
                (r.g, r.approx_distinct, r.n_rows)
                for r in read_distinct_matview(spark, state).collect()
            ))

        import itertools

        results = {
            run(f"perm{''.join(map(str, p))}",
                [batches[i] for i in p])
            for p in itertools.permutations(range(3))
        }
        # grouping-free too: (b0 u b1) then b2 == b0 then (b1 u b2)
        results.add(run("grp_left", [batches[0].unionAll(batches[1]),
                                     batches[2]]))
        results.add(run("grp_right", [batches[0],
                                      batches[1].unionAll(batches[2])]))
        assert len(results) == 1

    def test_replay_is_idempotent(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            merge_distinct_sketches,
            read_distinct_matview,
        )

        batch = spark.range(0, 500).select(
            F.lit("k").alias("g"), (F.col("id") % 97).alias("u")
        )
        state = str(tmp_path / "state")
        merge_distinct_sketches(spark, batch, state, ["g"], "u", batch_id=0)
        first = read_distinct_matview(spark, state).first()
        # replay of the same batch id is skipped by the sidecar
        merge_distinct_sketches(spark, batch, state, ["g"], "u", batch_id=0)
        again = read_distinct_matview(spark, state).first()
        assert (first.approx_distinct, first.n_rows) == (
            again.approx_distinct, again.n_rows
        )


# -- blocked record linkage -------------------------------------------------


class TestBlockedLinkage:
    def _records(self, spark):
        return spark.createDataFrame(
            [(1, "ACME CORP 01"), (2, "ACME CORP 02"), (3, "ACME CORP 99"),
             (4, "ZETA LLC 001"), (5, "WHOLLY OTHER")],
            "id long, name string",
        )

    def test_within_block_pairs_scored(self, spark):
        from recover_spark.ops.linkage import blocked_link_pairs

        block = F.expr("substring(name, 1, length(name) - 2)")
        pairs = blocked_link_pairs(
            self._records(spark), "id", "name", block, max_distance=2
        )
        got = {(r.id_a, r.id_b): r.distance for r in pairs.collect()}
        # the three ACME records share a block and differ by <= 2 edits
        assert got == {(1, 2): 1, (1, 3): 2, (2, 3): 2}

    def test_hot_block_guard_drops_oversized(self, spark):
        from recover_spark.ops.linkage import blocked_link_pairs

        # 50 identical-prefix records = one hot block of 50
        hot = spark.range(0, 50).select(
            F.col("id"), F.concat(F.lit("SAME X"), F.col("id") % 10).alias("name")
        )
        block = F.lit("SAME")
        guarded = blocked_link_pairs(
            hot, "id", "name", block, max_distance=2, max_block_size=10
        )
        assert guarded.count() == 0  # block dropped, no k^2 blowup
        unguarded = blocked_link_pairs(
            hot, "id", "name", block, max_distance=2, max_block_size=None
        )
        assert unguarded.count() > 0

    def test_no_cartesian_in_plan(self, spark):
        from recover_spark.ops.linkage import blocked_link_pairs

        block = F.expr("substring(name, 1, length(name) - 2)")
        plan = _plan(
            blocked_link_pairs(self._records(spark), "id", "name", block)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


# -- partition maintenance (dynamic overwrite) ------------------------------


class TestPartitionMaintenance:
    def test_dynamic_overwrite_replaces_only_touched_partitions(
        self, spark, tmp_path
    ):
        from recover_spark.sources.writers import (
            overwrite_partitions_dynamic,
            write_partitioned_parquet,
        )

        key = "spark.sql.sources.partitionOverwriteMode"
        before = spark.conf.get(key)
        path = str(tmp_path / "t")
        base = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3), ("c", 4)], "p string, v int"
        )
        write_partitioned_parquet(base, path, partition_by=["p"])
        # rerun touches only partition a with corrected values
        fix = spark.createDataFrame([("a", 99)], "p string, v int")
        overwrite_partitions_dynamic(fix, path, ["p"])
        got = {(r.p, r.v) for r in spark.read.parquet(path).collect()}
        assert got == {("a", 99), ("b", 3), ("c", 4)}
        # static mode untouched after the call: the session value is
        # exactly what it was (Spark spells its default "STATIC" and
        # matches the mode case-insensitively)
        assert spark.conf.get(key) == before
        assert before.lower() == "static"


# -- leakage-safe grouped split ---------------------------------------------


class TestGroupedSplit:
    def test_cluster_members_share_split(self, spark):
        from recover_spark.ops.sampling import split_assignment

        clusters = spark.createDataFrame(
            [(i, i % 7) for i in range(200)], "doc_id long, cluster long"
        )
        out = clusters.select(
            "cluster",
            split_assignment(
                F.col("cluster").cast("string"),
                {"train": 0.8, "valid": 0.1, "test": 0.1},
                salt="splitg",
            ).alias("split"),
        )
        # every cluster maps to exactly one split -> no leakage path
        assert out.select("cluster", "split").distinct().count() == 7


# -- time-chunked z-score (hot-key scale path) ------------------------------


class TestChunkedZscore:
    def test_chunked_equals_unchunked_exactly(self, spark):
        from recover_spark.operators.temporal import (
            rolling_zscore_time_anomalies,
        )

        # irregular timestamps spanning many chunks, duplicates included
        t0 = datetime(2024, 1, 1)
        rows = []
        for i in range(500):
            ts = t0 + timedelta(seconds=(i * 733) % 90_000)
            rows.append(("u%d" % (i % 3), ts, float((i * 37) % 100)))
        rows.append(("u0", t0 + timedelta(seconds=50_000), 10_000.0))
        df = spark.createDataFrame(rows, "k string, ts timestamp, value double")

        kw = dict(key_col="k", ts_col="ts", value_col="value",
                  window_s=3600, min_points=3, threshold=2.0)
        plain = rolling_zscore_time_anomalies(df, **kw)
        chunked = rolling_zscore_time_anomalies(df, **kw, chunk_s=7200)
        cols = ["k", "ts", "value", "baseline_mean", "baseline_n",
                "zscore", "is_anomaly"]
        assert plain.select(cols).exceptAll(chunked.select(cols)).count() == 0
        assert chunked.select(cols).exceptAll(plain.select(cols)).count() == 0
        assert chunked.filter("is_anomaly").count() >= 1

    def test_chunk_boundary_rows_keep_full_context(self, spark):
        from recover_spark.operators.temporal import (
            rolling_zscore_time_anomalies,
        )

        # five points just before a 2h chunk boundary, one just after:
        # the post-boundary point's baseline must see all five
        t0 = datetime(2024, 1, 1, 1, 30)
        rows = [("u", t0 + timedelta(minutes=5 * i), 10.0 + i) for i in range(5)]
        rows.append(("u", datetime(2024, 1, 1, 2, 10), 11.0))
        df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
        out = rolling_zscore_time_anomalies(
            df, "k", "ts", "value", window_s=3600, min_points=5,
            threshold=3.0, chunk_s=7200,
        )
        last = out.orderBy(F.col("ts").desc()).first()
        assert last.baseline_n == 5  # context carried across the boundary

    def test_rejects_chunk_smaller_than_window(self, spark):
        from recover_spark.operators.temporal import (
            rolling_zscore_time_anomalies,
        )

        df = spark.createDataFrame(
            [("u", datetime(2024, 1, 1), 1.0)],
            "k string, ts timestamp, value double",
        )
        with pytest.raises(ValueError):
            rolling_zscore_time_anomalies(
                df, "k", window_s=3600, chunk_s=60
            )


# -- edge inputs across the round-4 surface ---------------------------------


class TestEdgeInputs:
    def test_empty_inputs_yield_empty_not_errors(self, spark):
        from recover_spark.functions.layout import zorder_values
        from recover_spark.operators.bloom import drop_deleted_filtered
        from recover_spark.operators.temporal import (
            resample_interpolate,
            rolling_zscore_time_anomalies,
        )
        from recover_spark.ops.dedup_text import canonical_corpus
        from recover_spark.ops.linkage import blocked_link_pairs
        from recover_spark.ops.sampling import temperature_mix

        empty_kv = spark.createDataFrame([], "k long, v long")
        empty_docs = spark.createDataFrame([], "doc_id long, n_chars long")
        empty_ts = spark.createDataFrame(
            [], "k string, ts timestamp, value double"
        )
        empty_src = spark.createDataFrame([], "k long, src string")
        empty_named = spark.createDataFrame([], "id long, name string")

        assert drop_deleted_filtered(empty_kv, empty_kv, ["k"]).count() == 0
        assert canonical_corpus(
            empty_docs, spark.createDataFrame([], "doc_id long, cluster long")
        ).count() == 0
        assert temperature_mix(empty_src, "k", "src").count() == 0
        assert resample_interpolate(empty_ts, "k").count() == 0
        assert rolling_zscore_time_anomalies(
            empty_ts, "k", chunk_s=7200
        ).count() == 0
        assert zorder_values(empty_kv, ["k", "v"], bits=8).count() == 0
        assert blocked_link_pairs(
            empty_named, "id", "name", F.lit("b")
        ).count() == 0

    def test_deletes_superset_of_fact_empties_result(self, spark):
        from recover_spark.operators.bloom import drop_deleted_filtered

        fact = spark.range(0, 100).select(F.col("id").alias("k"))
        deleted = spark.range(0, 200).select(F.col("id").alias("k"))
        assert drop_deleted_filtered(fact, deleted, ["k"]).count() == 0

    def test_single_source_mix_keeps_everything(self, spark):
        from recover_spark.ops.sampling import temperature_mix

        one = spark.range(0, 300).select(
            F.col("id").alias("k"), F.lit("only").alias("src")
        )
        assert temperature_mix(one, "k", "src", alpha=0.3).count() == 300

    def test_zorder_degenerate_constant_column(self, spark):
        from recover_spark.functions.layout import zorder_values

        df = spark.range(0, 100).select(
            F.col("id").alias("x"), F.lit(7).alias("y")
        )
        out = zorder_values(df, ["x", "y"], bits=8)
        # constant dim scales to 0; z reduces to x's spread, no nulls
        assert out.filter(F.col("zvalue").isNull()).count() == 0
        assert out.select("zvalue").distinct().count() == 100


# -- interval overlap join --------------------------------------------------


class TestIntervalOverlapJoin:
    def test_overlap_semantics_and_single_count(self, spark):
        from recover_spark.operators.temporal import interval_overlap_join

        t0 = datetime(2024, 1, 1)

        def iv(key, iid, start_h, end_h):
            return (key, iid,
                    t0 + timedelta(hours=start_h), t0 + timedelta(hours=end_h))

        left = spark.createDataFrame(
            [iv("k", 1, 0, 10), iv("k", 2, 12, 13), iv("x", 3, 0, 10)],
            "k string, l_id long, l_start timestamp, l_end timestamp",
        )
        right = spark.createDataFrame(
            [iv("k", 7, 5, 6), iv("k", 8, 9.5, 11), iv("k", 9, 13, 14),
             iv("y", 10, 0, 10)],
            "k string, r_id long, r_start timestamp, r_end timestamp",
        )
        out = interval_overlap_join(left, right, on=["k"], bucket_seconds=3600)
        got = sorted((r.l_id, r.r_id) for r in out.collect())
        # (1,7) contained; (1,8) partial overlap; long interval 1 spans
        # many shared buckets with 7 but appears ONCE; (2,9) touch only
        # at the boundary (half-open -> no match); cross-key never joins
        assert got == [(1, 7), (1, 8)]

    def test_no_nested_loop(self, spark):
        from recover_spark.operators.temporal import interval_overlap_join

        t0 = datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("k", 1, t0, t0 + timedelta(hours=1))],
            "k string, l_id long, l_start timestamp, l_end timestamp",
        )
        df2 = df.select("k", F.col("l_id").alias("r_id"),
                        F.col("l_start").alias("r_start"),
                        F.col("l_end").alias("r_end"))
        plan = _plan(interval_overlap_join(df, df2, on=["k"]))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


# -- triangle enumeration ---------------------------------------------------


class TestTriangles:
    def test_known_graph(self, spark):
        from recover_spark.ops.graph import triangle_enumerate

        # triangle 1-2-3, square 4-5-6-7 (no triangle), pendant 3-8,
        # plus a duplicate and a reversed edge to test normalization
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 7), (7, 4),
             (3, 8), (2, 1), (1, 2)],
            "id_a long, id_b long",
        )
        got = sorted((r.t1, r.t2, r.t3)
                     for r in triangle_enumerate(edges).collect())
        assert got == [(1, 2, 3)]

    def test_hub_star_has_no_triangles_and_no_blowup(self, spark):
        from recover_spark.ops.graph import triangle_enumerate

        # star: hub 0 connected to 1..500 — zero triangles; the oriented
        # wedge count must be tiny (hub has out-degree <= 1)
        star = spark.range(1, 501).select(
            F.lit(0).alias("id_a"), F.col("id").alias("id_b")
        )
        assert triangle_enumerate(star).count() == 0

    def test_clique_count(self, spark):
        from recover_spark.ops.graph import triangle_enumerate

        # K5 has C(5,3) = 10 triangles
        nodes = list(range(5))
        edges = spark.createDataFrame(
            [(a, b) for a in nodes for b in nodes if a < b],
            "id_a long, id_b long",
        )
        assert triangle_enumerate(edges).count() == 10


# -- trend regression -------------------------------------------------------


class TestTrendRegression:
    def test_recovers_known_line(self, spark):
        from recover_spark.operators.analytics import trend_regression

        df = spark.range(0, 1000).select(
            F.lit("g").alias("g"),
            F.col("id").cast("double").alias("x"),
            (F.col("id") * 2.5 + 7.0).alias("y"),
        )
        row = trend_regression(df, ["g"], "y", "x").first()
        assert row.slope == 2.5 and row.intercept == 7.0
        assert row.r2 == 1.0 and row.n_points == 1000

    def test_partials_merge_map_side(self, spark):
        from recover_spark.operators.analytics import trend_regression

        df = spark.range(0, 100).select(
            (F.col("id") % 3).alias("g"),
            F.col("id").cast("double").alias("x"),
            F.col("id").cast("double").alias("y"),
        )
        plan = _plan(trend_regression(df, ["g"], "y", "x"))
        assert "partial_regr_slope" in plan or "partial" in plan.lower()


# -- perceptual-hash banding ------------------------------------------------


class TestPhashPairs:
    def test_near_pair_found_far_pair_rejected(self, spark):
        from recover_spark.ops.multimodal import phash_near_duplicates

        base = 0b101010101010101010101010101010101010101010101010101010101010
        rows = [
            (1, base),
            (2, base ^ 0b1),            # distance 1 -> pair
            (3, base ^ 0b10111),        # distance 4, 3 bands equal -> reject
            (4, 0),                     # far from everything
        ]
        df = spark.createDataFrame(rows, "media_id long, phash long")
        got = {(r.id_a, r.id_b): r.distance
               for r in phash_near_duplicates(df).collect()}
        # (1,3) is distance 4 -> rejected by the exact filter even
        # though 3 bands collide; (2,3) = xor 0b10110 = distance 3
        assert got == {(1, 2): 1, (2, 3): 3}

    def test_identical_hashes_distance_zero(self, spark):
        from recover_spark.ops.multimodal import phash_near_duplicates

        df = spark.createDataFrame(
            [(1, 777), (2, 777), (3, 777)], "media_id long, phash long"
        )
        got = sorted((r.id_a, r.id_b, r.distance)
                     for r in phash_near_duplicates(df).collect())
        assert got == [(1, 2, 0), (1, 3, 0), (2, 3, 0)]

    def test_threshold_beyond_band_guarantee_raises(self, spark):
        from recover_spark.ops.multimodal import phash_near_duplicates

        df = spark.createDataFrame([(1, 7)], "media_id long, phash long")
        with pytest.raises(ValueError):
            phash_near_duplicates(df, bands=4, max_distance=4)


# -- path transitions & windowed funnel (query-shape semantics) -------------


class TestPathAndFunnelShapes:
    def _events(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string"
        )

    def test_windowed_funnel_rejects_late_steps(self, spark, tmp_path):
        import __spark_entry__ as entry

        t0 = datetime(2024, 1, 1)
        rows = [
            # user 1: full funnel inside 24h windows
            (1, t0, 1, "view", 0.0, ""),
            (2, t0 + timedelta(hours=2), 1, "click", 0.0, ""),
            (3, t0 + timedelta(hours=3), 1, "purchase", 0.0, ""),
            # user 2: click arrives 30h after view -> outside the window
            (4, t0, 2, "view", 0.0, ""),
            (5, t0 + timedelta(hours=30), 2, "click", 0.0, ""),
            (6, t0 + timedelta(hours=31), 2, "purchase", 0.0, ""),
        ]
        sf = str(tmp_path)
        self._events(spark, rows).write.parquet(f"{sf}/events.parquet")
        got = {r.step: r.n_users
               for r in entry.q_funnel_windowed(spark, sf).collect()}
        assert got == {"view": 2, "view>click_24h": 1,
                       "view>click>purchase_24h": 1}
        # the unbounded funnel credits user 2
        loose = {r.step: r.n_users
                 for r in entry.q_funnel_steps(spark, sf).collect()}
        assert loose["view>click>purchase"] == 2

    def test_transition_shares_sum_to_one_per_source(self, spark, tmp_path):
        import __spark_entry__ as entry

        t0 = datetime(2024, 1, 1)
        rows = [
            (1, t0, 1, "view", 0.0, ""),
            (2, t0 + timedelta(minutes=1), 1, "click", 0.0, ""),
            (3, t0 + timedelta(minutes=2), 1, "view", 0.0, ""),
            (4, t0 + timedelta(minutes=3), 1, "click", 0.0, ""),
            (5, t0 + timedelta(minutes=4), 1, "purchase", 0.0, ""),
            (6, t0, 2, "view", 0.0, ""),
            (7, t0 + timedelta(minutes=1), 2, "view", 0.0, ""),
        ]
        sf = str(tmp_path)
        self._events(spark, rows).write.parquet(f"{sf}/events.parquet")
        out = entry.q_path_transitions(spark, sf).collect()
        got = {(r.prev_type, r.next_type): (r.n, r.share) for r in out}
        # view -> click twice, view -> view once
        assert got[("view", "click")][0] == 2
        assert got[("view", "view")][0] == 1
        by_prev = {}
        for (p, _), (_, share) in got.items():
            by_prev.setdefault(p, 0.0)
            by_prev[p] += share
        assert all(abs(s - 1.0) < 1e-6 for s in by_prev.values())


# -- unigram LM scoring -----------------------------------------------------


class TestUnigramLM:
    def test_rare_tokens_score_lower(self, spark):
        from recover_spark.ops.text_analysis import unigram_logprob_scores

        docs = spark.createDataFrame(
            [(1, "the the the the"), (2, "the the zzyzx qwfpgj")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in unigram_logprob_scores(docs).collect()}
        assert out[1].n_tokens == 4 and out[2].n_tokens == 4
        # doc 2 spends half its mass on hapaxes -> strictly lower
        assert out[2].mean_logprob < out[1].mean_logprob

    def test_smoothing_keeps_scores_finite(self, spark):
        from recover_spark.ops.text_analysis import unigram_logprob_scores

        docs = spark.createDataFrame(
            [(1, "solo")], "doc_id long, text string"
        )
        row = unigram_logprob_scores(docs).first()
        assert row.mean_logprob is not None
        # single-token vocab: p = (1+k)/(1+k) = 1 -> log exactly 0
        assert row.mean_logprob == 0.0


class TestIntervalOverlapEmpty:
    def test_empty_interval_overlaps_nothing(self, spark):
        from recover_spark.operators.temporal import interval_overlap_join

        t0 = datetime(2024, 1, 1)
        # left [t0, t0): empty — must pair with nothing even though a
        # right interval straddles t0
        left = spark.createDataFrame(
            [("k", 1, t0, t0)],
            "k string, l_id long, l_start timestamp, l_end timestamp",
        )
        right = spark.createDataFrame(
            [("k", 7, t0 - timedelta(hours=1), t0 + timedelta(hours=1))],
            "k string, r_id long, r_start timestamp, r_end timestamp",
        )
        assert interval_overlap_join(left, right, on=["k"]).count() == 0
