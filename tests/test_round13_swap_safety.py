"""Round-13 crash-safety fixes: two-rename promotion for the IVF index
build and the PQ sidecar build (a complete generation exists at every
instant), and the bootstrap matview read lens healing a mid-swap crash
like every sibling lens."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _emb(spark, n=200):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < n)
    )


class TestIvfBuildSwap:
    def test_rebuild_over_existing_leaves_no_old_or_tmp(self, spark, tmp_path):
        from recover_spark.ops.similarity import (
            build_ivf_index,
            ivf_index_complete,
            ivf_topk_indexed,
        )

        idx = str(tmp_path / "ivf")
        build_ivf_index(_emb(spark, 100), idx, n_centroids=4)
        # second build over the live index must promote via two renames
        build_ivf_index(_emb(spark, 200), idx, n_centroids=4)
        assert ivf_index_complete(idx)
        assert not os.path.exists(idx + ".old")
        assert not os.path.exists(idx + ".tmp")
        q = _emb(spark, 3)
        out = ivf_topk_indexed(spark, idx, q, nprobe=4, k=3).collect()
        assert len(out) > 0

    def test_crash_between_renames_heals(self, spark, tmp_path):
        """Simulate a crash after live -> .old but before tmp -> live:
        only .old exists.  The completeness probe must heal it."""
        from recover_spark.ops.similarity import (
            build_ivf_index,
            ivf_index_complete,
            ivf_topk_indexed,
        )

        idx = str(tmp_path / "ivf")
        build_ivf_index(_emb(spark, 100), idx, n_centroids=4)
        before = sorted(
            r["vec_id"]
            for r in ivf_topk_indexed(
                spark, idx, _emb(spark, 2), nprobe=4, k=3
            ).collect()
        )
        os.rename(idx, idx + ".old")
        assert ivf_index_complete(idx)  # heals on entry
        assert os.path.isdir(idx) and not os.path.exists(idx + ".old")
        after = sorted(
            r["vec_id"]
            for r in ivf_topk_indexed(
                spark, idx, _emb(spark, 2), nprobe=4, k=3
            ).collect()
        )
        assert after == before


class TestPqSidecarSwap:
    def test_rebuild_over_existing_and_crash_heal(self, spark, tmp_path):
        from recover_spark.ops.similarity import (
            build_ivf_index,
            build_pq_sidecar,
            ivf_pq_topk_indexed,
            pq_sidecar_complete,
        )

        idx = str(tmp_path / "ivf")
        build_ivf_index(_emb(spark, 120), idx, n_centroids=4)
        build_pq_sidecar(spark, idx, m_subspaces=4, n_codes=4, dim=64)
        # rebuild over the live sidecar: two-rename, no residue
        build_pq_sidecar(spark, idx, m_subspaces=4, n_codes=4, dim=64)
        assert pq_sidecar_complete(idx)
        assert not os.path.exists(f"{idx}/_pq.old")
        assert not os.path.exists(f"{idx}/_pq.tmp")
        # crash window: only _pq.old on disk -> probe heals, query runs
        os.rename(f"{idx}/_pq", f"{idx}/_pq.old")
        assert pq_sidecar_complete(idx)
        assert os.path.isdir(f"{idx}/_pq")
        out = ivf_pq_topk_indexed(
            spark, idx, _emb(spark, 2), nprobe=4, k=3
        ).collect()
        assert len(out) > 0


class TestBootstrapMatviewRecovery:
    def test_read_lens_heals_mid_swap_state(self, spark, tmp_path):
        from recover_spark.streaming.matview import (
            merge_bootstrap_state,
            read_bootstrap_matview,
        )

        state = str(tmp_path / "boot_state")
        batch = spark.range(60).select(
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") % 7).cast("double").alias("v"),
            F.col("id").cast("string").alias("rk"),
        )
        merge_bootstrap_state(
            spark, batch, state, ["g"], "v", "rk", n_replicates=8,
        )
        before = sorted(
            tuple(r)
            for r in read_bootstrap_matview(
                spark, state, ["g"], n_replicates=8
            ).collect()
        )
        os.rename(state, state + ".old")
        after = sorted(
            tuple(r)
            for r in read_bootstrap_matview(
                spark, state, ["g"], n_replicates=8
            ).collect()
        )
        assert after == before
        assert os.path.isdir(state) and not os.path.exists(state + ".old")
