"""Persisted inverted text index + exact cosine probe
(ops/text_index.py) — the incremental near-dup path: new batches check
against the stored corpus at O(batch), never O(corpus)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recover_spark.ops.text_index import (
    append_text_index,
    build_text_index,
    probe_text_index,
)


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_OLD = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "sphinx of black quartz judge my vow"),
    (4, "how vexingly quick daft zebras jump"),
]
_NEW = [
    (101, "the quick brown fox jumped over the lazy dog"),  # ~dup of 1
    (102, "entirely novel content with fresh unseen vocabulary"),
    (103, "sphinx of black quartz judge my vow"),  # exact dup of 3
    (104, "pack my box with five dozen juice jugs please"),  # ~dup of 2
]


def _brute_cross(spark, old, new, threshold):
    """Reference: brute-force cross cosines via the batch AP-SS
    brute-force on the union, filtered to cross pairs."""
    from recover_spark.ops.apss import cosine_threshold_pairs_bruteforce

    union = _corpus(spark, old + new)
    new_ids = {i for i, _ in new}
    pairs = cosine_threshold_pairs_bruteforce(union, threshold).collect()
    out = set()
    for r in pairs:
        a, b = r["doc_a"], r["doc_b"]
        if (a in new_ids) != (b in new_ids):
            n, o = (a, b) if a in new_ids else (b, a)
            out.add((n, o, r["cosine"]))
    return sorted(out)


@pytest.mark.parametrize("strategy", ["prefix", "dense"])
@pytest.mark.parametrize("threshold", [0.4, 0.7, 0.9])
def test_probe_equals_brute_force_cross_pairs(
    spark, tmp_path, threshold, strategy
):
    path = str(tmp_path / "idx")
    build_text_index(_corpus(spark, _OLD), path, num_buckets=8)
    got = sorted(
        map(
            tuple,
            probe_text_index(
                _corpus(spark, _NEW), path, threshold, strategy=strategy
            ).collect(),
        )
    )
    assert got == _brute_cross(spark, _OLD, _NEW, threshold)
    if threshold <= 0.9:
        assert got, "fixture contains an exact dup; non-empty expected"


def test_exact_duplicate_scores_one_and_novel_doc_matches_nothing(
    spark, tmp_path
):
    path = str(tmp_path / "idx")
    build_text_index(_corpus(spark, _OLD), path, num_buckets=8)
    got = {
        (r.new_id, r.indexed_id): r.cosine
        for r in probe_text_index(
            _corpus(spark, _NEW), path, 0.95
        ).collect()
    }
    assert got[(103, 3)] == 1.0
    assert all(n != 102 for n, _ in got)


def test_append_extends_the_probed_corpus(spark, tmp_path):
    path = str(tmp_path / "idx")
    meta = build_text_index(_corpus(spark, _OLD), path, num_buckets=8)
    assert meta["n_docs"] == 4
    second = [(11, "completely separate second wave of documents here")]
    meta = append_text_index(_corpus(spark, second), path)
    assert meta["n_docs"] == 5
    probe = [(201, "completely separate second wave of documents here")]
    got = probe_text_index(_corpus(spark, probe), path, 0.9).collect()
    assert {(r.new_id, r.indexed_id, r.cosine) for r in got} == {
        (201, 11, 1.0)
    }
    # combined-corpus probe still equals brute force
    got_all = sorted(
        map(
            tuple,
            probe_text_index(_corpus(spark, _NEW), path, 0.5).collect(),
        )
    )
    assert got_all == _brute_cross(spark, _OLD + second, _NEW, 0.5)


def _drop_coverage_flag(path):
    """Rewrite the meta the way an index built before the
    ``vectors_cover_corpus`` flag existed looks: vectors/ present, no
    flag."""
    import json
    import os

    from recover_spark.ops.text_index import META_NAME

    meta_path = os.path.join(path, META_NAME)
    with open(meta_path) as fh:
        meta = json.load(fh)
    del meta["vectors_cover_corpus"]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh, sort_keys=True)


def test_pre_flag_index_probe_sees_appended_docs(spark, tmp_path):
    """On an index without the coverage flag, appends stop maintaining
    vectors/, so ``auto`` must not pick the dense scan of it."""
    path = str(tmp_path / "idx")
    build_text_index(_corpus(spark, _OLD), path, num_buckets=8)
    _drop_coverage_flag(path)
    second = [(11, "completely separate second wave of documents here")]
    append_text_index(_corpus(spark, second), path)
    probe = [(201, "completely separate second wave of documents here")]
    got = probe_text_index(
        _corpus(spark, probe), path, 0.9, strategy="auto"
    ).collect()
    assert {(r.new_id, r.indexed_id, r.cosine) for r in got} == {
        (201, 11, 1.0)
    }


def test_pre_flag_index_refuses_explicit_dense(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_text_index(_corpus(spark, _OLD), path, num_buckets=8)
    _drop_coverage_flag(path)
    with pytest.raises(ValueError, match="vectors_cover_corpus"):
        probe_text_index(_corpus(spark, _NEW), path, 0.9, strategy="dense")


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The postings scan must carry PartitionFilters on the bucket
    column — the probe reads only the buckets its own terms hash
    into, the IVF-probe contract."""
    path = str(tmp_path / "idx")
    build_text_index(_corpus(spark, _OLD), path, num_buckets=32)
    probe = _corpus(spark, [(301, "quick fox")])
    plan = (
        probe_text_index(probe, path, 0.5, strategy="prefix")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "tb#" in plan.split("PartitionFilters")[1][:200]


def test_hot_term_guard_raises(spark, tmp_path):
    path = str(tmp_path / "idx")
    old = [(i, "anchor anchor anchor") for i in range(20)]
    build_text_index(_corpus(spark, old), path, num_buckets=4)
    with pytest.raises(ValueError, match="max_prefix_term_df"):
        probe_text_index(
            _corpus(spark, [(900, "anchor")]), path, 0.5,
            strategy="prefix", max_prefix_term_df=5,
        )


def test_invalid_threshold_rejected(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_text_index(_corpus(spark, _OLD), path, num_buckets=4)
    with pytest.raises(ValueError, match="threshold"):
        probe_text_index(_corpus(spark, _NEW), path, 0.0)


def test_string_ids_rejected_up_front(spark, tmp_path):
    """ADVICE r5: the persisted index pins doc_id as bigint, so a
    string id column must fail loudly at every entry point instead of
    coercing or dying inside the dense probe's Arrow conversion."""
    path = str(tmp_path / "idx")
    sdocs = spark.createDataFrame(
        [("a", "hello world"), ("b", "hello spark")],
        "doc_id string, text string",
    )
    with pytest.raises(TypeError, match="integral id"):
        build_text_index(sdocs, path, num_buckets=4)
    build_text_index(_corpus(spark, _OLD), path, num_buckets=4)
    with pytest.raises(TypeError, match="integral id"):
        probe_text_index(sdocs, path, 0.5)
    from recover_spark.ops.text_index import append_text_index

    with pytest.raises(TypeError, match="integral id"):
        append_text_index(sdocs, path)


def test_all_empty_text_corpus_is_a_valid_empty_index(spark, tmp_path):
    """Fuzz-found edge: a corpus whose every doc tokenizes to nothing
    writes zero parquet files; the index must stay probeable (matching
    nothing) rather than failing schema inference."""
    path = str(tmp_path / "idx")
    meta = build_text_index(
        _corpus(spark, [(1, ""), (2, "   ")]), path, num_buckets=4
    )
    assert meta["n_docs"] == 0
    for strategy in ("prefix", "dense"):
        got = probe_text_index(
            _corpus(spark, _NEW), path, 0.5, strategy=strategy
        )
        assert got.count() == 0
        assert got.columns == ["new_id", "indexed_id", "cosine"]


class TestStreamingNearDedup:
    def test_output_write_is_idempotent_per_batch(self, spark, tmp_path):
        """ADVICE r5 crash window: output written, crash BEFORE the
        index append + marker, batch replays.  The per-batch dynamic
        partition overwrite must REPLACE the half-applied batch's
        output partition, not append a second copy.  Simulated by
        pre-seeding a stale __batch=0 partition (what a crashed first
        attempt leaves behind) and running the stream fresh."""
        import os

        from recover_spark.streaming.incremental import (
            near_dedup_against_corpus,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumped over the lazy dog"),
             (3, "pack my box with five dozen liquor jugs")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("overwrite").parquet(src)
        out = str(tmp_path / "out")
        # the crashed first attempt's leftover partition — includes a
        # row the (deterministic) reprocessing will not keep
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumped over the lazy dog")],
            "doc_id long, text string",
        ).write.parquet(os.path.join(out, "__batch=0"))
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(src)
        q = near_dedup_against_corpus(
            stream, str(tmp_path / "idx"), str(tmp_path / "ckpt"),
            out, threshold=0.8,
        )
        q.awaitTermination(120)
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 3], got

    def test_chain_survivors_are_transitive(self, spark, tmp_path):
        """Within-batch chain A~B, B~C, A!~C: the greedy transitive
        rule keeps {A, C} (the old drop-every-doc_b rule lost C)."""
        import os

        from recover_spark.streaming.incremental import (
            near_dedup_against_corpus,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        # B overlaps both A and C heavily; A and C share little
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "gamma delta epsilon zeta eta theta iota kappa"),
            (3, "epsilon zeta eta theta iota kappa lamda mu"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(src)
        from recover_spark.ops.apss import cosine_threshold_pairs

        pairs = {
            (r.doc_a, r.doc_b)
            for r in cosine_threshold_pairs(
                spark.createDataFrame(rows, "doc_id long, text string"),
                0.7,
            ).collect()
        }
        assert pairs == {(1, 2), (2, 3)}, pairs  # the chain premise
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(src)
        out = str(tmp_path / "out")
        q = near_dedup_against_corpus(
            stream, str(tmp_path / "idx"), str(tmp_path / "ckpt"),
            out, threshold=0.7,
        )
        q.awaitTermination(120)
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 3], got

    def test_cross_batch_near_dups_filtered_and_replay_is_noop(
        self, spark, tmp_path
    ):
        from recover_spark.streaming.incremental import (
            near_dedup_against_corpus,
        )

        src = str(tmp_path / "src")
        import os

        os.makedirs(src)
        batches = [
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumped over the lazy dog"),  # ~1
             (3, "pack my box with five dozen liquor jugs")],
            [(11, "the quick brown fox jumps over a lazy dog"),    # ~1
             (12, "sphinx of black quartz judge my vow")],
            [(21, "sphinx of black quartz judge my vow"),          # =12
             (22, "wholly original third wave content here")],
        ]
        # one part-file per logical batch, landed directly in the
        # watched dir (the file source does not recurse); mtime gaps
        # keep the pickup order deterministic
        import glob
        import shutil
        import time

        for i, rows in enumerate(batches):
            staging = str(tmp_path / f"stage{i}")
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.parquet(staging)
            part = glob.glob(f"{staging}/part-*.parquet")[0]
            shutil.move(part, f"{src}/b{i}.parquet")
            time.sleep(1.1)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = str(tmp_path / "out")
        idx = str(tmp_path / "idx")
        q = near_dedup_against_corpus(
            stream, idx, str(tmp_path / "ckpt"), out, threshold=0.8
        )
        q.awaitTermination(300)
        kept = sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        )
        # 2 ~dups 1 (within batch), 11 ~dups 1 (cross batch via index),
        # 21 == 12 (cross batch); everything else survives
        assert kept == [1, 3, 12, 22]

        # a fresh checkpoint replays every batch id — the marker makes
        # the whole replay a strict no-op (the index append is not
        # idempotent, so this is load-bearing)
        stream2 = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q2 = near_dedup_against_corpus(
            stream2, idx, str(tmp_path / "ckpt2"), out, threshold=0.8
        )
        q2.awaitTermination(300)
        assert sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        ) == [1, 3, 12, 22]


    def test_replay_without_marker_leaves_output_partition_alone(
        self, spark, tmp_path
    ):
        """The crash window after the index append, before the marker:
        with ``_applied_batch`` gone, a fresh checkpoint replays the
        batch, the probe drops every already-indexed doc, and the empty
        kept set must leave the batch's output partition as it was."""
        import os

        from recover_spark.sources.atomic import APPEND_MARKER
        from recover_spark.streaming.incremental import (
            near_dedup_against_corpus,
        )

        src = str(tmp_path / "src")
        os.makedirs(src)
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumped over the lazy dog"),
             (3, "pack my box with five dozen liquor jugs")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("overwrite").parquet(src)
        out, idx = str(tmp_path / "out"), str(tmp_path / "idx")

        def run(ckpt):
            stream = spark.readStream.schema(
                "doc_id long, text string"
            ).parquet(src)
            q = near_dedup_against_corpus(
                stream, idx, str(tmp_path / ckpt), out, threshold=0.8
            )
            q.awaitTermination(120)

        def snapshot():
            return sorted(
                (r["__batch"], r["doc_id"], r["text"])
                for r in spark.read.parquet(out).collect()
            )

        run("ckpt1")
        first = snapshot()
        assert [r[1] for r in first] == [1, 3]
        os.remove(os.path.join(idx, APPEND_MARKER))
        run("ckpt2")
        assert snapshot() == first


class TestIndexCompaction:
    def test_lifecycle_build_append_compact_probe_equality(
        self, spark, tmp_path
    ):
        """build -> 3 appends -> compact: per-bucket file count drops
        to 1 and the probe returns the identical pair set (VERDICT r5
        'index maintenance endgame')."""
        from recover_spark.ops.text_index import (
            append_text_index,
            compact_text_index,
        )
        from recover_spark.sources.compaction import partition_file_counts

        path = str(tmp_path / "idx")
        build_text_index(_corpus(spark, _OLD), path, num_buckets=4)
        batches = [
            [(100 + i, t) for i, t in enumerate(
                ["the quick brown fox", "sphinx of black quartz"]
            )],
            [(200, "pack my box with five dozen jugs")],
            [(300, "the quick brown fox jumps again")],
        ]
        for rows in batches:
            append_text_index(
                spark.createDataFrame(rows, "doc_id long, text string"),
                path,
            )
        probe = spark.createDataFrame(
            [(9000, "the quick brown fox jumps over the lazy dog"),
             (9001, "sphinx of black quartz judge my vow")],
            "doc_id long, text string",
        )
        before = sorted(
            map(tuple, probe_text_index(probe, path, 0.5).collect())
        )
        import os

        counts_before = partition_file_counts(
            os.path.join(path, "postings"), "tb"
        )
        assert max(counts_before.values()) > 1  # accretion premise
        report = compact_text_index(spark, path)
        assert report["postings"]["files_after"] < report["postings"][
            "files_before"
        ]
        counts_after = partition_file_counts(
            os.path.join(path, "postings"), "tb"
        )
        assert all(n == 1 for n in counts_after.values() if n), counts_after
        after = sorted(
            map(tuple, probe_text_index(probe, path, 0.5).collect())
        )
        assert before == after and before
        # compaction is idempotent: a second run touches nothing
        report2 = compact_text_index(spark, path)
        assert report2["postings"]["touched"] == 0

    def test_untouched_buckets_not_rewritten(self, spark, tmp_path):
        """Buckets under the file threshold keep their original files
        (mtime-stable): compaction cost is O(touched buckets) by
        construction, not a full rewrite."""
        import glob
        import os

        from recover_spark.ops.text_index import (
            append_text_index,
            compact_text_index,
        )

        path = str(tmp_path / "idx")
        build_text_index(_corpus(spark, _OLD), path, num_buckets=8)
        # append docs with ONE rare term: only that term's bucket grows
        append_text_index(
            spark.createDataFrame(
                [(500, "zyzzyvaxu")], "doc_id long, text string"
            ),
            path,
        )
        posting_files = {
            f: os.path.getmtime(f)
            for f in glob.glob(
                os.path.join(path, "postings", "tb=*", "*.parquet")
            )
        }
        compact_text_index(spark, path)
        survivors = glob.glob(
            os.path.join(path, "postings", "tb=*", "*.parquet")
        )
        untouched = [f for f in survivors if f in posting_files]
        # single-file buckets survive byte-identical (same path, same
        # mtime); only the appended bucket was rewritten
        assert untouched, "compaction rewrote every bucket"
        for f in untouched:
            assert os.path.getmtime(f) == posting_files[f]


class TestIndexDeletion:
    def test_delete_equals_index_built_without_docs(self, spark, tmp_path):
        """Right-to-be-forgotten oracle: after delete_from_text_index,
        every probe result equals a probe against an index built from
        the corpus WITHOUT the deleted docs — including the doc whose
        only near-dup was deleted now matching nothing."""
        from recover_spark.ops.text_index import delete_from_text_index

        path = str(tmp_path / "idx")
        build_text_index(_corpus(spark, _OLD), path, num_buckets=8)
        meta = delete_from_text_index(spark, path, [1, 3])
        assert meta["n_docs"] == 2 and meta["n_deleted"] == 2

        fresh = str(tmp_path / "fresh")
        build_text_index(
            _corpus(spark, [r for r in _OLD if r[0] not in (1, 3)]),
            fresh, num_buckets=8,
        )
        for strategy in ("prefix", "dense"):
            got = sorted(map(tuple, probe_text_index(
                _corpus(spark, _NEW), path, 0.4, strategy=strategy
            ).collect()))
            ref = sorted(map(tuple, probe_text_index(
                _corpus(spark, _NEW), fresh, 0.4, strategy=strategy
            ).collect()))
            assert got == ref, strategy
        # doc 101's near-dup (1) and 103's exact dup (3) are gone
        ids_hit = {n for n, _, _ in got}
        assert 103 not in ids_hit

    def test_delete_touches_only_affected_buckets(self, spark, tmp_path):
        """Buckets holding no posting of the deleted docs keep their
        original files (mtime-pinned) — deletion cost is O(touched
        buckets), the same contract as compaction."""
        import glob
        import os
        import time

        from recover_spark.ops.text_index import delete_from_text_index

        path = str(tmp_path / "idx")
        # doc 50 has ONE rare term -> exactly one posting bucket
        corpus = _OLD + [(50, "zyzzyvaxu")]
        build_text_index(_corpus(spark, corpus), path, num_buckets=16)
        before = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(path, "postings", "tb=*", "*.parquet"))
        }
        time.sleep(0.05)
        delete_from_text_index(spark, path, [50])
        after = glob.glob(os.path.join(path, "postings", "tb=*", "*.parquet"))
        untouched = [f for f in after if f in before]
        assert untouched and all(
            os.path.getmtime(f) == before[f] for f in untouched
        )
        # the rare term's bucket was emptied entirely -> dir dropped
        assert len(after) < len(before) or any(
            f not in before for f in after
        )
        got = probe_text_index(
            _corpus(spark, [(900, "zyzzyvaxu")]), path, 0.5
        ).collect()
        assert got == []

    def test_delete_never_reads_untouched_buckets(self, spark, tmp_path):
        """The O(touched) IO pin (VERDICT r6 #2): corrupt the DATA
        pages of every parquet file in buckets the deletion should not
        touch (footers intact, so metadata/schema reads still work —
        but ANY row read explodes).  The deletion must succeed, and
        after restoring the pristine bytes the index must equal a
        fresh build without the deleted docs, df table included."""
        import glob
        import os
        import shutil

        from recover_spark.ops.text_index import (
            _bucket,
            delete_from_text_index,
        )

        path = str(tmp_path / "idx")
        build_text_index(_corpus(spark, _OLD), path, num_buckets=8)
        victim = 1
        # which buckets WILL be touched: the victim's vb, and the tb
        # of each of its terms (read from its own vector)
        vrow = (
            spark.read.parquet(os.path.join(path, "vectors"))
            .filter(F.col("doc_id") == victim)
            .select(
                "vb",
                F.transform(
                    "entries", lambda e: _bucket(e["term"], 8)
                ).alias("tbs"),
            )
            .collect()[0]
        )
        touched_tb = set(vrow["tbs"])
        touched_vb = {vrow["vb"]}

        def corruptable(sub, col, touched):
            out = []
            for d in glob.glob(os.path.join(path, sub, f"{col}=*")):
                if int(d.rsplit("=", 1)[1]) not in touched:
                    out.extend(glob.glob(os.path.join(d, "*.parquet")))
            return out

        files = corruptable("postings", "tb", touched_tb) + corruptable(
            "vectors", "vb", touched_vb
        )
        assert files, "premise: some untouched bucket exists"
        pristine = {}
        for f in files:
            with open(f, "rb") as fh:
                raw = fh.read()
            pristine[f] = raw
            if len(raw) < 3000:
                # small file: clobber everything between the 4-byte
                # header magic and the last 2KB (footer region)
                body = bytearray(raw)
                for i in range(4, max(5, len(raw) - 2048)):
                    body[i] = 0xAB
            else:
                body = bytearray(raw)
                for i in range(100, len(raw) - 2048):
                    body[i] = 0xAB
            with open(f, "wb") as fh:
                fh.write(bytes(body))
        # premise: the corruption is real — reading rows from a
        # corrupted bucket raises
        with pytest.raises(Exception):
            spark.read.parquet(os.path.dirname(files[0])).collect()

        meta = delete_from_text_index(spark, path, [victim])
        assert meta["n_deleted"] == 1
        assert meta["n_docs"] == len(_OLD) - 1

        for f, raw in pristine.items():
            with open(f, "wb") as fh:
                fh.write(raw)
        fresh = str(tmp_path / "fresh")
        build_text_index(
            _corpus(spark, [r for r in _OLD if r[0] != victim]),
            fresh, num_buckets=8,
        )
        got = sorted(map(tuple, probe_text_index(
            _corpus(spark, _NEW), path, 0.4
        ).collect()))
        ref = sorted(map(tuple, probe_text_index(
            _corpus(spark, _NEW), fresh, 0.4
        ).collect()))
        assert got == ref
        # df table: arithmetic decrement == fresh re-aggregation
        df_got = sorted(
            map(tuple, spark.read.parquet(os.path.join(path, "df")).collect())
        )
        df_ref = sorted(
            map(tuple, spark.read.parquet(os.path.join(fresh, "df")).collect())
        )
        assert df_got == df_ref

    def test_delete_legacy_index_without_vectors(self, spark, tmp_path):
        """An index whose vectors/ directory is gone falls back to
        content-scan discovery and still produces the
        built-without-docs result."""
        import os
        import shutil

        from recover_spark.ops.text_index import delete_from_text_index

        path = str(tmp_path / "idx")
        build_text_index(_corpus(spark, _OLD), path, num_buckets=8)
        shutil.rmtree(os.path.join(path, "vectors"))
        meta = delete_from_text_index(spark, path, [1, 3])
        assert meta["n_docs"] == 2 and meta["n_deleted"] == 2
        fresh = str(tmp_path / "fresh")
        build_text_index(
            _corpus(spark, [r for r in _OLD if r[0] not in (1, 3)]),
            fresh, num_buckets=8,
        )
        # prefix is the only strategy a vectors-less legacy index can
        # serve (dense scans vectors/)
        got = sorted(map(tuple, probe_text_index(
            _corpus(spark, _NEW), path, 0.4, strategy="prefix"
        ).collect()))
        ref = sorted(map(tuple, probe_text_index(
            _corpus(spark, _NEW), fresh, 0.4, strategy="prefix"
        ).collect()))
        assert got == ref

    def test_delete_nothing_is_noop(self, spark, tmp_path):
        from recover_spark.ops.text_index import delete_from_text_index

        path = str(tmp_path / "idx")
        build_text_index(_corpus(spark, _OLD), path, num_buckets=4)
        meta = delete_from_text_index(spark, path, [])
        assert meta["n_deleted"] == 0 and meta["n_docs"] == 4
        # deleting an unknown id changes nothing either
        meta = delete_from_text_index(spark, path, [999])
        assert meta["n_docs"] == 4


def test_delete_accepts_dataframe_id_list(spark, tmp_path):
    """The production deletion-list shape (J1's input is a parquet
    dataset, not a literal list): a one-column DataFrame of ids must
    behave identically to the sequence form."""
    from recover_spark.ops.text_index import delete_from_text_index

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_text_index(_corpus(spark, _OLD), p1, num_buckets=8)
    build_text_index(_corpus(spark, _OLD), p2, num_buckets=8)
    delete_from_text_index(spark, p1, [1, 3])
    meta = delete_from_text_index(
        spark, p2, spark.createDataFrame([(1,), (3,)], "doc_id long")
    )
    assert meta["n_docs"] == 2 and meta["n_deleted"] == 2
    a = sorted(map(tuple, probe_text_index(_corpus(spark, _NEW), p1, 0.4).collect()))
    b = sorted(map(tuple, probe_text_index(_corpus(spark, _NEW), p2, 0.4).collect()))
    assert a == b
