"""Training-data-scale operator tests: dedup family, similarity, text."""

import pyspark.sql.functions as F

from recover_spark.ops import (
    brute_force_topk,
    embedding_near_duplicates,
    exact_dedup,
    lsh_bucketed_topk,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from recover_spark.ops.text_analysis import document_fingerprint, language_id


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over a lazy dog"),  # near dup
        (4, "completely different content about spark engines"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark)).collect()
    by_id = {r.doc_id: r.n_duplicates for r in out}
    assert by_id[1] == 2  # docs 1+2 collapse, min id kept
    assert 2 not in by_id
    assert by_id[3] == 1 and by_id[4] == 1


def test_minhash_signature_properties(spark):
    sig = {r.doc_id: r.minhash for r in minhash_signatures(_docs(spark)).collect()}
    assert sig[1] == sig[2]  # identical docs -> identical signatures
    agree13 = sum(1 for a, b in zip(sig[1], sig[3]) if a == b)
    agree14 = sum(1 for a, b in zip(sig[1], sig[4]) if a == b)
    assert agree13 > agree14  # near dup agrees more than unrelated


def test_minhash_lsh_pairs(spark):
    pairs = minhash_near_duplicates(
        _docs(spark), num_hashes=16, bands=8, min_signature_agreement=0.5
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got
    assert (1, 4) not in got and (2, 4) not in got


def test_simhash_hamming(spark):
    sig = {r.doc_id: r.simhash for r in simhash_signatures(_docs(spark)).collect()}
    assert sig[1] == sig[2]

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sig[1], sig[3]) < ham(sig[1], sig[4])


def test_ngram_jaccard(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), min_jaccard=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0


def test_jaccard_stop_shingle_cap(spark):
    # with a freq cap of 1, shared shingles are dropped -> no pairs
    out = ngram_jaccard_pairs(_docs(spark), min_jaccard=0.1, max_shingle_freq=1)
    assert out.count() == 0


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_duplicates_default_lsh_blocked(spark):
    # default path: LSH blocking — near-identical vectors share every
    # bucket, so the (1, 2) pair must survive the block restriction
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_duplicates(_vecs(spark), threshold=0.9).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] > 0.99


def test_embedding_near_duplicates_gemm(spark):
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_duplicates(
            _vecs(spark), threshold=0.9, method="broadcast"
        ).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] > 0.99


def test_brute_force_topk(spark):
    vecs = _vecs(spark)
    out = brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 1), k=2).collect()
    assert [r.vec_id for r in sorted(out, key=lambda r: r.rank)] == [2, 3]


def test_lsh_bucketed_topk_finds_close_neighbor(spark):
    vecs = _vecs(spark)
    out = lsh_bucketed_topk(
        vecs, vecs.filter(F.col("vec_id") == 1), dim=4, k=2, num_planes=2
    ).collect()
    found = {r.vec_id for r in out}
    assert 2 in found  # nearly-identical vector must share all buckets


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is in that it for"),
            (2, "der hund und die katze ist nicht das ein zu"),
            (3, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang for r in df.select(
        "doc_id", language_id(F.col("text")).alias("lang")
    ).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "unknown"


def test_document_fingerprint_dups_and_short_docs(spark):
    docs = _docs(spark)
    fp = {r.doc_id: r.fingerprint for r in document_fingerprint(docs).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]
    short = spark.createDataFrame([(9, "two words")], "doc_id long, text string")
    assert document_fingerprint(short).collect()[0].fingerprint is not None


def test_ivf_topk_full_probe_matches_brute_force(spark):
    from recover_spark.ops.similarity import ivf_topk

    vecs = _vecs(spark)
    q = vecs.filter(F.col("vec_id") == 1)
    exact = brute_force_topk(vecs, q, k=2).collect()
    approx = ivf_topk(vecs, q, n_centroids=3, nprobe=2, k=2).collect()

    def key(rows):
        return [
            (r.query_vec_id, r.vec_id, r.rank, round(r.cosine, 9))
            for r in sorted(rows, key=lambda r: r.rank)
        ]

    # probing every list makes IVF exact == brute force
    assert key(approx) == key(exact)


def test_ivf_topk_probe_restricts_candidates(spark):
    from recover_spark.ops.similarity import ivf_topk

    vecs = _vecs(spark)
    q = vecs.filter(F.col("vec_id") == 1)
    out = ivf_topk(vecs, q, n_centroids=3, nprobe=1, k=4).collect()
    assert out  # the query's own list always yields its near-twin
    assert all(r.query_vec_id == 1 for r in out)
    ranks = sorted(r.rank for r in out)
    assert ranks == list(range(1, len(ranks) + 1))


def test_quality_filter_rules(spark):
    from recover_spark.ops.text_analysis import quality_filter

    good = (
        "the cat and the dog ran to the park in a storm and it was wet "
        "so that they hid for a while under the old oak tree by the gate"
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "short text"),  # too few tokens
            (3, "w " * 30 + "!!! ??? ;;; ::: ... !!! ??? ;;; ::: ..."),
            (4, good + " 123456789 " * 40),  # digit-heavy
            (5, "pneumonoultramicroscopicsilicovolcanoconiosis " * 25),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["passed"], r["fail_reason"]) for r in quality_filter(docs).collect()}
    assert out[1] == (True, None)
    assert out[2] == (False, "too_few_tokens")
    assert out[3][1] in ("high_punct_ratio", "low_stopword_ratio")
    assert out[4] == (False, "high_digit_ratio")
    assert out[5] == (False, "long_words")


def test_quality_filter_empty_text(spark):
    from recover_spark.ops.text_analysis import quality_filter

    docs = spark.createDataFrame([(1, "")], "doc_id long, text string")
    r = quality_filter(docs).collect()[0]
    assert r["passed"] is False and r["fail_reason"] == "too_few_tokens"


def test_duplicate_clusters_chain_and_singleton(spark):
    from recover_spark.ops import duplicate_clusters

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    # chain 1-2-3-4 (diameter 3: needs multiple propagation rounds),
    # pair 5-6, singleton 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster"]
        for r in duplicate_clusters(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_greedy_survivors_chain_keeps_alternating(spark):
    """The transitive greedy lower-id rule (ADVICE r5): in a chain
    1~2, 2~3 with 1!~3, survivor set is {1, 3} — 3's only lower-id
    neighbor (2) did not survive, so 3 must be kept.  Every dropped
    doc ends with a KEPT direct neighbor."""
    from recover_spark.ops import greedy_survivors

    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    # chain 1-2-3-4-5 (greedy keeps 1,3,5); star center 6 with leaves
    # 7,8 (keeps 6); pair 9-10 (keeps 9)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7), (6, 8), (9, 10)],
        "doc_a long, doc_b long",
    )
    got = sorted(
        r["doc_id"] for r in greedy_survivors(pairs, nodes).collect()
    )
    assert got == [1, 3, 5, 6, 9]
    # sequential-reference cross-check: process ids ascending, keep iff
    # no KEPT lower neighbor
    adj = {}
    for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7), (6, 8), (9, 10)]:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    kept = set()
    for n in range(1, 11):
        if not (adj.get(n, set()) & kept):
            kept.add(n)
    assert got == sorted(kept)


def test_greedy_survivors_no_pairs_keeps_all(spark):
    from recover_spark.ops import greedy_survivors

    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = sorted(r["doc_id"] for r in greedy_survivors(pairs, nodes).collect())
    assert got == [1, 2]


def test_duplicate_clusters_no_pairs(spark):
    from recover_spark.ops import duplicate_clusters

    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["doc_id"]: r["cluster"]
        for r in duplicate_clusters(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 2}


def test_ivf_index_roundtrip_and_partition_pruning(spark, tmp_path):
    from recover_spark.ops import ivf_topk
    from recover_spark.ops.similarity import build_ivf_index, ivf_topk_indexed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 3")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=8)

    direct = {
        (r["query_vec_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(emb, queries, n_centroids=8, nprobe=2, k=5).collect()
    }
    indexed_df = ivf_topk_indexed(spark, idx, queries, nprobe=2, k=5)
    indexed = {
        (r["query_vec_id"], r["vec_id"], r["rank"]) for r in indexed_df.collect()
    }
    assert indexed == direct

    # the probe is enforced as partition pruning, not a post-scan filter
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list" in plan.split("PartitionFilters")[1][:120]


def test_quantize_embeddings_roundtrip(spark):
    from recover_spark.ops import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert rows[1]["q_scale"] == 1.0
    assert rows[1]["q_embedding"] == [127, -63, 32]  # floor(x+0.5) halfway rule
    assert rows[2]["q_embedding"] == [0, 0, 0] and rows[2]["q_scale"] == 0.0


def test_quantized_cosine_close_to_float(spark):
    from recover_spark.ops import brute_force_topk, quantized_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 2")
    fl = {
        (r["query_vec_id"], r["vec_id"]): r["cosine"]
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    qz = {
        (r["query_vec_id"], r["vec_id"]): r["qcosine"]
        for r in quantized_cosine_topk(emb, queries, k=5).collect()
    }
    # int8 noise is bounded: shared pairs agree to ~2 decimal places
    shared = set(fl) & set(qz)
    assert len(shared) >= 6
    assert all(abs(fl[p] - qz[p]) < 0.02 for p in shared)


def test_heavy_hitters_counts_and_plan(spark):
    from recover_spark.ops import heavy_hitters

    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 5 + ["b"] * 3 + ["c"] * 2], "k string"
    )
    hh = heavy_hitters(df, ["k"], top_n=2)
    got = [(r["k"], r["n_rows"], r["share"], r["rank"]) for r in hh.collect()]
    assert got == [("a", 5, 0.5, 1), ("b", 3, 0.3, 2)]
    # top-N must be TakeOrdered (per-partition heaps), not a global sort
    plan = hh._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_remove_repeated_spans(spark):
    from recover_spark.ops import remove_repeated_spans

    boiler = "the quick brown fox jumps over the lazy dog again"  # 10 words
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique alpha text one two three four five six seven"),
            (2, boiler + " other beta words eight nine ten eleven twelve thirteen x"),
            (3, "standalone gamma document with completely original content here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_spans_kept"])
        for r in remove_repeated_spans(docs, span_words=10, max_docs=1).collect()
    }
    # the shared 10-word prefix span is dropped from docs 1 and 2
    assert got[1] == ("unique alpha text one two three four five six seven", 1)
    assert got[2][0].startswith("other beta words")
    assert got[3][1] == 1 and got[3][0].startswith("standalone gamma")
    assert not any(boiler in t for t, _ in got.values())


def test_chunk_documents_overlap_and_partial_tail(spark):
    """64/16 chunking: starts every 48 tokens, consecutive chunks share
    the overlap, the tail chunk is partial, empty docs yield nothing."""
    from pyspark.sql import functions as F

    from recover_spark.ops import chunk_documents

    words = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, "   ")], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_size=64, overlap=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)

    c1 = sorted(by_doc[1], key=lambda r: r["chunk_index"])
    # starts at 0, 48, 96 -> 3 chunks of 64, 52, 4 tokens
    assert [r["chunk_tokens"] for r in c1] == [64, 52, 4]
    t0, t1 = c1[0]["chunk_text"].split(), c1[1]["chunk_text"].split()
    assert t0[48:] == t1[:16]  # consecutive chunks share the overlap
    assert t1[0] == "w48"

    assert [r["chunk_tokens"] for r in by_doc[2]] == [3]
    assert 3 not in by_doc  # blank doc -> no chunks

    # map-only plan: no shuffle in the chunking pass
    plan = (
        chunk_documents(df, 64, 16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_ivf_quantized_matches_ivf_candidates(spark):
    """IVF+int8 probes the same inverted lists as float IVF (assignment
    runs on the float vectors), so per query the candidate id set must
    match ivf_topk's; scores differ only by quantization noise."""
    from recover_spark.ops import ivf_topk, ivf_topk_quantized

    rows = [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(8)])
        for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = vecs.filter(F.col("vec_id") < 2)
    flt = ivf_topk(vecs, qs, n_centroids=4, nprobe=2, k=10)
    qnt = ivf_topk_quantized(vecs, qs, n_centroids=4, nprobe=2, k=10)
    f = {(r.query_vec_id, r.vec_id): r.cosine for r in flt.collect()}
    q = {(r.query_vec_id, r.vec_id): r.qcosine for r in qnt.collect()}
    assert set(f) == set(q)
    for key in f:
        assert abs(f[key] - q[key]) < 0.05  # quantization noise bound


def test_ivf_quantized_indexed_matches_in_memory(spark, tmp_path):
    """The persisted quantized index answers identically to the
    in-memory IVF+int8 path (build pays assignment+quantization once;
    probes are partition-pruned scans)."""
    from recover_spark.ops import (
        build_ivf_index,
        ivf_topk_quantized,
        ivf_topk_quantized_indexed,
    )

    rows = [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(8)])
        for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = vecs.filter(F.col("vec_id") < 2)
    idx = str(tmp_path / "qivf")
    build_ivf_index(vecs, idx, n_centroids=4)

    mem = ivf_topk_quantized(vecs, qs, n_centroids=4, nprobe=2, k=10)
    ind = ivf_topk_quantized_indexed(spark, idx, qs, nprobe=2, k=10)

    def key(df):
        return sorted(
            (r.query_vec_id, r.vec_id, r.rank, round(r.qcosine, 9))
            for r in df.collect()
        )

    assert key(mem) == key(ind)


def test_stratified_sample_rebalances_deterministically(spark):
    from recover_spark.ops import stratified_sample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, cls string")
    out = stratified_sample(df, "id", "cls", {"a": 1.0, "b": 0.3})
    got = [(r.id, r.cls) for r in out.collect()]
    # stratum a kept fully; b downsampled near its fraction
    a = [r for r in got if r[1] == "a"]
    b = [r for r in got if r[1] == "b"]
    assert len(a) == 100
    assert 10 <= len(b) <= 50
    # deterministic: a second evaluation returns the same rows
    again = [(r.id, r.cls) for r in out.collect()]
    assert sorted(got) == sorted(again)
    # unknown strata drop by default
    df2 = spark.createDataFrame([(1, "zz")], "id long, cls string")
    assert stratified_sample(df2, "id", "cls", {"a": 1.0}).count() == 0


def test_pack_sequences_invariants(spark):
    from recover_spark.ops import chunk_documents, pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}t{j}" for j in range(150))) for i in range(20)],
        "doc_id long, text string",
    )
    chunks = chunk_documents(docs, chunk_size=64, overlap=16)
    packed = pack_sequences(chunks, budget=100, num_shards=4).collect()

    # a document never splits across shards
    doc_shards = {}
    for r in packed:
        doc_shards.setdefault(r.doc_id, set()).add(r.shard)
    assert all(len(s) == 1 for s in doc_shards.values())

    # stream_offset is the running token total and seq_id quantizes it
    by_shard = {}
    for r in sorted(packed, key=lambda r: (r.shard, r.doc_id, r.chunk_index)):
        run = by_shard.get(r.shard, 0)
        assert r.stream_offset == run
        assert r.seq_id == run // 100
        by_shard[r.shard] = run + r.chunk_tokens

    # every sequence except a shard's last reaches the budget boundary
    seq_tokens = {}
    for r in packed:
        seq_tokens[(r.shard, r.seq_id)] = (
            seq_tokens.get((r.shard, r.seq_id), 0) + r.chunk_tokens
        )
    last = {s: max(q for (sh, q) in seq_tokens if sh == s)
            for s in {sh for (sh, _) in seq_tokens}}
    for (sh, q), tot in seq_tokens.items():
        if q != last[sh]:
            assert tot >= 100 - 63  # boundary chunk can straddle


def test_lsh_multiprobe_recall_superset(spark):
    """Hamming-1 multi-probe candidates strictly contain the exact
    bucket's candidates (same planes), so recall can only improve."""
    rows = [
        (i, [float(((i * 11 + j * 5) % 17) - 8) / 8.0 for j in range(8)])
        for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = vecs.filter(F.col("vec_id") < 2)
    single = lsh_bucketed_topk(vecs, qs, dim=8, k=60, num_planes=4)
    multi = lsh_bucketed_topk(
        vecs, qs, dim=8, k=60, num_planes=4, multi_probe=1
    )
    s = {(r.query_vec_id, r.vec_id) for r in single.collect()}
    m = {(r.query_vec_id, r.vec_id) for r in multi.collect()}
    assert s <= m
    assert len(m) > len(s)  # neighbor buckets contribute new candidates
    # no duplicate candidates from probing multiple buckets
    got = [(r.query_vec_id, r.vec_id) for r in multi.collect()]
    assert len(got) == len(set(got))


def test_ivf_compact_and_rebuild_lifecycle(spark, tmp_path):
    """build -> appends (file accretion) -> compact (probe-identical,
    file count drops) -> rebuild (equals a fresh build over the
    combined corpus) — the index-maintenance endgame (VERDICT r5)."""
    import glob
    import os

    from recover_spark.ops.similarity import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_topk_indexed,
        rebuild_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first = emb.filter("vec_id < 40")
    waves = [emb.filter(f"vec_id >= {lo} AND vec_id < {lo + 20}")
             for lo in (40, 60, 80)]
    queries = emb.filter("vec_id < 3")
    idx = str(tmp_path / "ivf")
    build_ivf_index(first, idx, n_centroids=8)
    for w in waves:
        append_ivf_index(w, idx)

    def probe():
        return {
            (r["query_vec_id"], r["vec_id"], r["rank"])
            for r in ivf_topk_indexed(
                spark, idx, queries, nprobe=3, k=5
            ).collect()
        }

    def n_files():
        return len(glob.glob(os.path.join(idx, "list=*", "*.parquet")))

    before_pairs, before_files = probe(), n_files()
    report = compact_ivf_index(spark, idx)
    assert report["files_after"] < report["files_before"]
    assert n_files() < before_files
    assert probe() == before_pairs  # compaction is invisible to probes

    # rebuild == fresh build over everything ever added
    rebuild_ivf_index(spark, idx)
    fresh = str(tmp_path / "fresh")
    build_ivf_index(emb.filter("vec_id < 100"), fresh, n_centroids=8)
    rebuilt_pairs = probe()
    fresh_pairs = {
        (r["query_vec_id"], r["vec_id"], r["rank"])
        for r in ivf_topk_indexed(
            spark, fresh, queries, nprobe=3, k=5
        ).collect()
    }
    assert rebuilt_pairs == fresh_pairs
    assert not os.path.exists(idx + ".rebuild")
    assert not os.path.exists(idx + ".old")

    # crash healer: a crash between the swap's two renames leaves only
    # .old on disk; the next maintenance entry must restore it rather
    # than find no index (same contract as the matview state swap).
    os.rename(idx, idx + ".old")
    from recover_spark.sources.atomic import heal_swap

    assert heal_swap(idx) is True
    assert os.path.exists(idx) and not os.path.exists(idx + ".old")
    assert probe() == rebuilt_pairs
    # idempotent when the index is live
    assert heal_swap(idx) is False


def test_ivf_delete_equals_index_without_vectors(spark, tmp_path):
    """Deletion propagation into the ANN surface: after
    delete_from_ivf_index, probes equal an index built with the SAME
    centroids from the corpus minus the deleted ids; untouched list
    partitions keep their files."""
    import glob
    import os

    from recover_spark.ops.similarity import (
        build_ivf_index,
        delete_from_ivf_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sub = emb.filter("vec_id < 60")
    queries = emb.filter("vec_id < 3")
    idx = str(tmp_path / "ivf")
    build_ivf_index(sub, idx, n_centroids=8)
    victims = [7, 11, 23]
    rep = delete_from_ivf_index(spark, idx, victims)
    assert rep["n_deleted"] == 3 and rep["touched_lists"]

    # same centroids (seeds = vec_id < 8 rows, none deleted... 7 IS a
    # seed — centroids are FROZEN by contract, so build the reference
    # index from the full sub-corpus and delete, not rebuild)
    got = {
        (r["query_vec_id"], r["vec_id"], r["rank"])
        for r in ivf_topk_indexed(spark, idx, queries, nprobe=8, k=5).collect()
    }
    assert not {v for _, v, _ in got} & set(victims)
    # probing ALL lists makes IVF exact: equals brute force on the
    # remaining corpus
    from recover_spark.ops import brute_force_topk

    remaining = sub.filter(~F.col("vec_id").isin(victims))
    exact = {
        (r["query_vec_id"], r["vec_id"], r["rank"])
        for r in brute_force_topk(remaining, queries, k=5).collect()
    }
    assert got == exact


def test_ingest_vectors_stream_lifecycle_and_replay(spark, tmp_path):
    """Arrival-driven IVF ingest: first batch builds (frozen
    centroids), later batches append, a fresh-checkpoint replay is a
    strict no-op via the batch marker, and the final index answers
    like a batch build+appends of the same waves."""
    import glob
    import os
    import shutil
    import time

    from recover_spark.ops.similarity import ivf_topk_indexed
    from recover_spark.streaming.incremental import ingest_vectors_stream

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "vsrc")
    os.makedirs(src)
    for i, lo in enumerate((0, 40, 70)):
        staging = str(tmp_path / f"vstage{i}")
        emb.filter(f"vec_id >= {lo} AND vec_id < {lo + 30 if i else 40}") \
           .coalesce(1).write.parquet(staging)
        shutil.move(
            glob.glob(f"{staging}/part-*.parquet")[0], f"{src}/b{i}.parquet"
        )
        time.sleep(1.05)
    schema = "vec_id long, embedding array<float>"
    idx = str(tmp_path / "ivf")

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = ingest_vectors_stream(stream, idx, str(tmp_path / "ck"), n_centroids=8)
    q.awaitTermination(180)

    queries = emb.filter("vec_id < 3")
    first = {
        (r["query_vec_id"], r["vec_id"], r["rank"])
        for r in ivf_topk_indexed(spark, idx, queries, nprobe=3, k=5).collect()
    }
    n_files = len(glob.glob(os.path.join(idx, "list=*", "*.parquet")))

    # fresh checkpoint replays every batch id -> marker makes it a no-op
    stream2 = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q2 = ingest_vectors_stream(stream2, idx, str(tmp_path / "ck2"), n_centroids=8)
    q2.awaitTermination(180)
    assert len(glob.glob(os.path.join(idx, "list=*", "*.parquet"))) == n_files
    again = {
        (r["query_vec_id"], r["vec_id"], r["rank"])
        for r in ivf_topk_indexed(spark, idx, queries, nprobe=3, k=5).collect()
    }
    assert again == first
    # all 100 vectors present
    assert spark.read.parquet(idx).count() == 100


class TestConnectedComponents:
    """Pointer-doubling CC (ops/graph.py:connected_components): exact
    min-reachable labels in O(log diameter) rounds — the general-graph
    sibling of duplicate_clusters' near-clique propagation."""

    @staticmethod
    def _uf_reference(edge_list):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    def test_matches_union_find_on_random_graphs(self, spark):
        import random

        from recover_spark.ops import connected_components

        rng = random.Random(7)
        edge_list = [
            (rng.randrange(60), rng.randrange(60)) for _ in range(45)
        ]
        edge_list = [e for e in edge_list if e[0] != e[1]]
        pairs = spark.createDataFrame(edge_list, "src long, dst long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == self._uf_reference(edge_list)

    def test_deep_chain_converges_in_log_rounds(self, spark):
        """A 500-deep path needs 500 plain-propagation rounds; the
        doubling pass must close it within ~log2(500)+slack rounds —
        max_rounds=12 is an impossible budget for propagation alone."""
        from recover_spark.ops import connected_components

        chain = [(i, i + 1) for i in range(500)]
        pairs = spark.createDataFrame(chain, "src long, dst long")
        got = connected_components(pairs, max_rounds=12)
        labels = {r["node"] for r in got.filter("component = 0").collect()}
        assert labels == set(range(501))

    def test_isolated_pairs_and_self_loops(self, spark):
        from recover_spark.ops import connected_components

        pairs = spark.createDataFrame(
            [(5, 5), (10, 11), (11, 10), (20, 21)], "src long, dst long"
        )
        got = {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        # self-loop-only node 5 is dropped (no real edge); pairs merge
        assert got == {10: 10, 11: 10, 20: 20, 21: 20}

    def test_round_budget_guard_raises(self, spark):
        import pytest as _pytest

        from recover_spark.ops import connected_components

        chain = [(i, i + 1) for i in range(40)]
        pairs = spark.createDataFrame(chain, "src long, dst long")
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_rounds=1)


class TestKCore:
    def test_pendant_path_peels_into_triangle(self, spark):
        from recover_spark.ops.graph import k_core

        # triangle a-b-c with a path c-d-e hanging off: the 2-core is
        # the triangle, and the path must peel ITERATIVELY (e first,
        # then d — a one-shot degree filter would leave d behind)
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
            "src string, dst string",
        )
        got = {r["node"]: r["degree"] for r in k_core(edges, 2).collect()}
        assert got == {"a": 2, "b": 2, "c": 2}

    def test_empty_core(self, spark):
        from recover_spark.ops.graph import k_core

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
        )
        assert k_core(edges, 3).count() == 0

    def test_matches_sequential_peel(self, spark):
        import random

        from recover_spark.ops.graph import k_core

        rng = random.Random(83)
        raw = {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(60), rng.randrange(60)) for _ in range(260)
            )
            if a != b
        }
        df = spark.createDataFrame(
            [(f"n{a}", f"n{b}") for a, b in raw], "src string, dst string"
        )
        got = {r["node"]: r["degree"] for r in k_core(df, 5).collect()}

        adj = {}
        for a, b in raw:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            doomed = [n for n, nb in adj.items() if len(nb) < 5]
            changed = bool(doomed)
            for n in doomed:
                for m in adj.pop(n):
                    adj[m].discard(n)
        want = {f"n{n}": len(nb) for n, nb in adj.items()}
        assert got == want

    def test_max_rounds_raises_on_deep_peel(self, spark):
        import pytest as _pytest

        from recover_spark.ops.graph import k_core

        # a 12-node path peels one node per END per round: > 2 rounds
        edges = spark.createDataFrame(
            [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)],
            "src string, dst string",
        )
        with _pytest.raises(RuntimeError, match="fixpoint"):
            k_core(edges, 2, max_rounds=2)
