"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry exercises a real recover_spark operator
(SURVEY.md §2 ids in the key names); ``oracle_sql()`` gives the
independent DuckDB formulation over the same parquet tables.

Conventions keeping the Spark/DuckDB value-hash comparable:
- timestamps/dates are formatted to strings on both sides;
- aggregate doubles are rounded identically on both sides (filters
  always apply to the UNrounded value on both sides);
- count-like columns are BIGINT on both sides (DuckDB sums are cast);
- hash-derived integers use the engine-portable md5 scheme
  (recover_spark.functions.hashing — identical in Spark and DuckDB).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recover_spark.functions.local import tiny_df as _tiny_df
from recover_spark.sources.readers import load_table as _load
from recover_spark.sql import TABLES as _TABLES

SF_SMOKE = "/root/testdata/sf0.001"
# the driver compares queries against oracles at sf0.01; oracles that
# inline data-derived fixture constants (emb_pca_project) build them
# from this directory
SF_ORACLE = "/root/testdata/sf0.01"


def _ts(col, alias):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias(alias)


# ---------------------------------------------------------------------------
# Reference-surface queries (SURVEY.md §2)
# ---------------------------------------------------------------------------

def q_w1_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — keyed latest-record dedup (json_to_parquet.py:175-221)."""
    from recover_spark.operators import dedup_latest

    events = _load(spark, sf_dir, "events")
    latest = dedup_latest(
        events,
        index_fields=["user_id", "event_type"],
        order_fields=["ts"],
        tiebreakers=["event_id"],
    )
    return latest.select(
        "user_id", "event_type", "event_id", _ts(F.col("ts"), "ts"), "value"
    )


def q_j1_anti_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — left-anti delete application (json_to_parquet.py:224-301)."""
    from recover_spark.operators import drop_deleted

    lineitem = _load(spark, sf_dir, "lineitem")
    deleted = (
        _load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    kept = drop_deleted(lineitem, deleted, index_fields=["l_orderkey"])
    return kept.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


def q_j2_child_rekey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — child re-key via broadcast join on parent index
    (json_to_parquet.py:539-626)."""
    from recover_spark.operators import add_index_to_child

    lineitem = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    rekeyed = add_index_to_child(
        lineitem,
        orders,
        index_fields=["o_custkey", "o_orderpriority"],
        fk_col="o_orderkey",
        id_col="l_orderkey",
        extra_cols=(),
    )
    return rekeyed.select(
        "l_orderkey", "l_linenumber", "o_custkey", "o_orderpriority"
    )


def q_j3_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — native dataset diff (the SparkCompare the reference wished
    for, compare_parquet_datasets.py:554-587)."""
    from recover_spark.operators import compare_datasets

    main = _load(spark, sf_dir, "customer")
    staging = main.filter(F.col("c_custkey") % 97 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 0, F.lit("MODIFIED"))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        "c_nationkey",
        F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 10)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    res = compare_datasets(staging, main, ["c_custkey"])
    return (
        res.left_only.select("c_custkey", F.lit("left_only").alias("diff_type"))
        .unionAll(
            res.right_only.select("c_custkey", F.lit("right_only").alias("diff_type"))
        )
        .unionAll(
            res.mismatched.select("c_custkey", F.lit("mismatch").alias("diff_type"))
        )
    )


def q_a1_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — per-group record accounting (json_to_parquet.py:481-489)."""
    from recover_spark.operators import stage_counts

    events = _load(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    return stage_counts(
        events, "READ", group_cols=("event_date", "event_type")
    ).select("event_date", "event_type", "record_count", "stage")


def q_j4_audit_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — read-vs-write count reconciliation (consume_logs.py:321-330)."""
    from recover_spark.operators.audit import count_reconciliation

    events = _load(spark, sf_dir, "events")
    access = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("access_count")
    )
    creation = (
        events.filter(F.col("value") > 10)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("creation_count"))
    )
    return count_reconciliation(access, creation, keys=("event_type",))


def q_a5_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — grouped collect (consume_logs.py:153-178), array rendered as
    a joined string for cross-engine comparison."""
    from recover_spark.operators.audit import group_collect

    nation = _load(spark, sf_dir, "nation")
    grouped = group_collect(nation, ["n_regionkey"], "n_name")
    return grouped.select(
        "n_regionkey", F.concat_ws(",", F.col("n_name_list")).alias("n_names")
    )


def q_p4_defensive_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — defensive JSON-string array parse: malformed -> [] not null
    (s3_to_json.py:291-348)."""
    from pyspark.sql import types as T

    from recover_spark.functions.transforms import defensive_json_array

    docs = _load(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit("not valid json"))
        .when(F.col("doc_id") % 3 == 1, F.lit('[{"id":"a"},{"id":"b"}]'))
        .otherwise(F.lit(""))
        .alias("s"),
    )
    arr_t = T.ArrayType(T.StructType([T.StructField("id", T.StringType())]))
    parsed = raw.select(
        "doc_id", defensive_json_array(F.col("s"), arr_t).alias("a")
    )
    return parsed.select("doc_id", F.size("a").alias("n_items"))


def q_a4_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — duplicate-key detection (compare_parquet_datasets.py:488-507)."""
    from recover_spark.operators import duplicate_keys

    lineitem = _load(spark, sf_dir, "lineitem")
    return duplicate_keys(lineitem, ["l_orderkey"])


def q_n2_relationalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2/N3 — relationalize: nested array -> child table with carried
    parent keys + element index (json_to_parquet.py:682-695)."""
    from recover_spark.operators import relationalize

    lineitem = _load(spark, sf_dir, "lineitem")
    nested = (
        lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("l_linenumber", "l_partkey", "l_quantity"))
            ).alias("items")
        )
    )
    frames = relationalize(nested, "orders_nested", carry_cols=["o_orderkey"])
    return frames["orders_nested_items"].select(
        "o_orderkey", "index", "l_linenumber", "l_partkey", "l_quantity"
    )


def q_p3_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — JSON-string -> typed struct (s3_to_json.py:206-208)."""
    from recover_spark.functions.transforms import json_string_to_struct

    events = _load(spark, sf_dir, "events")
    parsed = events.select(
        "event_id",
        json_string_to_struct(F.col("props"), "k int").alias("p"),
    )
    return parsed.select("event_id", F.col("p.k").alias("k"))


def q_p5_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — offset-object -> array-of-structs normalize
    (s3_to_json.py:40-116), flattened for comparison."""
    from recover_spark.functions.transforms import map_to_offset_array

    events = _load(spark, sf_dir, "events")
    with_map = events.select(
        "event_id",
        F.create_map(
            F.lit("0"), F.col("value"), F.lit("1"), F.col("value") * 2
        ).alias("m"),
    )
    normalized = with_map.select(
        "event_id",
        F.explode(
            map_to_offset_array(
                F.col("m"), value_name="metric", value_type="double"
            )
        ).alias("e"),
    )
    return normalized.select(
        "event_id",
        F.col("e.OffsetInSeconds").alias("offset_s"),
        F.col("e.metric").alias("metric"),
    )


def q_p6_filename_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — export-filename metadata extraction (s3_to_json.py:788-822)."""
    from recover_spark.functions.transforms import filename_metadata

    events = _load(spark, sf_dir, "events")
    named = events.select(
        "event_id",
        F.concat(
            F.col("event_type"),
            F.lit("_2023011"),
            (F.col("event_id") % 10).cast("string"),
            F.lit(".json"),
        ).alias("fname"),
    )
    meta = named.select("event_id", filename_metadata(F.col("fname")).alias("m"))
    return meta.select(
        "event_id",
        F.col("m.type").alias("type"),
        F.date_format("m.end_date", "yyyy-MM-dd").alias("end_date"),
    )


def q_v1_range_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1/V3 — expectation suite compiled to one aggregate pass
    (run_great_expectations_on_parquet.py:223-277)."""
    from recover_spark.quality.expectations import run_suite

    lineitem = _load(spark, sf_dir, "lineitem")
    suite = [
        {
            "expectation_type": "expect_column_values_to_be_between",
            "kwargs": {"column": "l_quantity", "min_value": 1, "max_value": 30},
        },
        {
            "expectation_type": "expect_column_values_to_be_between",
            "kwargs": {"column": "l_discount", "min_value": 0.0, "max_value": 0.05},
        },
    ]
    results = run_suite(lineitem, suite)
    return _tiny_df(
        spark,
        [
            (r.column, r.element_count, r.unexpected_count, r.success)
            for r in results
        ],
        schema="column string, element_count long, unexpected_count long, success boolean",
    )


# ---------------------------------------------------------------------------
# Relational showcase queries (agg/join coverage + bench headliners)
# ---------------------------------------------------------------------------

def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the A-class aggregate headliner."""
    lineitem = _load(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + deterministic top-10."""
    customer = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    lineitem = _load(spark, sf_dir, "lineitem")
    seg = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    joined = (
        orders.join(F.broadcast(seg), orders.o_custkey == seg.c_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
    )
    revenue = (
        joined.groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
        )
        .orderBy(F.col("rev").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )
    return revenue.select(
        "o_orderkey", "o_orderpriority", F.round("rev", 2).alias("revenue")
    )


def q_join_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 5-way join with broadcast dims, revenue by nation."""
    nation = _load(spark, sf_dir, "nation")
    customer = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    lineitem = _load(spark, sf_dir, "lineitem")
    supplier = _load(spark, sf_dir, "supplier")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Training-data-scale operators (documents / embeddings)
# ---------------------------------------------------------------------------

def _pq_ready(idx: str) -> bool:
    from recover_spark.ops.similarity import pq_sidecar_complete

    return pq_sidecar_complete(idx)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over documents."""
    from recover_spark.ops import exact_dedup

    docs = _load(spark, sf_dir, "documents")
    return exact_dedup(docs)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 portable hash seeds, word 3-gram shingles)."""
    from recover_spark.ops import minhash_signatures

    docs = _load(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=4, shingle_size=3)
    return sig.select(
        "doc_id", *[F.col("minhash")[i].alias(f"mh_{i}") for i in range(4)]
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH end-to-end: shingle -> 16-hash signature -> 4 band
    digests -> bucket equi-join -> signature-agreement scoring (the
    O(n^2)-free near-dup scale path, ops/dedup_text.py)."""
    from recover_spark.ops import minhash_near_duplicates

    docs = _load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, num_hashes=16, bands=4, shingle_size=3,
        min_signature_agreement=0.5,
    )
    return pairs.select(
        "id_a", "id_b",
        F.round("signature_agreement", 6).alias("signature_agreement"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over Jaccard pairs via
    iterative min-label propagation (ops/dedup_text.py); keep-one rule
    is doc_id == cluster."""
    from recover_spark.ops import duplicate_clusters, ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_size=3, min_jaccard=0.2)
    return duplicate_clusters(pairs, docs)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 16-bit signatures over documents."""
    from recover_spark.ops import simhash_signatures

    docs = _load(spark, sf_dir, "documents")
    return simhash_signatures(docs, bits=16)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-duplicate pairs via inverted shingle index,
    with the stop-shingle skew guard ON (the operator default): shingles
    in >50 docs are dropped BEFORE the self-join — a shingle in k docs
    makes k^2 pair rows, so the guard is what keeps candidate
    generation sub-quadratic at 100 TB.  The oracle mirrors the guard
    exactly."""
    from recover_spark.ops import ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, shingle_size=3, min_jaccard=0.2)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, scale-safe default path:
    4-plane hyperplane-LSH blocking + same-bucket equi-join — nothing is
    collected to the driver or broadcast, so the identical plan runs on
    a corpus that fits on no single machine.  Blocking is approximate
    (cross-bucket pairs are not compared); the oracle mirrors the
    bucket restriction exactly."""
    from recover_spark.ops import embedding_near_duplicates

    emb = _load(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(emb, threshold=0.45, dim=64, num_planes=2)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup CLUSTERS: the embedding-cosine pair stage
    (LSH-blocked, same plan as dedup_embedding) composed with
    pointer-doubling connected components — pairwise near-dup output
    turned into a keep-one-per-cluster decision over the VECTOR space
    (the embedding sibling of dedup_clusters' n-gram graph).
    Singleton vectors cluster to themselves.  Oracle: the identical
    blocked pair SQL feeding a recursive-closure min-label collapse.

    4 planes (16 buckets) rather than dedup_embedding's 2: the
    cluster query feeds CC with every within-bucket pair, and
    within-bucket pair count grows as (n/buckets)^2 — the sf1 probe
    measured the 4-bucket blocking at 8.2x for 10x vectors, the
    16-bucket one stays near-linear.

    The clustering is the ONE shared run per (process, sf_dir)
    (_shared_semantic_clusters): this query carries the construct in
    the bench (lifecycle split: construct = pairs + CC fixpoint +
    state write, read = the assignment scan), and the histogram/split
    siblings aggregate the same state instead of re-running the
    fixpoint — deterministic assignment, so no row of any of the
    three moves."""
    state = _shared_semantic_clusters(spark, sf_dir)
    return spark.read.parquet(state).orderBy("vec_id")


def q_dedup_embedding_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding near-dup via the opt-in broadcast GEMM
    path (numpy matmul over Arrow batches against a broadcast matrix) —
    the small-corpus/batch-vs-corpus shape, guarded by a row-count cap
    so it fails loudly rather than OOMing the driver at scale."""
    from recover_spark.ops import embedding_near_duplicates

    emb = _load(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(emb, threshold=0.45, method="broadcast")
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id < 3)."""
    from recover_spark.ops import brute_force_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    topk = brute_force_topk(emb, queries, k=5)
    return topk.select(
        "query_vec_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality features per document."""
    from recover_spark.functions.text import (
        bpe_token_estimate,
        quality_features,
        token_count,
    )

    docs = _load(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_token_estimate(F.col("text")).alias("n_bpe_tokens"),
        F.round(q["punct_ratio"], 6).alias("punct_ratio"),
        F.round(q["space_ratio"], 6).alias("space_ratio"),
        F.round(q["mean_word_len"], 6).alias("mean_word_len"),
        F.round(q["stopword_ratio"], 6).alias("stopword_ratio"),
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID per document (tokens materialized once —
    the inline form re-tokenizes per marker filter since HOFs get no
    common-subexpression elimination)."""
    from recover_spark.functions.text import tokens
    from recover_spark.ops.text_analysis import language_id_from_tokens

    from recover_spark.functions.transforms import materialize_columns

    docs = _load(spark, sf_dir, "documents")
    toked = materialize_columns(
        docs.select("doc_id", "text"), {"__toks": tokens("text")}
    )
    return toked.select(
        "doc_id", language_id_from_tokens(F.col("__toks")).alias("lang_guess")
    )


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style composite quality gate: pass/fail + first-failed-rule
    reason per document (ops/text_analysis.py, map-only pass)."""
    from recover_spark.ops.text_analysis import quality_filter

    docs = _load(spark, sf_dir, "documents")
    return quality_filter(docs)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash document fingerprint."""
    from recover_spark.ops.text_analysis import document_fingerprint

    docs = _load(spark, sf_dir, "documents")
    return document_fingerprint(docs, window=8)


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-keyed dedup: collapse documents sharing a winnowing
    fingerprint to the lowest doc id — the cheap recall-oriented
    near-dup pass (one groupBy on the 8-byte fingerprint, uniform and
    skew-free) that runs BEFORE pairwise scoring in a layered dedup
    stack."""
    from recover_spark.ops.text_analysis import document_fingerprint

    docs = _load(spark, sf_dir, "documents")
    fp = document_fingerprint(docs, window=8)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select("doc_id", "fingerprint", "n_docs")
    )


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming extension — gap-based sessionization (batch
    formulation; streaming twin is applyInPandasWithState)."""
    from recover_spark.streaming.stateful import sessionize_batch

    events = _load(spark, sf_dir, "events")
    sessions = sessionize_batch(events, gap_seconds=1800)
    return sessions.select(
        "user_id",
        _ts(F.col("session_start"), "session_start"),
        _ts(F.col("session_end"), "session_end"),
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 extension — tumbling-window event counts (batch mode of the
    streaming helper)."""
    from recover_spark.streaming.incremental import windowed_event_counts

    events = _load(spark, sf_dir, "events")
    counts = windowed_event_counts(events, window_duration="1 hour")
    return counts.select(
        _ts(F.col("window_start"), "window_start"),
        _ts(F.col("window_end"), "window_end"),
        "event_type",
        "n_events",
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (scale path): 8 deterministic inverted lists, probe 2,
    exact rescoring within probed lists."""
    from recover_spark.ops.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    topk = ivf_topk(emb, queries, n_centroids=8, nprobe=2, k=5)
    return topk.select(
        "query_vec_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF ANN: build the hive-partitioned inverted-list index
    once, then answer from it with partition-pruned scans (probes never
    read unprobed lists).  Same centroids/probe params as ``ann_ivf``,
    so the same oracle applies."""
    from recover_spark.ops.similarity import ivf_topk_indexed

    emb = _load(spark, sf_dir, "embeddings")
    # build-once-query-many WITHIN the process: the shared per-process
    # base index (_shared_ivf_index) — nothing persists across runs
    idx = _shared_ivf_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    topk = ivf_topk_indexed(spark, idx, queries, nprobe=2, k=5)
    return topk.select(
        "query_vec_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_ann_ivf_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF ANN through the COLLECT-FREE probe path
    (ops/similarity.py:ivf_topk_joined, VERDICT r13 #4's optional
    half): probe planning is a broadcast join on the centroid frame —
    the geometry-unbounded route past MAX_DRIVER_LISTS, where the
    driver never materializes a centroid.  Same index, params and
    scoring expressions as ``ann_ivf_indexed`` (scores are the
    identical left-fold, bit-for-bit), so the same oracle applies."""
    from recover_spark.ops.similarity import ivf_topk_joined

    emb = _load(spark, sf_dir, "embeddings")
    idx = _shared_ivf_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    topk = ivf_topk_joined(spark, idx, queries, nprobe=2, k=5)
    return topk.select(
        "query_vec_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index vs the exact brute-force ranking, at
    nprobe 1 / 4 / 8(=all lists) — THE number a user tunes nprobe with
    (VERDICT r10 #4).  One semi-join + ratio over two already-oracled
    rankers; at nprobe = n_centroids the probe covers every list, so
    recall must be exactly 1.0 (the pytest exhaustive-probe equality,
    value-verified in the battery).

    Scale shape: the exact top-k (a k*|queries|-row frame) pins behind
    a lazy localCheckpoint so the three nprobe arms share it instead of
    re-running brute force; each arm reads ONLY its probed list
    partitions from the persisted index (PartitionFilters), and the
    recall fold is an aggregate over k*|queries| rows per arm.
    """
    from functools import reduce as _reduce

    from recover_spark.ops.similarity import ivf_topk_indexed
    from recover_spark.ops import brute_force_topk

    emb = _load(spark, sf_dir, "embeddings")
    idx = _shared_ivf_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    exact = (
        brute_force_topk(emb, queries, k=5)
        .select("query_vec_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    arms = []
    for nprobe in (1, 4, 8):
        appr = ivf_topk_indexed(spark, idx, queries, nprobe=nprobe, k=5)
        hits = appr.select("query_vec_id", "vec_id").join(
            exact, ["query_vec_id", "vec_id"], "left_semi"
        )
        arms.append(
            hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits")).select(
                F.lit(nprobe).cast("int").alias("nprobe"), "n_hits"
            )
        )
    folded = _reduce(lambda a, b: a.unionAll(b), arms)
    total = exact.agg(F.count(F.lit(1)).cast("long").alias("__n_exact"))
    return (
        folded.crossJoin(F.broadcast(total))
        .select(
            "nprobe",
            "n_hits",
            F.round(
                F.col("n_hits") / F.col("__n_exact") + F.lit(1e-9), 6
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (ops/similarity.py:ivf_pq_topk): 8 subspaces x 16
    codes trained with one deterministic Lloyd step, candidates scored
    by ADC table lookups over their code tuples within the 2 probed
    IVF lists — the corpus side of the candidate join carries only
    (id, list, 8 codes), never the float vectors (VERDICT r10 #3)."""
    from recover_spark.ops.similarity import ivf_pq_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    topk = ivf_pq_topk(
        emb, queries, n_centroids=8, nprobe=2, k=5,
        m_subspaces=8, n_codes=16, train_iterations=1,
    )
    return topk.select(
        "query_vec_id", "vec_id",
        F.round("pq_cosine", 6).alias("pq_cosine"), "rank",
    )


def q_ann_ivf_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ (ops/similarity.py:ivf_pq_topk_indexed):
    codebooks + per-row code tuples built once into a list-partitioned
    sidecar of the IVF index; a probe is a PartitionFilters-pruned scan
    of the probed lists' CODE files plus ADC lookups — no float vector
    is read at query time.  Same train/encode arithmetic as
    ``ann_ivf_pq``, so the same oracle applies."""
    from recover_spark.ops.similarity import ivf_pq_topk_indexed

    emb = _load(spark, sf_dir, "embeddings")
    idx = _shared_ivf_index(spark, sf_dir, pq=True)
    queries = emb.filter(F.col("vec_id") < 3)
    topk = ivf_pq_topk_indexed(spark, idx, queries, nprobe=2, k=5)
    return topk.select(
        "query_vec_id", "vec_id",
        F.round("pq_cosine", 6).alias("pq_cosine"), "rank",
    )


def q_ann_ivf_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortlist-then-refine IVF-PQ (ops/similarity.py:
    ivf_pq_topk_refined): ADC top-20 shortlist from the probed lists'
    code sidecar, exact-cosine re-rank of ONLY the shortlist against
    the list-partitioned float vectors (the refine scan is pruned by
    the SAME PartitionFilters as the code scan), exact top-5 out —
    the production composition that recovers quantization loss for a
    bounded extra read."""
    from recover_spark.ops.similarity import ivf_pq_topk_refined

    emb = _load(spark, sf_dir, "embeddings")
    idx = _shared_ivf_index(spark, sf_dir, pq=True)
    queries = emb.filter(F.col("vec_id") < 3)
    topk = ivf_pq_topk_refined(
        spark, idx, queries, nprobe=2, shortlist_r=20, k=5
    )
    return topk.select(
        "query_vec_id", "vec_id",
        F.round("cosine", 6).alias("cosine"), "rank",
    )


def q_agg_cm_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-frequency sketch (ops/cmsketch.py): per-event-
    type 4x64 cell table from ONE depth-exploded aggregate, point
    estimates for the user_id < 8 key set as a min-fold over the
    queried cells.  The md5-derived hash family is engine-portable,
    so the ORACLE REBUILDS THE WHOLE SKETCH and the estimates hash
    EXACTLY — no tolerance flag; the exact counts ride along with the
    never-underestimates guarantee as a pinned-TRUE column."""
    from recover_spark.ops.cmsketch import cm_build, cm_estimate

    events = _load(spark, sf_dir, "events")
    state = cm_build(events, ["event_type"], "user_id", depth=4, width=64)
    queries = (
        events.filter(F.col("user_id") < 8)
        .select("event_type", "user_id")
        .distinct()
    )
    est = cm_estimate(state, queries, ["event_type"], "user_id", 4, 64)
    exact = (
        events.filter(F.col("user_id") < 8)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    return (
        est.join(exact, ["event_type", "user_id"])
        .select(
            "event_type",
            "user_id",
            "cm_count",
            "n_exact",
            (F.col("cm_count") >= F.col("n_exact")).alias(
                "never_underestimates"
            ),
        )
        .orderBy("event_type", "user_id")
    )


def q_stream_cm_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained count-min sketch: per-event-type cell
    counters folded across a four-file availableNow stream
    (streaming/matview.py:maintain_cm_matview) — cells are plain sums,
    so the stream rides the merge_counts machinery (batch-id replay
    guard, generation swap) and the streamed state answers point
    queries IDENTICALLY to a one-shot batch build; the oracle is the
    batch sketch, maintenance invisible."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_cm_matview,
        read_cm_matview,
    )

    run_dir = f"spark-warehouse/matview_cm_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    events = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "event_id long, event_type string, user_id long",
    )
    q = maintain_cm_matview(
        stream, f"{run_dir}/state", f"{run_dir}/ckpt",
        ["event_type"], "user_id", depth=4, width=64,
    )
    q.awaitTermination(300)
    queries = (
        events.filter(F.col("user_id") < 8)
        .select("event_type", "user_id")
        .distinct()
    )
    est = read_cm_matview(
        spark, f"{run_dir}/state", queries, ["event_type"], "user_id",
        depth=4, width=64,
    )
    exact = (
        events.filter(F.col("user_id") < 8)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    return (
        est.join(exact, ["event_type", "user_id"])
        .select(
            "event_type",
            "user_id",
            "cm_count",
            "n_exact",
            (F.col("cm_count") >= F.col("n_exact")).alias(
                "never_underestimates"
            ),
        )
        .orderBy("event_type", "user_id")
    )


def q_agg_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch with SET
    OPERATIONS (ops/kmv.py, Beyer et al. SIGMOD 2007): per-order-status
    audience sketches (k=256 smallest md5-derived 60-bit hashes of the
    customer key), then pairwise union / intersection / Jaccard
    ESTIMATES from the merged sketches — the set-expression ask HLL
    registers cannot answer directly.  The hash family is fixed and
    engine-portable, so the ORACLE REBUILDS THE WHOLE SKETCH and every
    estimate hashes EXACTLY (the cm_build precedent); the exact
    union/intersection ride along via one hash-keyed equi-join, and
    the estimate-vs-exact deviation folds into within-tolerance
    booleans pinned TRUE (4-sigma bands for k=256: rel std err
    1/sqrt(k-2) ~ 6.3% on cardinalities)."""
    from recover_spark.functions.hashing import portable_hash64
    from recover_spark.ops.kmv import kmv_pairwise_overlap, kmv_sketch

    k = 256
    orders = _load(spark, sf_dir, "orders")
    sk = kmv_sketch(orders, ["o_orderstatus"], "o_custkey", k=k)
    est = kmv_pairwise_overlap(sk, "o_orderstatus", k=k)

    hashed = (
        orders.filter(F.col("o_custkey").isNotNull())
        .select(
            F.col("o_orderstatus").alias("key"),
            portable_hash64(F.col("o_custkey"), salt="kmv").alias("h"),
        )
        .distinct()
    )
    sizes = hashed.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        hashed.alias("a")
        .join(
            hashed.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .groupBy(
            F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersect"))
    )
    out = (
        est.join(
            sizes.select(F.col("key").alias("key_a"), F.col("n").alias("n_a")),
            "key_a",
        )
        .join(
            sizes.select(F.col("key").alias("key_b"), F.col("n").alias("n_b")),
            "key_b",
        )
        .join(inter, ["key_a", "key_b"], "left")
        .withColumn(
            "exact_intersect",
            F.coalesce(F.col("exact_intersect"), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "exact_union",
            (F.col("n_a") + F.col("n_b") - F.col("exact_intersect")).cast(
                "bigint"
            ),
        )
    )
    return out.select(
        "key_a",
        "key_b",
        "exact_union",
        "exact_intersect",
        "est_union",
        "est_intersect",
        "jaccard_est",
        (
            F.abs(F.col("est_union") - F.col("exact_union"))
            <= F.greatest(F.lit(2.0), 0.25 * F.col("exact_union"))
        ).alias("union_ok"),
        (
            F.abs(F.col("est_intersect") - F.col("exact_intersect"))
            <= F.greatest(F.lit(8.0), 0.40 * F.col("exact_intersect"))
        ).alias("intersect_ok"),
    ).orderBy("key_a", "key_b")


def q_stream_sample_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained BOTTOM-K UNIFORM SAMPLE: per-event-type
    deterministic 8-member samples folded across a four-file
    availableNow stream (streaming/matview.py:maintain_sample_matview)
    — the payload-carrying KMV sketch, i.e. a uniform sample of each
    key's distinct payloads that classic reservoir sampling cannot
    merge (RNG state makes reservoir merges order-dependent; min-k on
    a fixed hash is associative, commutative AND idempotent).
    Membership is md5-deterministic, so the oracle reproduces the
    sample BIT-FOR-BIT — an EXACT hash on a streaming sample, stronger
    than the tolerance-flag sketch pattern."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_sample_matview,
        read_sample_matview,
    )

    run_dir = f"spark-warehouse/matview_bks_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    events = _load(spark, sf_dir, "events").select("event_id", "event_type")
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "event_id long, event_type string",
    )
    q = maintain_sample_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        ["event_type"],
        payload_col="event_id",
        k=8,
    )
    q.awaitTermination(300)
    view = read_sample_matview(spark, f"{run_dir}/state")
    return view.select(
        "event_type",
        F.col("rank").cast("int").alias("rank"),
        F.col("payload").cast("bigint").alias("event_id"),
    ).orderBy("event_type", "rank")


def q_graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (ops/graph.py:shortest_paths):
    minimum hops from the decile suppliers (s_suppkey % 10 == 0,
    non-empty at every sf) over the bidirectional
    customer<->supplier trade graph, capped at 3 — the Pregel
    frontier traversal as per-level equi-join + anti-join against the
    settled set, lineage bounded by per-level lazy checkpoints (the
    pagerank convention).  Oracle: a recursive-CTE walk with a
    min-per-node collapse (the graph_components precedent), so the
    iterative frontier algorithm is hash-verified end-to-end."""
    from recover_spark.ops.graph import shortest_paths

    lineitem = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    supplier = _load(spark, sf_dir, "supplier")
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = flows.unionByName(
        flows.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = supplier.filter(F.col("s_suppkey") % 10 == 0).select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("node")
    )
    return (
        shortest_paths(edges, seeds, max_hops=3)
        .select("node", F.col("dist").cast("int").alias("dist"))
        .orderBy("node")
    )


def q_sample_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet mining (anchor, positive, negative)
    — the embedding-model training-data ask: positives from the
    n-gram-Jaccard near-dup pair set (ops/dedup_text.py:
    ngram_jaccard_pairs, the dedup_jaccard machinery; positive = the
    smallest near-twin id), negatives by a DETERMINISTIC ring shift on
    the md5-hash rank WITHIN (lang, hash-bucket) — rank r pairs with
    rank (r + n//2) mod n, so every anchor gets an unbiased same-
    language pseudo-random negative with no RNG and no cross-partition
    sort: the rank window runs per (lang, bucket), buckets sized to
    bound any one group at 100 TB.  Negatives that collide with the
    anchor, its positive, or ANY near-dup of the anchor (symmetric
    pair anti-join — an equi-join, never an OR-join) are excluded.
    Fully deterministic: the oracle reproduces every triplet."""
    from pyspark.sql import Window

    from recover_spark.functions.hashing import portable_hash64
    from recover_spark.ops import ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents")
    # pin the near-dup pair set: two consumers (positives, the
    # symmetric exclusion anti-join) re-executed the shingle+jaccard
    # join un-pinned (r14 optimization)
    pairs = ngram_jaccard_pairs(docs, shingle_size=3, min_jaccard=0.2).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=False)
    pos = (
        pairs.groupBy("id_a")
        .agg(F.min("id_b").alias("positive_id"))
        .withColumnRenamed("id_a", "anchor_id")
    )
    sym = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )

    ranked = (
        docs.select("doc_id", "lang")
        .withColumn("h", portable_hash64(F.col("doc_id"), salt="ctr"))
        .withColumn("bucket", (F.col("h") % 4).cast("int"))
    )
    w = Window.partitionBy("lang", "bucket").orderBy("h")
    wc = Window.partitionBy("lang", "bucket")
    ranked = ranked.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(wc)
    ).localCheckpoint(eager=False)  # two consumers (targets, negatives)
    targets = ranked.withColumn(
        "target",
        (
            (F.col("rn") - 1 + F.floor(F.col("cnt") / 2)) % F.col("cnt") + 1
        ).cast("int"),
    )
    negs = targets.select(
        F.col("doc_id").alias("anchor_id"), "lang", "bucket", "target"
    ).join(
        ranked.select(
            F.col("doc_id").alias("negative_id"),
            "lang",
            "bucket",
            F.col("rn").alias("target"),
        ),
        ["lang", "bucket", "target"],
    )
    return (
        pos.join(negs, "anchor_id")
        .filter(
            (F.col("negative_id") != F.col("anchor_id"))
            & (F.col("negative_id") != F.col("positive_id"))
        )
        .join(
            sym.select(
                F.col("id_a").alias("anchor_id"),
                F.col("id_b").alias("negative_id"),
            ),
            ["anchor_id", "negative_id"],
            "left_anti",
        )
        .select("anchor_id", "positive_id", "negative_id", "lang")
        .orderBy("anchor_id")
    )


def q_stream_kmv_overlap_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations over STREAMED member sets: the bottom-k sample
    state's per-key hash arrays ARE KMV sketches, so pairwise
    union/intersection/Jaccard of the event-type audiences read
    straight from the incrementally-maintained state with no history
    rescan (streaming/matview.py:read_sample_overlap) — the
    set-expression lens of the distinct-sketch matview family.  min-k
    mergeability makes the streamed sketch EQUAL the one-shot batch
    sketch, so estimates hash exactly; exact counts + 4-sigma flags
    ride along as in agg_kmv_overlap."""
    import uuid

    from recover_spark.functions.hashing import portable_hash64
    from recover_spark.streaming.matview import (
        maintain_sample_matview,
        read_sample_overlap,
    )

    k = 256
    run_dir = f"spark-warehouse/matview_kmv_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    events = _load(spark, sf_dir, "events").select("event_type", "user_id")
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "event_type string, user_id long",
    )
    q = maintain_sample_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        ["event_type"],
        payload_col="user_id",
        k=k,
    )
    q.awaitTermination(300)
    est = read_sample_overlap(spark, f"{run_dir}/state", "event_type", k=k)

    hashed = (
        events.filter(F.col("user_id").isNotNull())
        .select(
            F.col("event_type").alias("key"),
            portable_hash64(
                F.col("user_id").cast("string"), salt="bksample"
            ).alias("h"),
        )
        .distinct()
    )
    sizes = hashed.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        hashed.alias("a")
        .join(
            hashed.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .groupBy(
            F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersect"))
    )
    out = (
        est.join(
            sizes.select(F.col("key").alias("key_a"), F.col("n").alias("n_a")),
            "key_a",
        )
        .join(
            sizes.select(F.col("key").alias("key_b"), F.col("n").alias("n_b")),
            "key_b",
        )
        .join(inter, ["key_a", "key_b"], "left")
        .withColumn(
            "exact_intersect",
            F.coalesce(F.col("exact_intersect"), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "exact_union",
            (F.col("n_a") + F.col("n_b") - F.col("exact_intersect")).cast(
                "bigint"
            ),
        )
    )
    return out.select(
        "key_a",
        "key_b",
        "exact_union",
        "exact_intersect",
        "est_union",
        "est_intersect",
        "jaccard_est",
        (
            F.abs(F.col("est_union") - F.col("exact_union"))
            <= F.greatest(F.lit(2.0), 0.25 * F.col("exact_union"))
        ).alias("union_ok"),
        (
            F.abs(F.col("est_intersect") - F.col("exact_intersect"))
            <= F.greatest(F.lit(8.0), 0.40 * F.col("exact_intersect"))
        ).alias("intersect_ok"),
    ).orderBy("key_a", "key_b")


def q_agg_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type isotonic calibration via pool-adjacent-violators
    (ops/classifier_eval.py:isotonic_calibration_by_group) — the
    unique non-decreasing step function fitting observed positive
    rates, completing the calibration family (reliability bins and
    ECE diagnose; PAV FIXES).  Scores pre-binned to the milli grain
    so the distinct-score cell frame is bounded; PAV itself uses
    integer cross-multiplication (exact block boundaries), the only
    float op the final rate division — hash-verified bit-for-bit by
    an independent from-scratch PAV oracle (oracle_py)."""
    from recover_spark.ops.classifier_eval import (
        isotonic_calibration_by_group,
    )

    ev = _classifier_eval_fixture(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("score") * 1000).cast("int").alias("bucket"),
        "label",
    )
    return isotonic_calibration_by_group(
        ev, ["event_type"], "bucket", "label"
    ).orderBy("event_type", "block")


def _py_oracle_isotonic(con, sf_dir):
    """Independent PAV oracle: DuckDB builds the same milli-binned
    cells; a from-scratch pool-adjacent-violators pass (no shared code
    with ops/classifier_eval.py) fits the blocks."""
    cells = con.execute(
        """
        SELECT event_type,
               CAST(floor((value - floor(value)) * 1000) AS INT) AS b,
               sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS pos,
               count(*) AS n
        FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    groups: dict = {}
    for g, b, p, n in cells:
        groups.setdefault(g, []).append((b, int(p), int(n)))
    out = []
    for g in sorted(groups):
        blocks: list[list] = []
        for b, p, n in sorted(groups[g]):
            blocks.append([p, n, b, b])
            while len(blocks) > 1:
                pa, na, loa, _ = blocks[-2]
                pb, nb, _, hib = blocks[-1]
                if pa * nb >= pb * na:
                    blocks[-2:] = [[pa + pb, na + nb, loa, hib]]
                else:
                    break
        for i, (p, n, lo, hi) in enumerate(blocks):
            out.append(
                (g, i, float(lo), float(hi), n, p, round(p / n + 1e-9, 6) + 0.0)
            )
    return [
        "event_type", "block", "score_lo", "score_hi",
        "n_rows", "n_pos", "calibrated",
    ], out


def q_transform_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe K-fold target encoding (ops/encoding.py:
    target_encode_cells, the Micci-Barreca / CatBoost out-of-fold mean
    encoding): order-priority encoded by the mean total price its
    OTHER folds observed, m-estimate-smoothed toward the leave-out
    global mean (the prior must not leak either).  ONE fact pass to
    the (category, fold) cells; every leave-out statistic is a window
    over that bounded frame.  Folds ride the portable md5 hash, so
    the oracle reproduces fold membership and the encoding exactly;
    rounded to 4 (mean-scale values — the sum-magnitude rule's
    margin)."""
    from recover_spark.ops.encoding import target_encode_cells

    orders = _load(spark, sf_dir, "orders")
    return target_encode_cells(
        orders,
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
        n_folds=5,
        smoothing=10.0,
        round_digits=4,
    ).orderBy("category", "fold")


def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded dynamic-time-warping distance between the event-type
    daily series (ops/dtw.py) — phase-shift-tolerant series similarity
    Euclidean comparison is blind to (a metric reacting a day late
    still reads as similar).  The only fact-sized pass is the
    (type, day) mean collapse; the Sakoe-Chiba DP (|i-j| <= 16) runs
    per pair in an Arrow-batched kernel over the O(keys) series table
    under the loud max_keys pairing guard.  The DP is fixed-order
    float64, so an INDEPENDENT pure-Python oracle reproduces every
    distance bit-for-bit (oracle_py, the trainer-hashing pattern)."""
    from recover_spark.ops.dtw import dtw_pairwise, keyed_series

    ev = _load(spark, sf_dir, "events")
    pts = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("day"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    series = keyed_series(pts, "event_type", "day", "v")
    return dtw_pairwise(series, "event_type", band=16).orderBy(
        "key_a", "key_b"
    )


def _py_oracle_ts_dtw(con, sf_dir):
    """Independent banded-DTW oracle: DuckDB builds the same daily
    series, a from-scratch pure-Python DP (no shared code with
    ops/dtw.py) computes the distances."""
    rows = con.execute(
        """
        SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               round(avg(value), 6) AS v
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    series: dict = {}
    for k, _d, v in rows:
        series.setdefault(k, []).append(float(v))

    def _dtw(a, b, band=16):
        n, m = len(a), len(b)
        be = max(band, abs(n - m))
        inf = float("inf")
        prev = [inf] * (m + 1)
        prev[0] = 0.0
        for i in range(1, n + 1):
            cur = [inf] * (m + 1)
            for j in range(max(1, i - be), min(m, i + be) + 1):
                cost = abs(a[i - 1] - b[j - 1])
                cur[j] = cost + min(prev[j], prev[j - 1], cur[j - 1])
            prev = cur
        return prev[m]

    keys = sorted(series)
    out = []
    for i, ka in enumerate(keys):
        for kb in keys[i + 1:]:
            a, b = series[ka], series[kb]
            out.append(
                (ka, kb, len(a), len(b), round(_dtw(a, b), 6))
            )
    return ["key_a", "key_b", "n_a", "n_b", "dtw_dist"], out


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED n-gram containment pairs (ops/dedup_text.py:
    ngram_containment_pairs): C(A -> B) = |A ∩ B| / |A| over the rare-
    shingle universe — quote/excerpt/superset detection that symmetric
    Jaccard structurally misses (a short quote inside a long article
    scores Jaccard ~0, containment ~1).  Same inverted-index +
    stop-shingle-guard shape as dedup_jaccard; tiny shingle sets are
    suppressed on the contained side (min_set_size=5) because a
    one-shingle doc is trivially contained everywhere."""
    from recover_spark.ops.dedup_text import ngram_containment_pairs

    docs = _load(spark, sf_dir, "documents")
    return (
        ngram_containment_pairs(
            docs, shingle_size=3, min_containment=0.6, min_set_size=5
        )
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
        .orderBy("id_a", "id_b")
    )


def q_retrieval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (ops/text_analysis.py:
    prf_expand_topk, RM3-style): BM25 pass 1 -> top-3 feedback docs ->
    top-5 expansion terms by length-normalized term mass -> pass 2
    with the interpolated query model (alpha=0.6).  The (doc, term)
    aggregate is built once and pinned for all three consumers; both
    scoring passes broadcast only the bounded (query, term, weight)
    set into the postings.  Fully deterministic (rounded-score ranking
    at every stage), so the two-pass feedback loop is hash-verified
    end-to-end against a single SQL chain."""
    from recover_spark.ops.text_analysis import prf_expand_topk

    docs = _load(spark, sf_dir, "documents")
    queries = _tiny_df(
        spark,
        [
            ("q_join", "hash join merge"),
            ("q_scan", "fast table scan"),
            ("q_stream", "stream batch window"),
        ],
        "query_id string, query_text string",
    )
    return prf_expand_topk(
        docs, queries, k=5, fb_docs=3, fb_terms=5, alpha=0.6
    ).orderBy("query_id", "rank")


def q_v3_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 — expectation-suite runner (one aggregate pass), results as a
    DataFrame (run_great_expectations_on_parquet.py:223-277)."""
    from recover_spark.quality.expectations import run_suite

    events = _load(spark, sf_dir, "events")
    suite = {
        "expectations": [
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "props"}},
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "bogus"}},
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "value", "min_value": 0, "max_value": 95}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "ts"}},
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "event_type",
                        "value_set": ["click", "view", "purchase", "signup"]}},
            {"expectation_type": "expect_column_value_lengths_to_be_between",
             "kwargs": {"column": "event_type", "min_value": 4, "max_value": 7}},
            {"expectation_type": "expect_column_values_to_be_unique",
             "kwargs": {"column": "event_id"}},
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1, "max_value": 100000000}},
        ]
    }
    rows = [
        (r.expectation_type, r.column, bool(r.success),
         int(r.element_count), int(r.unexpected_count))
        for r in run_suite(events, suite)
    ]
    return _tiny_df(
        spark,
        rows,
        "expectation_type string, column_name string, success boolean, "
        "element_count long, unexpected_count long",
    )


def q_v3_results_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 closed end-to-end (VERDICT r13 #6): the suite run is
    PERSISTED as a versioned checkpoint artifact + rendered data docs
    (quality/expectations.py:persist_run/render_data_docs, mirroring
    run_great_expectations_on_parquet.py:223-277's persist-results +
    data-docs actions), then the artifact is read BACK and returned as
    the result frame — so the driver hash gate verifies the round-trip
    through the store, not just the in-memory results.  Shares
    v3_suite's oracle: the persisted doc must carry exactly the
    suite's results."""
    import tempfile
    import uuid

    from recover_spark.quality.expectations import (
        load_run,
        persist_run,
        run_suite,
    )

    events = _load(spark, sf_dir, "events")
    suite = {
        "expectations": [
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "props"}},
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "bogus"}},
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "value", "min_value": 0, "max_value": 95}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "ts"}},
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "event_type",
                        "value_set": ["click", "view", "purchase", "signup"]}},
            {"expectation_type": "expect_column_value_lengths_to_be_between",
             "kwargs": {"column": "event_type", "min_value": 4, "max_value": 7}},
            {"expectation_type": "expect_column_values_to_be_unique",
             "kwargs": {"column": "event_id"}},
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1, "max_value": 100000000}},
        ]
    }
    art_dir = tempfile.mkdtemp(prefix="recover_ge_docs_")
    persist_run(
        run_suite(events, suite), art_dir, "events_suite",
        f"run-{uuid.uuid4().hex[:8]}",
    )
    doc = load_run(art_dir, "events_suite")
    rows = [
        (r["expectation_type"], r["column"], bool(r["success"]),
         int(r["element_count"]), int(r["unexpected_count"]))
        for r in doc["results"]
    ]
    return _tiny_df(
        spark,
        rows,
        "expectation_type string, column_name string, success boolean, "
        "element_count long, unexpected_count long",
    )


def q_stream_expectations_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 x V3 — expectation suites ON ARRIVAL
    (streaming/expectations.py): the suite freezes once, four genuine
    micro-batches fold per-expectation (element_count,
    unexpected_count) integer counters into crash-safe sidecar state,
    and the read applies the success rules (mostly ratio, row-count
    bounds, exists-AND) once over the exact summed counters — equal to
    the batch run_suite on the union by counter additivity, so the
    oracle is the batch v3 SQL minus the non-mergeable uniqueness row
    (freeze REFUSES count-distinct expectations loudly)."""
    import uuid

    from recover_spark.streaming.expectations import (
        freeze_expectation_suite,
        maintain_expectations_matview,
        read_expectations_matview,
    )

    run_dir = f"spark-warehouse/exp_mv/{uuid.uuid4().hex}"
    events = _load(spark, sf_dir, "events").select(
        "event_type", "ts", "value",
        F.col("props").cast("string").alias("props"),
    )
    suite = {
        "expectations": [
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "props"}},
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "bogus"}},
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "value", "min_value": 0, "max_value": 95}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "ts"}},
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "event_type",
                        "value_set": ["click", "view", "purchase", "signup"]}},
            {"expectation_type": "expect_column_value_lengths_to_be_between",
             "kwargs": {"column": "event_type", "min_value": 4, "max_value": 7}},
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1, "max_value": 100000000}},
        ]
    }
    freeze_expectation_suite(f"{run_dir}/state", suite)
    src = f"{run_dir}/src"
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "event_type string, ts timestamp, value double, props string",
    )
    q = maintain_expectations_matview(
        stream, f"{run_dir}/state", f"{run_dir}/ckpt"
    )
    q.awaitTermination(300)
    return read_expectations_matview(spark, f"{run_dir}/state")


def q_p10_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/P10 — ingest object filter + cohort derivation from object keys
    (s3_to_json.py:964-986, s3_to_glue/app.py:18-56)."""
    from recover_spark.functions.transforms import derive_cohort, ingest_object_filter

    docs = _load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.concat(
            F.lit("export/"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("adults_v1"))
            .when(F.col("doc_id") % 4 == 1, F.lit("pediatric_v1"))
            .when(F.col("doc_id") % 4 == 2, F.lit("misc"))
            .otherwise(F.lit("owner.txt")),
            F.lit("/f_"),
            F.col("doc_id").cast("string"),
        ).alias("key"),
    )
    return keyed.filter(ingest_object_filter(F.col("key"))).select(
        "doc_id", "key", derive_cohort(F.col("key")).alias("cohort")
    )


def q_a6_union_ledgers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — union-by-name ledger concatenation with missing columns
    (json_to_parquet.py:531, consume_logs.py:256-258)."""
    from recover_spark.operators.audit import stage_counts, union_ledgers

    events = _load(spark, sf_dir, "events")
    read_ledger = stage_counts(events, "READ", group_cols=("event_type",))
    # WRITE-side ledger carries an extra data_type col; READ-side lacks it.
    write_ledger = stage_counts(
        events.filter(F.col("value") > 5),
        "WRITE",
        group_cols=("event_type",),
        data_type="events",
    )
    return union_ledgers([read_ledger, write_ledger]).select(
        "event_type", "record_count", "stage", "data_type"
    )


def q_p7_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — nested-struct flattening to Parent_Child columns
    (json_to_parquet.py:579-583; relationalize struct path)."""
    from recover_spark.operators.relationalize import _flatten_structs

    cust = _load(spark, sf_dir, "customer")
    nested = cust.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.struct(F.col("c_acctbal").alias("bal")).alias("acct"),
        ).alias("info"),
        "c_mktsegment",
    )
    flat = _flatten_structs(nested)
    return flat.select(
        "c_custkey", "info_name",
        F.round("info_acct_bal", 2).alias("info_acct_bal"), "c_mktsegment"
    )


def q_s2_resolve_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — resolveChoice(match_catalog): cast observed types to the
    declared schema; unparseable -> null, missing -> typed null
    (json_to_parquet.py:157-159)."""
    from pyspark.sql import types as T

    from recover_spark.functions.transforms import cast_to_schema

    docs = _load(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.col("n_chars").cast("string").alias("n_chars"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("12.5"))
        .otherwise(F.lit("not-a-number"))
        .alias("reading"),
    )
    declared = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("reading", T.DoubleType()),
            T.StructField("missing_col", T.StringType()),
        ]
    )
    return cast_to_schema(raw, declared)


def q_s2_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution drift ledger — the LOG half of the reference's
    LOG-and-coerce schema-change policy (templates/glue-workflow.j2:
    147-166): the documents export arrives against a catalog where
    ``n_chars`` is declared string (type change), ``source`` was never
    declared (new column), and ``review_status`` is declared but absent
    (missing column).  The ledger derives from the REAL parquet schema
    of the export — pure driver-side metadata, no job over the data —
    and the coerced frame (not returned here) stays on the declared
    schema exactly like s2_resolve_choice."""
    from pyspark.sql import types as T

    from recover_spark.functions.transforms import cast_to_schema_logged

    docs = _load(spark, sf_dir, "documents")
    declared = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.StringType()),
            T.StructField("review_status", T.StringType()),
        ]
    )
    _, ledger = cast_to_schema_logged(docs, declared, dataset="documents")
    return ledger.select(
        "dataset", "column", "kind", "observed_type", "declared_type"
    )


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal — binary-column decode/feature plumbing over
    Arrow-batched mapInPandas (stub kernel, real distribution shape)."""
    from recover_spark.ops.multimodal import extract_image_features

    docs = _load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    feats = extract_image_features(media, feature_dim=4, digest_algo="md5")
    return feats.select(
        "media_id",
        "n_bytes",
        F.col("sha1").alias("digest"),
        *[
            F.round(F.col("feature")[i].cast("double"), 4).alias(f"f_{i}")
            for i in range(4)
        ],
    )


def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal — video frame-sampling plumbing (stub kernel): one row
    per sampled frame timestamp from typed media metadata."""
    from recover_spark.ops.multimodal import sample_video_frames

    docs = _load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("video/mp4").alias("mime_type"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("doc_id") % 7) * 1500 + 500).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    frames = sample_video_frames(media, every_ms=1000)
    return frames.select("media_id", "frame_ts_ms")


def q_mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal — audio chunking plumbing (stub kernel): fixed-
    duration chunks with constant-bitrate byte ranges from typed
    metadata (ops/multimodal.py)."""
    from recover_spark.ops.multimodal import chunk_audio

    docs = _load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("audio/wav").alias("mime_type"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("doc_id") % 5) * 1300 + 900).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    chunks = chunk_audio(media, chunk_ms=2000)
    return chunks.select(
        "media_id", "chunk_idx", "chunk_start_ms", "chunk_end_ms",
        "byte_start", "byte_end",
    )


def _synth_wav_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-bit mono PCM WAV fixture: one blob per doc_id
    with samples s(i) = ((doc_id*31 + i*7919) % 65536) - 32768, zeroed
    on every third 400-sample frame (so silence detection demonstrably
    fires), n = 800 + (doc_id % 5)*400 samples at 8 kHz.  Built in an
    Arrow-batched kernel; the SAME closed-form generator is
    re-expressible in SQL, which is what lets a BINARY-decode operator
    carry a full value-verified DuckDB oracle."""
    import struct

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def build(batches):
        for batch in batches:
            ids, blobs = [], []
            for did in batch["doc_id"]:
                did = int(did)
                n = 800 + (did % 5) * 400
                i = np.arange(n, dtype="int64")
                vals = (did * 31 + i * 7919) % 65536 - 32768
                vals[(i // 400) % 3 == 2] = 0
                data = vals.astype("<i2").tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                  16000, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                ids.append(did)
                blobs.append(hdr + data)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return docs.mapInPandas(build, schema)


def q_mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode + feature: per-frame RMS energy and silence
    flags over synthesized 16-bit PCM WAV blobs
    (ops/multimodal.py:audio_frame_energy) — the RIFF parse and the
    vectorized numpy energy pass run on actual bytes; the closed-form
    sample generator gives DuckDB an arithmetic twin, so the decode
    kernel itself is value-verified (rare for binary operators).
    RMS is integer-exact until one division + sqrt."""
    from recover_spark.ops.multimodal import audio_frame_energy

    media = _synth_wav_media(spark, sf_dir)
    out = audio_frame_energy(media, frame_ms=50, silence_rms=1000.0)
    return out.select(
        "media_id",
        "frame_idx",
        "n_samples",
        F.round(F.col("rms") + F.lit(1e-9), 6).alias("rms"),
        "is_silence",
    ).orderBy("media_id", "frame_idx")


def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted dimension join: row-identical to the plain equi-join,
    but hot keys spread over salt buckets (scale lever beyond AQE)."""
    from recover_spark.operators.joins import salted_join

    events = _load(spark, sf_dir, "events")
    dim = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_total")
    )
    joined = salted_join(events, dim, on=["event_type"], buckets=8)
    return joined.select("event_id", "event_type", "type_total")


def q_join_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style EXISTS: orders with at least one high-quantity
    line, counted per priority — left-semi join (no row duplication,
    probe side streamed)."""
    orders = _load(spark, sf_dir, "orders")
    big_lines = (
        _load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
    )
    return (
        orders.join(
            big_lines, orders.o_orderkey == big_lines.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style conditional aggregation: ECONOMY-part revenue
    share per linestatus over a broadcast fact-dim join."""
    lineitem = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    )
    return joined.groupBy("l_linestatus").agg(
        F.round(
            F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0)))
            * 100.0
            / F.sum(rev),
            6,
        ).alias("economy_revenue_pct")
    )


def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: large orders (sum qty > 150) joined back to
    customer — aggregate-then-filter (HAVING), then broadcast re-join."""
    lineitem = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    joined = orders.join(big, orders.o_orderkey == big.l_orderkey).join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    return joined.select(
        "c_custkey", "c_name", "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.round("total_qty", 2).alias("total_qty"),
    )


def _markers(spark, sf_dir):
    """Sparse per-user marker stream derived from events (every 19th
    event id), unique per (user_id, ts)."""
    events = _load(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_id") % 19 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("marker_value"))
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (temporal extension): each event picks the most recent
    marker of the same user with marker.ts <= event.ts — union+window
    formulation, one shuffle on the key (operators/temporal.py)."""
    from recover_spark.operators import asof_join

    events = _load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    joined = asof_join(
        events, _markers(spark, sf_dir), on=["user_id"],
        left_ts="ts", right_ts="ts", right_cols=["marker_value"],
    )
    return joined.select(
        "event_id", "user_id", _ts(F.col("ts"), "ts"),
        F.round("marker_value", 6).alias("marker_value"),
    )


def q_ts_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-series EWMA smoothing
    (operators/temporal.py:ewma_smooth): the sequential recurrence
    s_t = a*y_t + (1-a)*s_{t-1} parallelized as a chunked affine scan
    — in-chunk closed form on one (key, chunk) window, per-chunk
    affine summaries composed over a bounded chunk-level frame, no
    sequential pass anywhere.  The oracle runs the whole-series
    z-transform closed form, valid at gate scale because series are
    <100 rows; the Spark side's chunked scheme has no length limit
    (pinned by the 20k-row pandas test)."""
    from recover_spark.operators.temporal import ewma_smooth

    events = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = ewma_smooth(
        events, ["user_id"], ["ts", "event_id"], "value", alpha=0.3
    )
    return out.select(
        "user_id", "event_id", _ts(F.col("ts"), "ts"),
        F.round("value", 6).alias("value"),
        F.round("ewma", 6).alias("ewma"),
    )


def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing (operators/temporal.py:holt_smooth):
    the coupled level+trend recurrence parallelized as a 2-D chunked
    affine scan — matrix powers from the Cayley-Hamilton closed form
    (a_e*I + b_e*M), no sequential pass, no lookup tables.  The oracle
    runs the same closed form as whole-series SQL (valid at gate scale:
    series <100 rows, complex eigenvalue pair so no stiffness), making
    the two-dimensional recurrence oracle-hash-checked per value."""
    from recover_spark.operators.temporal import holt_smooth

    events = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = holt_smooth(
        events, ["user_id"], ["ts", "event_id"], "value",
        alpha=0.3, gamma=0.2,
    )
    return out.select(
        "user_id", "event_id", _ts(F.col("ts"), "ts"),
        F.round("value", 6).alias("value"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
    )


def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive-seasonal smoothing
    (operators/temporal.py:holt_winters_smooth): the (L+2)-state
    seasonal recurrence parallelized as a chunked affine scan.  The
    transition matrix has a STRUCTURAL unit eigenvalue (the
    level/season gauge mode), so unlike EWMA/Holt no bounded carry
    frame exists for the raw state — the scan splits the propagator
    into the unit-mode spectral projector (carried as an exact
    unbounded running sum) plus the strictly damped remainder (the
    family's bounded subnormal-floor frame).  In-chunk values come
    from a kernel convolution with driver-precomputed positive matrix
    powers — none of the 2-D scan's inversion/cancellation hazards.
    Oracle: the sequential recurrence itself as a DuckDB recursive CTE
    carrying the season ring-buffer as a LIST column — a per-value
    cross-engine match of a 9-dimensional recurrence."""
    from recover_spark.operators.temporal import holt_winters_smooth

    events = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = holt_winters_smooth(
        events, ["user_id"], ["ts", "event_id"], "value",
        alpha=0.3, gamma=0.1, delta=0.25, season_length=7,
    )
    # tie-nudged rounding: raw cross-engine drift is ~1e-13, but HW on
    # finite-decimal inputs lands values exactly ON 6-digit half
    # boundaries, where Spark (BigDecimal HALF_UP on the shortest
    # decimal) and DuckDB (round of the raw double) legitimately
    # disagree; a +1e-9 sub-quantum nudge on BOTH engines moves every
    # such tie strictly off the boundary without affecting any
    # non-tied value (same pin in the oracle SQL)
    def _r6(c):
        return F.round(F.col(c) + F.lit(1e-9), 6)

    return out.select(
        "user_id", "event_id", _ts(F.col("ts"), "ts"),
        F.round("value", 6).alias("value"),
        _r6("level").alias("level"),
        _r6("trend").alias("trend"),
        _r6("season").alias("season"),
    )


def q_ts_holt_winters_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped-trend Holt-Winters (Gardner's phi<1 variant) — the
    standard forecasting form that shrinks the carried trend each step
    so linear extrapolation cannot run away.  Damping stays linear on
    the (L+2)-state: three entries of M pick up a phi factor, the
    level/season gauge mode is untouched, and the identical chunked
    affine scan + spectral split serves it
    (operators/temporal.py:holt_winters_smooth, phi=0.85).  Oracle:
    the same recursive-CTE sequential recurrence with phi in the
    level/trend updates."""
    from recover_spark.operators.temporal import holt_winters_smooth

    events = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = holt_winters_smooth(
        events, ["user_id"], ["ts", "event_id"], "value",
        alpha=0.3, gamma=0.1, delta=0.25, season_length=7, phi=0.85,
    )

    def _r6(c):
        return F.round(F.col(c) + F.lit(1e-9), 6)

    return out.select(
        "user_id", "event_id", _ts(F.col("ts"), "ts"),
        F.round("value", 6).alias("value"),
        _r6("level").alias("level"),
        _r6("trend").alias("trend"),
        _r6("season").alias("season"),
    )


def q_ts_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h-step damped Holt-Winters forecasts
    (operators/temporal.py:holt_winters_forecast): one smoothing pass,
    then the per-key L-row tail (final level/trend + season ring)
    joins a horizon-row literal frame; phi power sums are driver
    literals shared verbatim with the oracle.  Oracle: the shared
    recursive CTE's final state row + the same forecast arithmetic."""
    from recover_spark.operators.temporal import holt_winters_forecast

    events = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = holt_winters_forecast(
        events, ["user_id"], ["ts", "event_id"], "value",
        alpha=0.3, gamma=0.1, delta=0.25, season_length=7,
        horizon=10, phi=0.9,
    )
    return out.select(
        "user_id",
        "h",
        F.round(F.col("forecast") + F.lit(1e-9), 6).alias("forecast"),
    )


def q_ts_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-aware anomaly scores
    (operators/temporal.py:holt_winters_anomalies): one-step-ahead
    Holt-Winters forecast error, z-scored per series — the circadian
    upgrade of the trailing-window ts_anomaly (a rush-hour peak is not
    an anomaly when the season term predicts it).  Oracle: the shared
    recursive CTE plus the identical lag/aggregate-window arithmetic;
    the boolean flag stays OUT of the gate projection (a z value
    sitting exactly on the threshold would make the flag an
    engine-coin-flip; resid/z round with the tie nudge instead)."""
    from recover_spark.operators.temporal import holt_winters_anomalies

    events = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = holt_winters_anomalies(
        events, ["user_id"], ["ts", "event_id"], "value",
        alpha=0.3, gamma=0.1, delta=0.25, season_length=7, phi=0.9,
    )

    def _r6(c):
        return F.round(F.col(c) + F.lit(1e-9), 6)

    return out.select(
        "user_id", "event_id",
        _r6("resid").alias("resid"),
        _r6("z").alias("z"),
    )


def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition
    (operators/temporal.py:seasonal_decompose): centered length-7
    moving-average trend (NULL at the partial-window edges, the
    classical convention), zero-sum phase effects from the detrended
    means, residual as the remainder — the diagnostic companion to
    ``ts_holt_winters`` (how big IS the cycle vs the trend vs the
    noise).  One key-window pass + one (keys x L) phase aggregate.
    Oracle: the identical windows/aggregation in SQL."""
    from recover_spark.operators.temporal import seasonal_decompose

    events = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = seasonal_decompose(
        events, ["user_id"], ["ts", "event_id"], "value", season_length=7
    )
    return out.select(
        "user_id", "event_id", _ts(F.col("ts"), "ts"),
        F.round("value", 6).alias("value"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round("resid", 6).alias("resid"),
    )


_TS_DECOMPOSE_ORACLE = """
    WITH o AS (
        SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS y,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
        SELECT *,
               CASE WHEN count(*) OVER f = 7
                    THEN avg(y) OVER f END AS trend,
               (rn - 1) % 7 AS phase
        FROM o
        WINDOW f AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    pm AS (
        SELECT user_id, phase, avg(y - trend) AS pmv
        FROM t GROUP BY 1, 2
    ),
    ctr AS (
        SELECT user_id, phase,
               pmv - avg(pmv) OVER (PARTITION BY user_id) AS seasonal
        FROM pm
    )
    SELECT t.user_id, t.event_id,
           strftime(t.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           round(t.y, 6) AS value,
           round(t.trend, 6) AS trend,
           round(ctr.seasonal, 6) AS seasonal,
           round(t.y - t.trend - ctr.seasonal, 6) AS resid
    FROM t JOIN ctr ON t.user_id = ctr.user_id AND t.phase = ctr.phase
"""


def _holt_winters_oracle_sql(
    alpha: float,
    gamma: float,
    delta: float,
    season_length: int,
    phi: float = 1.0,
) -> str:
    """The sequential Holt-Winters recurrence as a DuckDB recursive
    CTE: one row per (user, step) advances every series in lockstep,
    carrying (level, trend) plus the last L seasons as a LIST column
    ring buffer (oldest first; s_{t-L} = seas[1], update = drop the
    oldest, append the new).  The anchor encodes the operator's init
    convention x_0 = (y_1, 0, zero seasons), under which step 1 yields
    l=y_1, b=0, s=0.  ``phi`` is Gardner's damped-trend coefficient
    (1.0 = classic undamped).  Valid at gate scale (series <100
    rows)."""
    return _hw_recursive_cte(alpha, gamma, delta, season_length, phi) + """
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
               round(y, 6) AS value,
               round(l + 1e-9, 6) + 0.0 AS level,
               round(b + 1e-9, 6) + 0.0 AS trend,
               round(s + 1e-9, 6) + 0.0 AS season
        FROM hw
    """


def _hw_recursive_cte(
    alpha: float,
    gamma: float,
    delta: float,
    season_length: int,
    phi: float = 1.0,
) -> str:
    """The shared WITH RECURSIVE prefix (events -> per-row hw states
    with the season ring) used by the smoothing and forecast
    oracles."""
    L = int(season_length)
    zeros = ", ".join(["CAST(0 AS DOUBLE)"] * L)
    a, g, d = repr(float(alpha)), repr(float(gamma)), repr(float(delta))
    p = repr(float(phi))
    return f"""
        WITH RECURSIVE o AS (
            SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS y,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        hw AS (
            SELECT user_id, event_id, ts, y, rn,
                   y AS l, CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS s,
                   [{zeros}] AS seas
            FROM o WHERE rn = 1
            UNION ALL
            SELECT user_id, event_id, ts, y, rn, l, b, s,
                   list_append(seas[2:], s) AS seas
            FROM (
                SELECT t0.*,
                       {g} * (t0.l - t0.l_prev)
                           + (1 - {g}) * {p} * t0.b_prev AS b,
                       {d} * (t0.y - t0.l)
                           + (1 - {d}) * t0.s_old AS s
                FROM (
                    SELECT o.user_id, o.event_id, o.ts, o.y, o.rn,
                           i.l AS l_prev, i.b AS b_prev,
                           i.seas AS seas, i.seas[1] AS s_old,
                           {a} * (o.y - i.seas[1])
                               + (1 - {a}) * (i.l + {p} * i.b) AS l
                    FROM hw i
                    JOIN o ON o.user_id = i.user_id AND o.rn = i.rn + 1
                ) t0
            ) t
        )
    """


def _holt_winters_forecast_oracle_sql(
    alpha: float,
    gamma: float,
    delta: float,
    season_length: int,
    horizon: int,
    phi: float = 1.0,
) -> str:
    """h-step forecasts from the final hw state: the last row per user
    carries (l, b) and the season ring (oldest first), and the phi
    power sums are the SAME driver-computed literals the operator
    embeds — no cross-engine pow."""
    L = int(season_length)
    ps, acc, p = [], 0.0, 1.0
    for _ in range(horizon):
        p *= phi
        acc += p
        ps.append(acc)
    ps_list = ", ".join(repr(float(x)) for x in ps)
    return _hw_recursive_cte(alpha, gamma, delta, season_length, phi) + f"""
        , last AS (
            SELECT user_id, l, b, seas
            FROM hw
            QUALIFY row_number() OVER (PARTITION BY user_id
                                       ORDER BY rn DESC) = 1
        )
        SELECT user_id, h,
               round(l + [{ps_list}][h] * b
                     + seas[((h - 1) % {L}) + 1] + 1e-9, 6) + 0.0 AS forecast
        FROM last, (SELECT unnest(range(1, {horizon} + 1)) AS h)
    """


def _holt_oracle_sql(alpha: float, gamma: float) -> str:
    """Whole-series closed form of the Holt recurrence in SQL, via the
    same Cayley-Hamilton decomposition the operator compiles: for the
    complex-eigenvalue regime (the case for these parameters),
    M^e = a_e I + b_e M with a/b from pow/cos/sin of literal (r,
    theta).  Valid at gate scale where series are short and the
    eigenvalue pair has ratio 1 (no stiffness)."""
    import cmath
    import math

    import numpy as np

    m = np.array(
        [[1 - alpha, 1 - alpha], [-gamma * alpha, 1 - gamma * alpha]]
    )
    eig = np.linalg.eigvals(m)
    assert abs(eig[0].imag) > 1e-12, "oracle builder expects complex pair"
    r = abs(eig[0])
    th = abs(cmath.phase(eig[0]))
    sin_th, cos_th = math.sin(th), math.cos(th)
    u1, u2 = alpha, gamma * alpha
    m11, m12, m21, m22 = m[0, 0], m[0, 1], m[1, 0], m[1, 1]
    mu1 = m11 * u1 + m12 * u2
    mu2 = m21 * u1 + m22 * u2

    def ab(e: str) -> tuple[str, str]:
        b = (
            f"(pow({r!r}, ({e}) - 1) * sin(({e}) * {th!r}) / {sin_th!r})"
        )
        a = (
            f"(pow({r!r}, ({e})) * cos(({e}) * {th!r})"
            f" - {b} * {r * cos_th!r})"
        )
        return a, b

    a_nq, b_nq = ab("-n")
    a_n, b_n = ab("n")
    return f"""
        WITH o AS (
            SELECT user_id, event_id, ts, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS n
            FROM events
        ),
        z AS (
            SELECT *,
                   sum(value * ({a_nq} * {u1!r} + {b_nq} * {mu1!r}))
                       OVER w AS z1,
                   sum(value * ({a_nq} * {u2!r} + {b_nq} * {mu2!r}))
                       OVER w AS z2,
                   first_value(value) OVER w AS y1
            FROM o
            WINDOW w AS (PARTITION BY user_id ORDER BY n)
        ),
        v AS (
            SELECT user_id, event_id, ts, value, n,
                   y1 + z1 AS v1, z2 AS v2
            FROM z
        )
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
               round(value, 6) AS value,
               round({a_n} * v1
                     + {b_n} * ({m11!r} * v1 + {m12!r} * v2), 6) AS level,
               round({a_n} * v2
                     + {b_n} * ({m21!r} * v1 + {m22!r} * v2), 6) AS trend
        FROM v
    """


def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join with tolerance
    (operators/temporal.py:asof_join direction="nearest"): each event
    picks whichever same-user marker is closer in time (ties backward,
    pandas merge_asof semantics), nulled beyond a 2-hour tolerance.
    Backward and forward carries share ONE key exchange (two window
    sorts, no second shuffle).  Oracle: two DuckDB ASOF joins (>= and
    <=) arbitrated by the same closer-wins/tie-backward rule."""
    from recover_spark.operators import asof_join

    events = _load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    joined = asof_join(
        events, _markers(spark, sf_dir), on=["user_id"],
        left_ts="ts", right_ts="ts", right_cols=["marker_value"],
        direction="nearest", tolerance_seconds=7200,
    )
    return joined.select(
        "event_id", "user_id", _ts(F.col("ts"), "ts"),
        F.round("marker_value", 6).alias("marker_value"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events to the 30-minute windows opened by
    each marker — bucketed-expansion equi-join, no nested loop
    (operators/temporal.py)."""
    from recover_spark.operators import range_join

    events = _load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    intervals = _markers(spark, sf_dir).select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    joined = range_join(
        events, intervals, on=["user_id"], point_ts="ts",
        bucket_seconds=1800,
    )
    return joined.select(
        "event_id", "user_id", _ts(F.col("start"), "interval_start")
    )


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate with grouping_id (single Expand + one hash agg;
    operators/analytics.py)."""
    from recover_spark.operators import rollup_aggregate

    lineitem = _load(spark, sf_dir, "lineitem")
    out = rollup_aggregate(
        lineitem,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.round(F.sum("l_quantity"), 2),
            "n_rows": F.count(F.lit(1)),
        },
    )
    return out.select(
        "l_returnflag", "l_linestatus", "sum_qty", "n_rows",
        F.col("grouping_id").cast("long").alias("grouping_id"),
    )


def q_win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window analytics: per-user lag + trailing 3-row moving average
    (operators/analytics.py)."""
    from recover_spark.operators import moving_stats

    events = _load(spark, sf_dir, "events")
    out = moving_stats(
        events, ["user_id"], ["ts", "event_id"], "value", frame_rows=3
    )
    return out.select(
        "user_id", "event_id",
        F.round("value", 6).alias("value"),
        F.round("prev_value", 6).alias("prev_value"),
        F.round("moving_avg", 6).alias("moving_avg"),
    )


def q_win_topk_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: 3 highest-value orders per priority class
    (operators/analytics.py)."""
    from recover_spark.operators import top_k_per_group

    orders = _load(spark, sf_dir, "orders")
    out = top_k_per_group(
        orders,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )
    return out.select(
        "o_orderpriority", "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"), "rank",
    )


def q_agg_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count + exact interpolated median per group
    (operators/analytics.py)."""
    from recover_spark.operators import distinct_stats

    events = _load(spark, sf_dir, "events")
    out = distinct_stats(
        events, ["event_type"], distinct_col="user_id", value_col="value"
    )
    return out.select(
        "event_type", "n_user_id", "n_rows",
        F.round("p50_value", 6).alias("p50_value"),
    )


def q_agg_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecast-revenue filter aggregate: the date +
    numeric range predicates push into the parquet scan (one row out)."""
    lineitem = _load(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_agg_shipping_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style volume by ship year x return flag (date-part
    extraction + aggregate)."""
    lineitem = _load(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(
            F.year("l_shipdate").alias("ship_year"), "l_returnflag"
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_transform_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function battery over customer names (portable
    subset: upper/substr/replace/length/lpad/reverse/trim/concat)."""
    customer = _load(spark, sf_dir, "customer")
    name = F.col("c_name")
    return customer.select(
        "c_custkey",
        F.upper(name).alias("upper_name"),
        F.substring(name, 1, 8).alias("prefix8"),
        F.regexp_replace(name, "#", "-").alias("dashed"),
        F.length(name).alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse(name).alias("reversed"),
        F.concat(F.trim(F.col("c_mktsegment")), F.lit(":"), name).alias(
            "segment_name"
        ),
    )


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable train/val/test split by portable key hash — map-only,
    replay-safe, engine-reproducible (ops/sampling.py)."""
    from recover_spark.ops import stable_split

    docs = _load(spark, sf_dir, "documents")
    out = stable_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select("doc_id", "split")


def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per group — bins derived map-side so the
    single aggregate combines partially (ops/sampling.py)."""
    from recover_spark.ops import histogram

    events = _load(spark, sf_dir, "events")
    out = histogram(events, "value", bin_width=10.0, group_cols=("event_type",))
    return out.select(
        "event_type", "bin", F.round("bin_start", 2).alias("bin_start"), "n"
    )


def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): order counts per priority x status — Spark
    plans a fixed-values pivot as ONE conditional aggregate pass."""
    orders = _load(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


def q_transform_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long): per-line measures to (metric, value)
    rows — Spark's Expand node, one scan regardless of measure count."""
    lineitem = _load(spark, sf_dir, "lineitem")
    out = lineitem.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "metric",
        F.round("value", 6).alias("value"),
    )


def q_agg_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate aggregates — the 100 TB substitutes for
    exact distinct/percentile: HyperLogLog++ count-distinct and
    t-digest-style percentile, both mergeable map-side.  Sketch outputs
    are engine-specific, so instead of a rows-only check the estimates
    fold into IN-PLAN tolerance booleans (VERDICT r6 #4): ``hll_ok``
    pins the HLL estimate within 3x its configured rsd of the exact
    distinct; ``p50_rank_ok`` pins the approximate median by its own
    rank contract (the fraction of values strictly below it stays
    under 0.5+eps and the fraction at-or-below stays over 0.5-eps).
    The exact columns hash against the oracle and the oracle emits
    literal TRUE for the flags — a broken sketch flips a flag and
    fails the value hash, so the sketches stay load-bearing in a
    fully-hashed query."""
    events = _load(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("__hll"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10_000))
        .cast("double")
        .alias("__ap50"),
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    ranked = (
        events.join(
            F.broadcast(agg.select("event_type", "__ap50")), "event_type"
        )
        .groupBy("event_type")
        .agg(
            F.avg((F.col("value") < F.col("__ap50")).cast("int")).alias(
                "__frac_lt"
            ),
            F.avg((F.col("value") <= F.col("__ap50")).cast("int")).alias(
                "__frac_le"
            ),
        )
    )
    return (
        agg.join(ranked, "event_type")
        .select(
            "event_type",
            "n_users",
            "n_events",
            (
                F.abs(F.col("__hll") - F.col("n_users"))
                <= 0.06 * F.col("n_users")
            ).alias("hll_ok"),
            (
                (F.col("__frac_lt") <= F.lit(0.51))
                & (F.col("__frac_le") >= F.lit(0.49))
            ).alias("p50_rank_ok"),
        )
    )


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 — row-wise INTERSECT (distinct): users seen in both the
    high-value and the low-value halves of the event stream."""
    events = _load(spark, sf_dir, "events")
    hi = events.filter(F.col("value") > 50).select("user_id")
    lo = events.filter(F.col("value") <= 50).select("user_id")
    return hi.intersect(lo)


def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 — multiset EXCEPT ALL: per-occurrence difference of order
    keys between two lineitem slices (bag semantics, not distinct)."""
    lineitem = _load(spark, sf_dir, "lineitem")
    a = lineitem.filter(F.col("l_linenumber") <= 2).select("l_orderkey")
    b = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return a.exceptAll(b)


# One SQL text, two engines: Spark executes it via recover_spark.sql
# (temp views over the same parquet), DuckDB runs it as the oracle.
_SQL_INTERFACE_QUERY = """
    SELECT n.n_name,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_acctbal,
           count(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 END)
               AS n_building
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end parity: the identical ANSI text runs on Spark (via
    recover_spark.sql.run_sql) and on the DuckDB oracle — same logical
    plan as the DataFrame API, second front-end only."""
    from recover_spark.sql import run_sql

    return run_sql(spark, sf_dir, _SQL_INTERFACE_QUERY)


# Correlated scalar subquery — Catalyst decorrelates it into an
# aggregate + join; the identical text is the DuckDB oracle (TPC-H
# Q17 shape).  Quantities are integer-valued doubles, so the avg is
# exact and the boundary comparison is engine-stable.
_SQL_CORRELATED_QUERY = """
    SELECT l1.l_partkey,
           round(sum(l1.l_extendedprice), 2) AS total_price,
           count(*) AS n_lines
    FROM lineitem l1
    WHERE l1.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                           FROM lineitem l2
                           WHERE l2.l_partkey = l1.l_partkey)
    GROUP BY l1.l_partkey
"""


def q_sql_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (decorrelated by Catalyst into a
    per-key aggregate + join) via the SQL front-end."""
    from recover_spark.sql import run_sql

    return run_sql(spark, sf_dir, _SQL_CORRELATED_QUERY)


def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame: per-user trailing-1-hour sum/count —
    RANGE frame over integer microseconds (deterministic across
    engines, unlike second-truncated epoch)."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-hour_us, 0)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 6).alias("trailing_1h_value"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_events"),
    )


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

def q_agg_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — orders per customer
    (left join keeps zero-order customers), then the distribution of
    those counts.  Both shuffles operate on shrinking data (fact ->
    per-customer -> per-count)."""
    customer = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q_join_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (argmin join) done Spark-first: per-nation
    cheapest supplier via ORDERED-STRUCT MIN — one partial-aggregated
    shuffle, no join-back and no window sort.  min(struct(bal, key,
    name)) compares lexicographically, so the struct IS the argmin with
    a deterministic suppkey tiebreak."""
    supplier = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    best = (
        supplier.groupBy("s_nationkey")
        .agg(
            F.min(
                F.struct(
                    F.col("s_acctbal"), F.col("s_suppkey"), F.col("s_name")
                )
            ).alias("b")
        )
        .select(
            "s_nationkey",
            F.col("b.s_suppkey").alias("s_suppkey"),
            F.col("b.s_name").alias("s_name"),
            F.round("b.s_acctbal", 2).alias("min_acctbal"),
        )
    )
    return best.join(
        F.broadcast(nation),
        best.s_nationkey == nation.n_nationkey,
    ).select("s_nationkey", "n_name", "s_suppkey", "s_name", "min_acctbal")


def q_join_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
    threshold — the IN-(grouped HAVING) subquery becomes an aggregate +
    equi-join; the HAVING filter shrinks the build side BEFORE the join
    so only qualifying keys shuffle."""
    orders = _load(spark, sf_dir, "orders")
    lineitem = _load(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return orders.join(
        big, orders.o_orderkey == big.l_orderkey
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.round("total_qty", 2).alias("total_qty"),
    )


def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead: per-user event-to-event value delta and the
    next event's type — one hash shuffle on user_id, one in-partition
    sort, both window functions share the frame."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.round(
            F.col("value") - F.lag("value").over(w), 6
        ).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embedding corpus (4x memory
    reduction for the ANN scale path) — per-vector max-abs scale,
    engine-portable floor(x+0.5) rounding.  Output: scale + component
    checksum so the oracle verifies every component."""
    from recover_spark.ops import quantize_embeddings

    emb = _load(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        "q_scale",
        F.aggregate(
            "q_embedding", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
        F.col("q_embedding")[0].alias("q_first"),
    )


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 on int8-quantized vectors: integer dot
    products on the 4x-smaller corpus, scales cancel in cosine."""
    from recover_spark.ops import quantized_cosine_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    topk = quantized_cosine_topk(emb, queries, k=5)
    return topk.select(
        "query_vec_id", "vec_id", F.round("qcosine", 6).alias("qcosine"), "rank"
    )


def q_pipe_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end training-data pipeline, composed from the
    engine's own operators: C4 quality gate -> language filter (en) ->
    exact-content dedup (keep lowest id per digest) -> overlapping
    token-window chunking.

    Plan shape at 100 TB: the quality verdict and language id are bare
    column expressions fused into the ONE scan (no self-join back to
    the text); dedup is a single window shuffle on the content digest
    (the W1 shape — map-side WindowGroupLimit cuts each task's
    contribution to 1 row per digest); chunking is a map-side explode.
    Total: one shuffle end-to-end."""
    from pyspark.sql import Window

    from recover_spark.functions.text import tokens
    from recover_spark.ops import chunk_documents
    from recover_spark.ops.text_analysis import (
        language_id_from_tokens,
        quality_fail_reason,
    )

    docs = _load(spark, sf_dir, "documents")
    # tokenize ONCE behind a Generate barrier: a plain aliased column
    # is substituted back into every consumer (quality gate, langid,
    # chunker) by CollapseProject/pushdown, re-paying the dominant map
    # cost per reference — measured 4.6x wall-clock at sf1
    from recover_spark.functions.transforms import materialize_columns

    toked = materialize_columns(
        docs.select("doc_id", "text"), {"__toks": tokens("text")}
    )
    kept = toked.filter(
        quality_fail_reason(F.col("text"), tokens_col=F.col("__toks")).isNull()
        & (language_id_from_tokens(F.col("__toks")) == "en")
    )
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy(
        F.col("doc_id")
    )
    survivors = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return chunk_documents(survivors, tokens_col="__toks")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (class rebalancing): keep 50%
    of clicks, 25% of views, all purchases, drop the rest — map-only
    hash thresholds compiled to a CASE, no shuffle, reproducible across
    engines and partitionings."""
    from recover_spark.ops import stratified_sample

    events = _load(spark, sf_dir, "events")
    out = stratified_sample(
        events,
        "event_id",
        "event_type",
        {"click": 0.5, "view": 0.25, "purchase": 1.0},
    )
    return out.select("event_id", "event_type")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (chunk -> training-batch row): greedy
    streaming concatenation into 256-token sequences within 8 hash
    shards — one shuffle keyed on the shard, a doc never splits across
    shards, window running-sum assigns each chunk its sequence."""
    from recover_spark.ops import chunk_documents, pack_sequences

    docs = _load(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_size=64, overlap=16).drop("chunk_text")
    return pack_sequences(chunks, budget=256, num_shards=8)


def q_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension maintenance: fold a new customer snapshot
    (every 7th customer's balance shifted; every 13th unchanged — a
    change-detection no-op) into a versioned history.  Changed keys get
    their open row closed and a new open version inserted; one
    full-outer shuffle, closed history passes through scan-only."""
    from recover_spark.operators import scd2_apply

    cust = _load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    history = cust.select(
        "*",
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    updates = cust.filter(
        (F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 13 == 0)
    ).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 100, 2)
        ).otherwise(F.col("c_acctbal")),
    )
    out = scd2_apply(
        history,
        updates,
        keys=["c_custkey"],
        compare_cols=["c_acctbal"],
        effective="2024-06-01",
    )
    return out.select(
        "c_custkey", "c_name", "c_acctbal", "valid_from", "valid_to"
    )


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream interval join, batch twin: clicks joined to
    each purchase of the same user within [purchase_ts, +30 min].  The
    streaming run adds watermarks on both sides (state bounded by
    watermark + range); the join predicate — and thus this result — is
    identical, which is exactly what test_streaming_watermark.py's
    stream==batch twin asserts."""
    from recover_spark.streaming.joins import interval_join_stream

    events = _load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    joined = interval_join_stream(
        purchases, clicks, key="user_id", max_delay="30 minutes"
    )
    return joined.select(
        "user_id",
        "event_id",
        _ts(F.col("ts"), "purchase_ts"),
        "click_id_r",
        _ts(F.col("ts_r"), "click_ts"),
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-static enrichment join, batch twin: events enriched
    with customer dimension attributes via a broadcast join — the
    stream side is never shuffled and no join state accrues (each
    micro-batch re-reads the dim snapshot)."""
    from recover_spark.streaming.joins import enrich_stream

    events = _load(spark, sf_dir, "events")
    dim = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    out = enrich_stream(events, dim, key="user_id")
    return out.select("user_id", "event_id", "c_name", "c_mktsegment")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN: candidates restricted to the query's
    bucket (equi-join on the 4-plane signature instead of a cross join),
    then exact cosine re-scoring — the no-index scale path when neither
    side broadcasts.  Oracle mirrors the bucket restriction."""
    from recover_spark.ops import lsh_bucketed_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    topk = lsh_bucketed_topk(emb, queries, dim=64, k=5, num_planes=4)
    return topk.select(
        "query_vec_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query also probes the 4 buckets at
    Hamming distance 1 from its own signature — ~5x the candidates (and
    recall) of single-bucket probing with the identical equi-join shape;
    only the tiny query side fans out."""
    from recover_spark.ops import lsh_bucketed_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    topk = lsh_bucketed_topk(
        emb, queries, dim=64, k=5, num_planes=4, multi_probe=1
    )
    return topk.select(
        "query_vec_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_ann_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + int8 composed over the persisted index: assignment AND
    quantization are paid once at build time, so a probe is a
    partition-pruned scan of nprobe/K list directories + integer dot
    products on the 4x-smaller int8 column.  Results match the
    in-memory ``ivf_topk_quantized`` (same centroids/params), so the
    same oracle applies."""
    from recover_spark.ops.similarity import ivf_topk_quantized_indexed

    emb = _load(spark, sf_dir, "embeddings")
    # the shared per-process build always carries the q_embedding
    # column, so the pre-round-2 schema-compat rebuild check is gone
    idx = _shared_ivf_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    topk = ivf_topk_quantized_indexed(spark, idx, queries, nprobe=2, k=5)
    return topk.select(
        "query_vec_id", "vec_id", F.round("qcosine", 6).alias("qcosine"), "rank"
    )


def q_skew_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter skew diagnosis: top-10 users by event count with
    share of all rows (the pre-join pass that decides broadcast vs
    salt vs AQE skew split)."""
    from recover_spark.ops import heavy_hitters

    events = _load(spark, sf_dir, "events")
    return heavy_hitters(events, ["user_id"], top_n=10)


def q_skew_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with BOUNDED shuffle (ops/sampling.py:
    heavy_hitters_sketch): per-partition Misra-Gries summaries cap the
    shuffle at capacity x partitions rows regardless of key
    cardinality, then the candidate set broadcasts back for an EXACT
    recount — identical to the exact pass whenever the true top-N all
    clear the 1/(capacity+1) share floor, which holds here by a wide
    margin (capacity 4096 exceeds the distinct-user count), making the
    result provably equal to the plain groupBy oracle."""
    from recover_spark.ops.sampling import heavy_hitters_sketch

    events = _load(spark, sf_dir, "events")
    return heavy_hitters_sketch(
        events, ["user_id"], top_n=10, capacity=4096
    )


def q_a9_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (operators/audit.py:profile_columns,
    Deequ-style): completeness, min/max, mean for every profiled column
    out of ONE mergeable aggregate scan — at 100 TB the profile is one
    job, not one job per column.  The HLL approx_distinct column is
    dropped here (estimator has no SQL twin — pytest covers it with
    tolerance); everything else matches the exact oracle."""
    from recover_spark.operators.audit import profile_columns

    customer = _load(spark, sf_dir, "customer")
    return profile_columns(
        customer, ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
    ).drop("approx_distinct")


def q_agg_distinct_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate audience overlap (operators/analytics.py:
    approx_distinct_overlap): distinct users who both clicked AND
    purchased via HLL inclusion-exclusion — sketches union but never
    intersect, so |A∩B| ≈ |A|+|B|-|A∪B| on three mergeable one-row
    estimates out of a single scan.  Hashed via the tolerance-flag
    pattern (VERDICT r6 #4): the exact set sizes hash against the
    oracle; each estimate folds into an in-plan boolean at 3x the
    lg_k=14 standard error (~2.5%), with the intersection flag
    allowed the inclusion-exclusion error sum.  The oracle emits
    literal TRUE per flag."""
    from recover_spark.operators.analytics import approx_distinct_overlap

    events = _load(spark, sf_dir, "events")
    est = approx_distinct_overlap(
        events, "event_type", "click", "purchase", "user_id"
    )
    in_a = F.col("event_type") == "click"
    in_b = F.col("event_type") == "purchase"
    exact = events.filter(in_a | in_b).agg(
        F.countDistinct(F.when(in_a, F.col("user_id"))).alias("n_a"),
        F.countDistinct(F.when(in_b, F.col("user_id"))).alias("n_b"),
        F.countDistinct("user_id").alias("n_union"),
    )

    def ok(est_c, exact_c, slack):
        return (F.abs(F.col(est_c) - F.col(exact_c)) <= slack).alias(
            f"ok_{est_c.replace('approx_', '')}"
        )

    tol = 0.025
    return est.crossJoin(F.broadcast(exact)).select(
        "segment_a",
        "segment_b",
        "n_a",
        "n_b",
        "n_union",
        (F.col("n_a") + F.col("n_b") - F.col("n_union")).alias(
            "n_intersection"
        ),
        ok("approx_a", "n_a", F.greatest(F.lit(1.0), tol * F.col("n_a"))),
        ok("approx_b", "n_b", F.greatest(F.lit(1.0), tol * F.col("n_b"))),
        ok(
            "approx_union",
            "n_union",
            F.greatest(F.lit(1.0), tol * F.col("n_union")),
        ),
        (
            F.abs(
                F.col("approx_intersection")
                - (F.col("n_a") + F.col("n_b") - F.col("n_union"))
            )
            <= F.greatest(
                F.lit(3.0),
                tol * (F.col("n_a") + F.col("n_b") + F.col("n_union")),
            )
        ).alias("ok_intersection"),
    )


def q_text_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training (ops/classifier.py):
    distill the C4 heuristic gate into a calibrated linear scorer —
    every gradient iteration is ONE mergeable aggregate (map-side
    partial sums, one-row shuffle, weights enter as plan literals), the
    same shape as the Lloyd step.  Returns the trained model as a
    coefficient table in raw-feature space.  Iterative and
    FP-order-sensitive in the last ulp: rows-only check; the pytest
    twin pins separability, loss descent, and raw-space equivalence."""
    from recover_spark.functions.text import quality_features
    from recover_spark.ops.classifier import (
        model_as_dataframe,
        train_logistic,
    )
    from recover_spark.ops.text_analysis import quality_fail_reason

    docs = _load(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    feats = docs.select(
        q["n_tokens"].cast("double").alias("n_tokens"),
        q["punct_ratio"].alias("punct_ratio"),
        q["digit_ratio"].alias("digit_ratio"),
        q["mean_word_len"].alias("mean_word_len"),
        q["stopword_ratio"].alias("stopword_ratio"),
        quality_fail_reason(F.col("text"))
        .isNull()
        .cast("int")
        .alias("label"),
    )
    model = train_logistic(
        feats,
        "label",
        ["n_tokens", "punct_ratio", "digit_ratio", "mean_word_len",
         "stopword_ratio"],
        iterations=15,
        learning_rate=0.8,
    )
    return model_as_dataframe(spark.createDataFrame, model).orderBy("feature")


def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resampling with forward fill over the event
    stream (operators/temporal.py): dense grid from first to last
    observation per user, latest-in-bucket value, gaps forward-filled."""
    from recover_spark.operators import resample_forward_fill

    events = _load(spark, sf_dir, "events")
    out = resample_forward_fill(
        events, key_col="user_id", ts_col="ts", value_col="value",
        interval_s=3600,
    )
    return out.select(
        "user_id", "bucket_start", F.round("value", 6).alias("value"), "filled"
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert (operators/merge.py): customers with
    acctbal < 0 get a derived update batch (segment rewrite), key
    5000..5499 inserts as new rows, BUILDING-segment negatives are
    delete-marked.  One broadcast full-outer join."""
    from recover_spark.operators import merge_upsert

    customer = _load(spark, sf_dir, "customer")
    target = customer.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )
    updates = customer.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey"),
        F.col("c_name"),
        F.round(-F.col("c_acctbal"), 2).alias("c_acctbal"),
        F.lit("RECOVERED").alias("c_mktsegment"),
        (F.col("c_mktsegment") == "BUILDING").alias("is_deleted"),
    ).unionByName(
        customer.filter(F.col("c_custkey") < 500).select(
            (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
            F.concat(F.lit("NEW#"), F.col("c_name")).alias("c_name"),
            F.lit(0.0).alias("c_acctbal"),
            F.lit("STARTUP").alias("c_mktsegment"),
            F.lit(False).alias("is_deleted"),
        )
    )
    return merge_upsert(
        target, updates, keys=["c_custkey"], delete_col="is_deleted"
    ).withColumnRenamed("__merge_op", "merge_op")


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal: 10-word spans occurring in >1
    distinct document are dropped corpus-wide, texts reassembled
    (ops/dedup_text.py)."""
    from recover_spark.ops import remove_repeated_spans

    docs = _load(spark, sf_dir, "documents")
    return remove_repeated_spans(docs, span_words=10, max_docs=1)


def q_dedup_cross_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup (ops/dedup_text.py:
    excise_cross_doc_spans): 8-token windows shared by >=2 distinct
    documents are redundant everywhere except the lowest-id doc, and
    redundant windows merge into maximal per-doc excision spans via
    gaps-and-islands (VERDICT r10 #6)."""
    from recover_spark.ops.dedup_text import excise_cross_doc_spans

    docs = _load(spark, sf_dir, "documents")
    return excise_cross_doc_spans(docs, ngram=8, min_docs=2)


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash-LSH candidate generation vs the exact n-gram
    Jaccard pairs, per Jaccard band — the dedup family's tuning
    surface (the ann_recall twin): how much of the true near-dup mass
    does the 16-hash/4-band blocking actually catch, and where on the
    S-curve does it start missing.  One left join + one aggregate over
    the (already-oracled) pair sets."""
    from recover_spark.ops import (
        minhash_near_duplicates,
        ngram_jaccard_pairs,
    )

    docs = _load(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, shingle_size=3, min_jaccard=0.2)
    cand = (
        minhash_near_duplicates(
            docs, num_hashes=16, bands=4, shingle_size=3
        )
        .select("id_a", "id_b")
        .withColumn("__hit", F.lit(1))
    )
    j_band = F.least(
        F.floor(F.col("jaccard") * 5).cast("int"), F.lit(4)
    )
    marked = exact.select(
        "id_a", "id_b", j_band.alias("j_band")
    ).join(cand, ["id_a", "id_b"], "left")
    return (
        marked.groupBy("j_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_caught"),
        )
        .select(
            "j_band",
            "n_pairs",
            "n_caught",
            F.round(
                F.col("n_caught") / F.col("n_pairs") + F.lit(1e-9), 6
            ).alias("recall"),
        )
        .orderBy("j_band")
    )


def q_emb_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per label between the two vec_id-parity
    eras (ops/clustering.py:embedding_centroid_drift): centroid cosine
    + norm ratio — the representation lens of the drift family."""
    from recover_spark.ops.clustering import embedding_centroid_drift

    emb = _load(spark, sf_dir, "embeddings")
    return embedding_centroid_drift(
        emb, "label", F.pmod(F.col("vec_id"), F.lit(2)), dim=64
    )


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity contributions of the residue-class partition
    (node % 4) over the user-lattice graph (ops/graph.py:modularity):
    per-community internal-edge density vs the degree-preserving null
    model — the partition-quality readout for any graph clustering."""
    from recover_spark.ops.graph import modularity

    events = _load(spark, sf_dir, "events")
    edges = (
        events.filter(F.col("event_id") % 11 == 0)
        .select(
            F.col("user_id").alias("src"),
            (F.col("user_id") + 3).alias("dst"),
        )
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    comms = nodes.select(
        "node", (F.col("node") % 4).alias("community")
    )
    return modularity(edges, comms)


def q_text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram per source
    (ops/text_analysis.py:token_length_histogram): the sequence-length
    profile a packing/chunking planner reads; exact-integer log2 bands
    (bit length), never a float log."""
    from recover_spark.ops.text_analysis import token_length_histogram

    docs = _load(spark, sf_dir, "documents")
    return token_length_histogram(docs, "source")


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of persisted IVF-PQ vs the exact brute-force ranking
    at nprobe 2 and 8(=all lists), for BOTH the raw ADC ranking and
    the shortlist-then-refine composition (ivf_pq_topk_refined,
    shortlist_r=20): the (8, adc) row isolates PURE quantization loss
    (the m/n_codes sizing number), (2, adc) the combined
    pruning+quantization loss, and the refined rows show how much of
    each the exact re-rank recovers — refined recall >= adc recall at
    the same nprobe, the point of the refine stage.  Same composition
    shape as ann_recall — pinned exact arm, pruned PQ probes,
    semi-join + one-row folds."""
    from functools import reduce as _reduce

    from recover_spark.ops import brute_force_topk
    from recover_spark.ops.similarity import (
        ivf_pq_topk_indexed,
        ivf_pq_topk_refined,
    )

    emb = _load(spark, sf_dir, "embeddings")
    idx = _shared_ivf_index(spark, sf_dir, pq=True)
    queries = emb.filter(F.col("vec_id") < 3)
    exact = (
        brute_force_topk(emb, queries, k=5)
        .select("query_vec_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    arms = []
    for nprobe in (2, 8):
        for variant, appr in (
            (
                "adc",
                ivf_pq_topk_indexed(
                    spark, idx, queries, nprobe=nprobe, k=5
                ),
            ),
            (
                "refined",
                ivf_pq_topk_refined(
                    spark, idx, queries,
                    nprobe=nprobe, shortlist_r=20, k=5,
                ),
            ),
        ):
            hits = appr.select("query_vec_id", "vec_id").join(
                exact, ["query_vec_id", "vec_id"], "left_semi"
            )
            arms.append(
                hits.agg(
                    F.count(F.lit(1)).cast("long").alias("n_hits")
                ).select(
                    F.lit(nprobe).cast("int").alias("nprobe"),
                    F.lit(variant).alias("variant"),
                    "n_hits",
                )
            )
    folded = _reduce(lambda a, b: a.unionAll(b), arms)
    total = exact.agg(F.count(F.lit(1)).cast("long").alias("__n_exact"))
    return (
        folded.crossJoin(F.broadcast(total))
        .select(
            "nprobe",
            "variant",
            "n_hits",
            F.round(
                F.col("n_hits") / F.col("__n_exact") + F.lit(1e-9), 6
            ).alias("recall"),
        )
        .orderBy("nprobe", "variant")
    )


def q_agg_contingency_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(column, bin) adjusted standardized residuals of the era
    homogeneity table (quality/drift.py:chi2_cell_residuals) — the
    drill-down after v13_drift_chi2 flags a column: which bins drive
    the statistic, signed.  Same era split/columns/bins as v13."""
    from recover_spark.quality.drift import chi2_cell_residuals

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut))
    return chi2_cell_residuals(
        base,
        cur,
        ["l_extendedprice", "l_quantity", "l_discount"],
        n_bins=10,
        edge_accuracy=None,
    )


def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quality gate (ops/clustering.py:centroid_outliers):
    per-label centroid cosine for every vector, flagged below 0.2 on
    the ROUNDED value — mislabel/off-distribution screening, the
    direction-space sibling of the IQR fence."""
    from recover_spark.ops.clustering import centroid_outliers

    emb = _load(spark, sf_dir, "embeddings")
    return centroid_outliers(emb, "label", dim=64, min_cosine=0.2)


def q_ann_ivf_pq_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index maintenance lifecycle (ops/similarity.py:
    append_pq_sidecar): build the IVF index + PQ sidecar on the FIRST
    HALF of the corpus (codebooks train there and FREEZE), append the
    second half — new rows are list-assigned against stored centroids
    and encoded against stored codebooks, O(appended) — then probe.
    The oracle trains its codebooks on the same first-half slice and
    encodes everything, mirroring the frozen-quantizer contract
    exactly.  The lifecycle is the ONE shared maintenance run
    (_shared_ann_maintained, VERDICT r13 #3); this query probes the
    frozen-quantizer snapshot taken after the appends and before the
    retrain — appends are deterministic against frozen centroids/
    codebooks, so two append waves vs the historical one change file
    accretion only, never a code or a probe row."""
    from recover_spark.ops.similarity import ivf_pq_topk_indexed

    emb = _load(spark, sf_dir, "embeddings")
    idx = _shared_ann_maintained(spark, sf_dir)["pq"]
    queries = emb.filter(F.col("vec_id") < 3)
    topk = ivf_pq_topk_indexed(spark, idx, queries, nprobe=2, k=5)
    return topk.select(
        "query_vec_id", "vec_id",
        F.round("pq_cosine", 6).alias("pq_cosine"), "rank",
    )


def q_stream_emb_drift_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 extension — streaming embedding-drift monitor
    (streaming/matview.py:maintain_vector_matview): four genuine
    micro-batches fold per-(label, era) vector SUMS (the mergeable
    centroid statistic) into keys x dim state; the read computes the
    per-label centroid cosine + norm ratio between eras — emb_drift,
    live, with no history rescan.  Oracle: the plain batch emb_drift
    SQL — maintenance must be invisible."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_vector_matview,
        read_embedding_drift_matview,
    )

    run_dir = f"spark-warehouse/emb_drift_mv/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    emb = _load(spark, sf_dir, "embeddings").select(
        "label",
        F.pmod(F.col("vec_id"), F.lit(2)).cast("int").alias("era"),
        F.col("embedding"),
    )
    emb.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "label int, era int, embedding array<float>",
    )
    q = maintain_vector_matview(
        stream, f"{run_dir}/state", f"{run_dir}/ckpt",
        ["label", "era"], "embedding", 64,
    )
    q.awaitTermination(300)
    return read_embedding_drift_matview(
        spark, f"{run_dir}/state", "label", "era", 64
    )


def q_dedup_cross_spans_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The excision applied end-to-end (ops/dedup_text.py:
    apply_span_excision): corpus rewritten with every cross-document
    duplicated span removed from all but its keep-one survivor —
    doc-grain (doc_id, cleaned text, n_tokens_removed) plus every
    provenance column (lang/source/n_chars) passed through, the
    artifact a training pipeline actually consumes."""
    from recover_spark.ops.dedup_text import (
        apply_span_excision,
        excise_cross_doc_spans,
    )

    docs = _load(spark, sf_dir, "documents")
    spans = excise_cross_doc_spans(docs, ngram=8, min_docs=2)
    return apply_span_excision(docs, spans)


def q_v16_rare_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-tail category audit (quality/expectations.py:
    rare_categories): document languages/sources at or below a 15%
    row share — names the underrepresented values the entropy/HHI
    summaries only hint at (the mix-rebalancing input).  One fact
    pass for all columns."""
    from recover_spark.quality.expectations import rare_categories

    docs = _load(spark, sf_dir, "documents")
    return rare_categories(docs, ["lang", "source"], max_share=0.15)


def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile decile assignment per event type (rank-class window
    beyond row_number; deterministic via (value, event_id) ordering)."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id", "event_type", F.ntile(10).over(w).alias("decile")
    )


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping sets in one
    Expand + single aggregate pass; grouping_id disambiguates subtotal
    nulls from data nulls."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_rows")
    )


def q_join_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: shipping volume between two nations by ship year.

    The nation dimension joins TWICE (supplier side and customer side) —
    both broadcast, so the only shuffles are the lineitem-orders join
    and the final small aggregate.  The two-direction predicate is
    applied after both nation names are in scope."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    supplier = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_join_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style: NATION_1's share of SMALL-part volume sold into
    EUROPE, by order year.  Share = conditional sum / total sum in ONE
    aggregate pass (no second join back)."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    supplier = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region")
    part = _load(spark, sf_dir, "part")
    n_cust = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == "SMALL")),
            li.l_partkey == part.p_partkey,
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("s_nkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def q_join_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top-20 customers by revenue on returned items.

    LIMIT is made deterministic by the (rounded revenue desc, custkey)
    tiebreak; the top-k itself is a TakeOrdered, not a global sort."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    rev = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


def q_agg_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: PROMO parts' share of 1996 revenue — conditional
    vs total sum in one pass over the date-pruned scan."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
            / F.sum(vol),
            4,
        ).alias("promo_share")
    )


def q_agg_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: revenue from small-quantity orders of Brand#1
    parts (quantity < 20% of that part's average).  The per-part
    threshold is an aggregate on the ALREADY part-filtered lineitem —
    the brand filter semi-joins before any aggregation, and the
    threshold join is a broadcast (one row per Brand#1 part)."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    brand_li = li.join(
        F.broadcast(part.filter(F.col("p_brand") == "Brand#1")),
        li.l_partkey == part.p_partkey,
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresh = brand_li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    small = brand_li.join(
        F.broadcast(thresh.withColumnRenamed("l_partkey", "t_partkey")),
        F.col("l_partkey") == F.col("t_partkey"),
    ).filter(F.col("l_quantity") < F.col("qty_thresh"))
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
    )


def q_agg_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: revenue under three OR'd (brand, size-range,
    quantity-range) predicates — one broadcast join, the disjunction
    evaluated post-join in a single pass."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


def q_agg_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style (adapted: nationkey for the missing phone
    cntrycode): per-nation count and balance of rich-but-inactive
    customers — above-average positive balance, no orders since
    2000-01-01.  The global average is a one-row broadcast (no
    collect); inactivity is an anti-join against the date-pruned
    orders key set."""
    customer = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    rich = customer.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("__avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    ).select("o_custkey")
    inactive = rich.join(
        recent, rich.c_custkey == F.col("o_custkey"), "left_anti"
    )
    return (
        inactive.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q_join_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp table, so unit cost is
    0.6 * p_retailprice): profit on 'widget' parts by supplier nation
    and order year.  The name-filtered part dim is broadcast FIRST so
    the fact table shrinks ~4x before the only real shuffle (the
    lineitem-orders fact-fact join); supplier and nation stay
    broadcast."""
    lineitem = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = (
        _load(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    supplier = _load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


def q_agg_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: shipped value from lineitem stands in
    for partsupp stock value): per-part shipped revenue for NATION_3's
    suppliers, kept only where the part's value exceeds 0.1% of the
    nation total.  The nation's supplier key set is broadcast into the
    fact scan; the global threshold is a one-row broadcast off the SAME
    aggregated ledger (no driver collect, no second fact scan)."""
    lineitem = _load(spark, sf_dir, "lineitem")
    supplier = _load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = (
        _load(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    nat_supp = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = (
        lineitem.join(F.broadcast(nat_supp), lineitem.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("__value"))
    )
    threshold = per_part.agg(
        (F.sum("__value") * F.lit(0.001)).alias("__threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("__value") > F.col("__threshold"))
        .select("l_partkey", F.round("__value", 2).alias("part_value"))
    )


def q_join_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: ship-delay class replaces the missing
    shipmode; late = shipped >90 days after the order date): urgent- vs
    other-priority order counts among 1997 late lines, by line status.
    Single fact-fact shuffle; the year filter prunes the lineitem scan
    (pushed to parquet)."""
    lineitem = _load(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1997
    )
    orders = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .filter(F.datediff("l_shipdate", "o_orderdate") > 90)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_join_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue over
    1996-H1.  The per-supplier revenue ledger is aggregated once; the
    global max is a one-row broadcast off that ledger (the classic
    'create view + subquery' done as exchange reuse, no driver
    collect); the winner re-keys against the broadcast supplier dim."""
    lineitem = _load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    supplier = _load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "__revenue"
            )
        )
    )
    top = revenue.agg(F.max("__revenue").alias("__max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("__revenue") == F.col("__max_revenue"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.round("__revenue", 2).alias("total_revenue")
        )
    )


def q_agg_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: the lineitem bridge stands in for
    partsupp; negative account balance stands in for the complaints
    filter): distinct supplier count per surviving (brand, type, size).
    Distinct (part, supplier) pairs come from one fact shuffle; the
    excluded-supplier set and the filtered part dim are broadcast
    (anti + inner)."""
    lineitem = _load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        _load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 36, 45, 50)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        _load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            lineitem.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.count(F.lit(1)).alias("supplier_cnt")
    )


def q_join_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: 1997 shipped volume stands in for
    partsupp availqty): suppliers who shipped more than 30% of a
    SMALL-type part's 1997 volume, with their nation.  Per-(part,
    supplier) quantities aggregate in one shuffle; the per-part total
    is a window over the SAME partitioning (no extra exchange);
    supplier/nation resolve via broadcast."""
    from pyspark.sql import Window

    lineitem = _load(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1997
    )
    part = (
        _load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "SMALL")
        .select("p_partkey")
    )
    supplier = _load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = _load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_pair = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
    )
    w = Window.partitionBy("l_partkey")
    qualifying = per_pair.withColumn(
        "__part_total", F.sum("__qty").over(w)
    ).filter(F.col("__qty") > F.lit(0.3) * F.col("__part_total"))
    return (
        qualifying.select("l_suppkey")
        .distinct()
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


def q_join_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: late = shipped >60 days after the
    order date, replacing the missing commit/receipt dates): per
    supplier, the number of finished multi-supplier orders where that
    supplier was the ONLY late one.  EXISTS / NOT EXISTS compile to
    per-order window counts over the deduped (order, supplier, late)
    pairs — one pair aggregation plus one order-partition window, no
    correlated re-scans; supplier names resolve via broadcast."""
    from pyspark.sql import Window

    orders = (
        _load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    lineitem = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    supplier = _load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    pairs = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(F.datediff("l_shipdate", "o_orderdate") > 60, 1).otherwise(0)
            ).alias("__is_late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    flagged = pairs.select(
        "l_orderkey",
        "l_suppkey",
        "__is_late",
        F.count(F.lit(1)).over(w).alias("__n_supp"),
        F.sum("__is_late").over(w).alias("__n_late"),
    )
    sole_late = flagged.filter(
        (F.col("__is_late") == 1)
        & (F.col("__n_supp") >= 2)
        & (F.col("__n_late") == 1)
    )
    return (
        sole_late.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
    )


def q_win_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-distribution windows: percent_rank and cume_dist per event
    type (exact rational formulas — identical doubles on any engine)."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cdist"),
    )


def q_agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregate battery per return flag: sample
    stddevs, correlation and covariance of price vs quantity — all
    mergeable map-side partials (count/sum/sum-of-products), the same
    shape that scales them to 100 TB.  Exposes sd_price, NOT the raw
    variance: var_samp(price) is ~4e8 carrying decimal rounding — the
    agg_gini sum-magnitude geometry, flagged by the round-11 battery
    scan and closed by the rule (expose the sqrt-scale statistic)."""
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("sd_price"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias(
            "cov_pq"
        ),
    )


def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated, even-count halves averaged) of order
    totals per priority — the exact-percentile path; the approximate
    t-digest twin is agg_approx_stats."""
    orders = _load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.median("o_totalprice"), 4).alias("median_price")
    )


def q_text_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup screen: levenshtein over 40-char prefixes
    of adjacent documents (JVM built-in, no UDF; the prefix bound keeps
    the O(m*n) DP cell count constant per pair)."""
    docs = _load(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.substring("text", 1, 40).alias("__ta"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"),
        F.substring("text", 1, 40).alias("__tb"),
    )
    return (
        a.join(F.broadcast(b), F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__ta", "__tb").alias("edit_dist"),
        )
    )


def q_transform_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function battery over order dates: truncation, day-of-week,
    day arithmetic, month-end — engine-portable forms only (Spark
    dayofweek is 1=Sunday; the oracle shifts DuckDB's 0-based form)."""
    orders = _load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.dayofweek("o_orderdate").alias("dow"),
        F.datediff(F.lit("2001-12-31"), F.col("o_orderdate")).alias(
            "days_to_eoy"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias(
            "month_end"
        ),
    )


def q_win_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native session windows (F.session_window, 30-min gap) —
    the built-in twin of the custom sessionizer (stream_sessionize):
    same single shuffle on the grouping key, window end = last event +
    gap per Spark's merge rule; the oracle reproduces it with
    gaps-and-islands (new session when the exact-epoch diff >= gap)."""
    events = _load(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "total_value",
        )
    )


# Explicit GROUPING SETS (neither a rollup nor a cube): two partial
# groupings plus the grand total, one Expand + one aggregate pass.
# Identical ANSI text runs on both engines.
_SQL_GROUPING_SETS_QUERY = """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL front-end (dual-engine text)."""
    from recover_spark.sql import run_sql

    return run_sql(spark, sf_dir, _SQL_GROUPING_SETS_QUERY)


def q_transform_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery over tokenized documents: size, distinct
    count, lexicographic min token, last token — all native array
    expressions on one map-side pass (no explode, no shuffle)."""
    docs = _load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.element_at(F.array_sort(F.array_distinct(toks)), 1).alias(
            "first_token"
        ),
        F.element_at(toks, -1).alias("last_token"),
    )


def q_transform_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp battery over part names: group extraction, pattern count,
    and a guarded replace — all JVM-native regex (no UDF), identical
    RE2-compatible patterns on both engines."""
    part = _load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"(\d+)", 1).alias("first_num"),
        F.size(F.split("p_name", r"[aeiou]")).alias("vowel_splits"),
        F.regexp_replace("p_name", r"\s+", "_").alias("snake_name"),
    )


def q_agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic string aggregation: per-nation sorted supplier-name
    concatenation.  collect_set is order-nondeterministic by design —
    array_sort before array_join restores a stable value (the oracle is
    string_agg ... ORDER BY)."""
    supplier = _load(spark, sf_dir, "supplier")
    return supplier.groupBy("s_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("s_name")), ",").alias(
            "supp_names"
        ),
        F.count(F.lit(1)).alias("n_supp"),
    )


def q_win_frame_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value window frames per user: first event value ever
    (unbounded preceding) and the running last over a full-partition
    frame — frame-boundary semantics made deterministic by the
    (ts, event_id) ordering."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return events.select(
        "event_id",
        "user_id",
        F.first("value").over(w_ord).alias("first_val"),
        F.last("value").over(w_full).alias("last_val"),
    )


def q_transform_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function battery over token arrays: lambda
    transform/filter/exists/aggregate with DuckDB list_* twins — the
    declarative array path that avoids explode+reshuffle entirely."""
    docs = _load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 3)).alias(
            "n_long_tokens"
        ),
        F.exists(toks, lambda t: t == F.lit("the")).alias("has_the"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
    )


def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) completing the set-op surface: nation keys of
    high-balance customers vs suppliers — one hash-distinct after the
    concat, no join."""
    customer = _load(spark, sf_dir, "customer")
    supplier = _load(spark, sf_dir, "supplier")
    a = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_nationkey").alias("nationkey")
    )
    b = supplier.filter(F.col("s_acctbal") > 5000).select(
        F.col("s_nationkey").alias("nationkey")
    )
    return a.union(b).distinct()


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, 16-token
    overlap): the document -> model-input step, one map-side pass."""
    from recover_spark.ops import chunk_documents

    docs = _load(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=64, overlap=16)


def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group embedding centroids (mean pooling) — the k-means /
    IVF-retrain primitive.  Plan: 64 per-dimension avg aggregates
    (map-side combinable partials; the vectors are NEVER exploded into
    a 64x row shuffle), then stacked to (grp, dim, centroid) rows."""
    emb = _load(spark, sf_dir, "embeddings")
    dim = 64
    aggs = [
        F.avg(F.col("embedding")[i]).alias(f"d{i}") for i in range(dim)
    ]
    wide = emb.groupBy((F.col("vec_id") % 10).alias("grp")).agg(*aggs)
    stack_args = ", ".join(f"{i + 1}, d{i}" for i in range(dim))
    return wide.select(
        "grp",
        F.expr(f"stack({dim}, {stack_args}) AS (dim, centroid)"),
    ).select(
        "grp",
        F.col("dim").cast("int").alias("dim"),
        F.round("centroid", 6).alias("centroid"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition stats per document — duplicate-token
    fraction and top-bigram fraction — computed entirely map-side: the
    per-doc bigram mode is the longest equal-run of the SORTED bigram
    array (one linear ``aggregate`` pass), not an explode + groupBy
    shuffle of ~token-count rows per document."""
    from recover_spark.functions.text import tokens
    from recover_spark.ops.text_analysis import (
        dup_token_fraction,
        top_ngram_fraction,
    )

    from recover_spark.functions.transforms import materialize_columns

    docs = _load(spark, sf_dir, "documents")
    toked = materialize_columns(
        docs.select("doc_id", "text"), {"__toks": tokens("text")}
    )
    return toked.select(
        "doc_id",
        F.round(dup_token_fraction(F.col("__toks")), 6).alias("dup_word_frac"),
        F.round(top_ngram_fraction(F.col("__toks"), 2), 6).alias(
            "top_bigram_frac"
        ),
    )


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF, top-3 terms per document (smoothed idf).  One
    (doc, term) shuffle; df reuses that aggregate; N is a one-row
    broadcast; scores rounded BEFORE ranking so top-k membership is
    engine-reproducible."""
    from recover_spark.functions.text import tokens
    from recover_spark.ops.text_analysis import tfidf_top_terms

    docs = _load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("__toks"))
    return tfidf_top_terms(toked, id_col="doc_id", tokens_col="__toks", k=3)


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by frequency (count desc,
    token asc tie-break) — map-side partial counts, TakeOrdered top-k."""
    from recover_spark.functions.text import tokens
    from recover_spark.ops.text_analysis import vocabulary_topk

    docs = _load(spark, sf_dir, "documents")
    toked = docs.select(tokens("text").alias("__toks"))
    return vocabulary_topk(toked, tokens_col="__toks", k=100)


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, IPs, phones) as pure
    regexp column expressions — the corpus is synthetically salted with
    deterministic PII per doc_id so the patterns actually fire, then
    counted and redacted in one map-only projection."""
    from recover_spark.ops.text_analysis import pii_count, redact_pii

    docs = _load(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    salted = docs.select("doc_id", synth.alias("__text"))
    return salted.select(
        "doc_id",
        pii_count(F.col("__text"), "email").alias("n_emails"),
        pii_count(F.col("__text"), "ip").alias("n_ips"),
        pii_count(F.col("__text"), "phone").alias("n_phones"),
        redact_pii(F.col("__text")).alias("redacted"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/PaLM-style n-gram overlap):
    every 50th document stands in for the eval set; the rest of the
    corpus is flagged by distinct 3-gram hits against the BROADCAST
    benchmark shingle set — the corpus side never shuffles except the
    per-doc hit count."""
    from recover_spark.ops.decontam import benchmark_ngram_hits

    docs = _load(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return benchmark_ngram_hits(corpus, benchmark, n=3)


def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of spherical k-means (K=8, deterministic
    seeds = vec_id < 8): map-side GEMM assignment (ties to lowest cid),
    mergeable per-dimension mean partials — the clustering primitive
    that retrains the IVF coarse quantizer."""
    from recover_spark.ops.clustering import kmeans_step

    emb = _load(spark, sf_dir, "embeddings")
    return kmeans_step(emb, n_centroids=8, dim=64)


def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Herfindahl concentration of customer market
    segments (operators/analytics.py:concentration_hhi): the
    dominated-by-top-few lens beside entropy (spread) and Gini
    (member inequality) — one (group, category) aggregate + fold."""
    from recover_spark.operators.analytics import concentration_hhi

    cust = _load(spark, sf_dir, "customer")
    return concentration_hhi(
        cust, ["c_nationkey"], "c_mktsegment"
    ).orderBy("c_nationkey")


def q_emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette of the seed k-means
    partitioning (ops/clustering.py:silhouette_by_cluster): each point
    scores against the K centroids only — never pairwise — so the
    quality readout costs one K-bounded window over the fact."""
    from recover_spark.ops.clustering import silhouette_by_cluster

    emb = _load(spark, sf_dir, "embeddings")
    return silhouette_by_cluster(emb, n_centroids=8).orderBy("cid")


def q_stream_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 incremental materialized view, run FOR REAL: the events
    table is split into four files and streamed through an availableNow
    foreachBatch run into persisted state with the idempotent batch-id
    sidecar (one trigger folds the files — see ``_arrival_stream``;
    multi-batch folding stays pinned by the merge_counts unit tests);
    the returned DataFrame reads the persisted state
    table.  The oracle is the plain batch aggregate — incremental
    maintenance must be invisible in the result."""
    import uuid

    from recover_spark.streaming.matview import maintain_count_matview

    run_dir = f"spark-warehouse/matview_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    events = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "event_id long, event_type string, value double",
    )
    q = maintain_count_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        ["event_type"],
        value_col="value",
    )
    q.awaitTermination(300)
    state = spark.read.parquet(f"{run_dir}/state")
    # expose the mean, not the raw running sum: a many-row SUM rounded
    # at 6 decimals stops being cross-engine stable past ~1e6
    # magnitude (the agg_gini round-9 lesson, applied by rule); the
    # state itself keeps the mergeable sum
    return state.select(
        "event_type",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("sum_value") / F.col("n_rows"), 6).alias("avg_value"),
    )


def q_stream_topk_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained BOUNDED frequent-items view
    (streaming/matview.py:maintain_topk_matview): per-batch exact
    partials fold into a Misra-Gries summary capped at ``capacity``
    counters (Agarwal et al. mergeable-summaries merge), so state stays
    bounded even over an open key domain.  Capacity here exceeds the
    distinct-user count, so no trim ever fires and the result equals
    the exact per-user counts — hash-matched against the plain groupBy
    oracle (same guarantee as skew_hitters_sketch)."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_topk_matview,
        read_topk_matview,
    )

    run_dir = f"spark-warehouse/matview_topk_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    events = _load(spark, sf_dir, "events").select("event_id", "user_id")
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_topk_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        ["user_id"],
        capacity=8192,
    )
    q.awaitTermination(300)
    top = read_topk_matview(spark, f"{run_dir}/state", top_n=10)
    return top.select(
        "user_id", F.col("weight").cast("long").alias("n_rows")
    )


def q_stream_hll_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained APPROX COUNT DISTINCT: per-event-type
    HLL sketches folded across a four-file availableNow stream
    (streaming/matview.py:maintain_distinct_matview).  Plain counters
    cannot maintain distincts incrementally (distinct partials are not
    summable); sketches merge associatively and idempotently.  Hashed
    via the tolerance-flag pattern (VERDICT r6 #4): the exact distinct
    per group hashes against the oracle and the STREAMED sketch
    estimate folds into an in-plan boolean within 5% of it — a broken
    fold/merge/replay flips the flag and fails the hash; the pytest
    twin additionally pins the streamed state against the one-shot
    batch sketch."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_distinct_matview,
        read_distinct_matview,
    )

    run_dir = f"spark-warehouse/matview_hll_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    events = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_distinct_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        ["event_type"],
        distinct_col="user_id",
    )
    q.awaitTermination(300)
    view = read_distinct_matview(spark, f"{run_dir}/state")
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return (
        view.join(exact, "event_type")
        .select(
            "event_type",
            "n_users",
            (
                F.abs(F.col("approx_distinct") - F.col("n_users"))
                <= F.greatest(F.lit(1.0), 0.05 * F.col("n_users"))
            ).alias("hll_ok"),
        )
        .orderBy("event_type")
    )


def q_stream_quantile_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained APPROX PERCENTILE: per-event-type KLL
    quantile sketches folded across a four-file availableNow stream
    (streaming/matview.py:maintain_quantile_matview).  Quantile
    partials are not summable — KLL sketches merge associatively
    (rank error ~1.65% at k=200), completing the sketch-family
    matviews (HLL distincts, Misra-Gries top-k, KLL quantiles).
    KLL merge is NOT idempotent, so the batch-id sidecar is
    load-bearing for exactly-once, pinned by the pytest replay twin.
    Hashed via the tolerance-flag pattern (VERDICT r6 #4): the exact
    row count per group hashes against the oracle and each streamed
    quantile estimate folds into an in-plan boolean pinned by its
    RANK contract (eps = 5%, 3x the k=200 rank error) — a broken
    fold or double-applied replay flips a flag and fails the hash."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_quantile_matview,
        read_quantile_matview,
    )

    run_dir = f"spark-warehouse/matview_kll_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    events = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_quantile_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        ["event_type"],
        value_col="value",
    )
    q.awaitTermination(300)
    view = read_quantile_matview(spark, f"{run_dir}/state")
    ranks = {"p50": 0.50, "p95": 0.95, "p99": 0.99}
    eps = 0.05
    fr = (
        events.join(
            F.broadcast(view.select("event_type", *ranks)), "event_type"
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            *[
                F.avg((F.col("value") < F.col(c)).cast("int")).alias(
                    f"__lt_{c}"
                )
                for c in ranks
            ],
            *[
                F.avg((F.col("value") <= F.col(c)).cast("int")).alias(
                    f"__le_{c}"
                )
                for c in ranks
            ],
        )
    )
    return (
        view.select("event_type")
        .join(fr, "event_type")
        .select(
            "event_type",
            "n_events",
            *[
                (
                    (F.col(f"__lt_{c}") <= F.lit(min(1.0, r + eps)))
                    & (F.col(f"__le_{c}") >= F.lit(r - eps))
                ).alias(f"{c}_rank_ok")
                for c, r in ranks.items()
            ],
        )
        .orderBy("event_type")
    )


def q_stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-ON-ARRIVAL (streaming/drift.py): the batch PSI monitor
    composed into the availableNow matview family.  The pre-cut
    shipment era freezes once as bin-edge + baseline-count metadata;
    the post-cut era arrives as a four-file stream whose per-batch
    binned counts fold into crash-safe sidecar state; the read-side
    PSI equals the batch ``v5_drift_psi`` on the same split EXACTLY
    (binned counts are additive), so the identical exact-percentile
    SQL oracle applies verbatim — a streamed pipeline hash-matched
    per value against a batch SQL twin.  The arrival state is built
    ONCE per process per sf_dir (_shared_drift_state, VERDICT r13 #1)
    and serves the KS/JS/W1 and CvM lenses too; this query reads all
    three frozen columns, so its rows equal the historical standalone
    construction exactly."""
    from recover_spark.streaming.drift import read_drift_psi

    state = _shared_drift_state(spark, sf_dir)
    return read_drift_psi(spark, state, cols=_DRIFT_SHARED_COLS)


def q_stream_drift_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift-on-arrival (streaming/drift.py categorical
    twin): the baseline era's top-k category bins freeze once, the
    post-cut era arrives as a four-file stream whose pooled category
    counts fold into crash-safe sidecar state — unseen/renamed
    categories pool into __other on the streaming path exactly as on
    the batch one.  Pooled counts are additive, so the read-side PSI
    equals the batch ``v6_drift_categorical`` exactly and shares its
    SQL oracle verbatim."""
    import uuid

    from recover_spark.streaming.drift import (
        freeze_categorical_baseline,
        maintain_categorical_drift_matview,
        read_categorical_drift_psi,
    )

    run_dir = f"spark-warehouse/drift_cat/{uuid.uuid4().hex}"
    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    cols = ["l_returnflag", "l_linestatus"]
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut)).select(*cols)
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut)).select(*cols)
    freeze_categorical_baseline(base, f"{run_dir}/state", cols, top_k=20)
    src = f"{run_dir}/src"
    cur.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        ", ".join(f"{c} string" for c in cols),
    )
    q = maintain_categorical_drift_matview(
        stream, f"{run_dir}/state", f"{run_dir}/ckpt"
    )
    q.awaitTermination(300)
    return read_categorical_drift_psi(spark, f"{run_dir}/state")


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-funnel analysis (view -> click -> purchase, in order):
    per-user step timestamps via conditional aggregation — step 1 is a
    plain min; steps 2 and 3 need the PRIOR step's timestamp, so the
    funnel folds over ONE user-partition shuffle: a first groupBy
    produces t1, the ordered constraints resolve as conditional mins
    over a window on the same key (no self-joins, no per-step scans).
    Output is one row per funnel stage with reached-user counts."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    with_t1 = events.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    with_t2 = with_t1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        with_t2.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(
            F.max("t1").alias("t1"),
            F.max("t2").alias("t2"),
            F.max("t3").alias("t3"),
        )
    )
    counts = per_user.agg(
        F.count("t1").alias("n_step1"),
        F.count("t2").alias("n_step2"),
        F.count("t3").alias("n_step3"),
    )
    return counts.select(
        F.expr(
            "stack(3, 'view', n_step1, 'view>click', n_step2, "
            "'view>click>purchase', n_step3) AS (step, n_users)"
        )
    )


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: each user's most frequent event
    type as an ordered-struct argmax over the (user, type) counts —
    the built-in mode() is tie-nondeterministic in both engines, so
    the tie rule (higher count, then later type) is explicit and the
    argmax is map-side-combinable like canonical_corpus."""
    events = _load(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    best = F.max(
        F.struct(F.col("n"), F.col("event_type").alias("t"))
    ).alias("__best")
    return (
        counts.groupBy("user_id")
        .agg(best)
        .select(
            "user_id",
            F.col("__best.t").alias("top_event_type"),
            F.col("__best.n").alias("n_events"),
        )
    )


def q_win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive active
    days.  Island key = day minus the per-user day rank (constant
    within a consecutive run) — one distinct, one window, one groupBy,
    all keyed on the user; the final argmax ranks the ISLAND aggregate
    (|users x islands| rows), never the event stream."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "g", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("day").alias("start"),
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("start").asc()
    )
    return (
        streaks.withColumn("__rn", F.row_number().over(w_best))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "streak_days",
            F.date_format("start", "yyyy-MM-dd").alias("streak_start"),
        )
    )


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency scoring (ops/text_analysis.py:
    unigram_logprob_scores): per-doc mean log-probability under the
    corpus's own smoothed unigram model — frequency table shuffles at
    vocabulary size, (N, V) ride a one-row broadcast, no UDFs."""
    from recover_spark.ops.text_analysis import unigram_logprob_scores

    docs = _load(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs)


def q_agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / cumulative-share analysis: top-100 customers by
    revenue with their running share of total.  The window runs over
    the customer AGGREGATE (|customers| rows, not the fact table); the
    cumulative sum's ordering is total (revenue desc, custkey asc) so
    partial sums are engine-reproducible on the 2-decimal-rounded
    revenues."""
    from pyspark.sql import Window

    orders = _load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey").asc())
    total = per_cust.groupBy().agg(F.sum("revenue").alias("__total"))
    ranked = (
        per_cust.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_revenue",
            F.round(
                F.sum("revenue").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
                2,
            ),
        )
        .filter(F.col("rank") <= 100)
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        "o_custkey",
        "revenue",
        "cum_revenue",
        F.round(F.col("cum_revenue") / F.col("__total"), 6).alias(
            "cum_share"
        ),
    )


def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream interval join, LEFT OUTER batch twin:
    purchases keep a row even when no click follows within 30 min
    (nulls on the right).  On a stream the unmatched row emits once
    the watermark proves no partner can arrive; state stays bounded by
    (watermark + range) exactly as in the inner case."""
    from recover_spark.streaming.joins import interval_join_stream

    events = _load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    joined = interval_join_stream(
        purchases, clicks, key="user_id", max_delay="30 minutes",
        how="left_outer",
    )
    return joined.select(
        "user_id",
        "event_id",
        _ts(F.col("ts"), "purchase_ts"),
        "click_id_r",
        _ts(F.col("ts_r"), "click_ts"),
    )


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: same ordered view -> click -> purchase
    fold as `funnel_steps` (conditional window mins over ONE user
    shuffle), but each step must land within 24h of the previous one —
    the semantics product analytics actually uses (an unbounded funnel
    credits conversions weeks apart).  The bound is one extra predicate
    inside each conditional min; plan shape is unchanged."""
    from pyspark.sql import Window

    gap = F.expr("INTERVAL 24 HOURS")
    events = _load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    with_t1 = events.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + gap),
            F.col("ts"),
        )
    ).over(w)
    with_t2 = with_t1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + gap),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        with_t2.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(
            F.max("t1").alias("t1"),
            F.max("t2").alias("t2"),
            F.max("t3").alias("t3"),
        )
    )
    counts = per_user.agg(
        F.count("t1").alias("n_step1"),
        F.count("t2").alias("n_step2"),
        F.count("t3").alias("n_step3"),
    )
    return counts.select(
        F.expr(
            "stack(3, 'view', n_step1, 'view>click_24h', n_step2, "
            "'view>click>purchase_24h', n_step3) AS (step, n_users)"
        )
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    in each later week they return.  First-activity week is a window
    min over the user partition (reused by the distinct (user, week)
    reduction on the SAME key — one user shuffle, then one small
    (cohort, offset) aggregation)."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events").select("user_id", "ts")
    week = F.floor(
        F.unix_timestamp(F.col("ts")) / F.lit(7 * 24 * 3600)
    ).alias("week")
    by_week = events.select("user_id", week)
    w = Window.partitionBy("user_id")
    cohorted = by_week.withColumn("cohort_week", F.min("week").over(w))
    return (
        cohorted.select("user_id", "cohort_week", "week")
        .distinct()
        .groupBy(
            F.col("cohort_week").cast("long").alias("cohort_week"),
            (F.col("week") - F.col("cohort_week"))
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_join_anti_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitset (Bloom-style) semi-join reduction composed into an EXACT
    anti-delete (operators/bloom.py): the deleted-key set is aggregated
    into a fixed-size bitmap, proven-absent rows bypass the join
    map-side, only bitmap candidates enter the exact anti-join.  Result
    is identical to J1 — the oracle is the plain anti-join."""
    from recover_spark.operators.bloom import drop_deleted_filtered

    lineitem = _load(spark, sf_dir, "lineitem")
    deleted = (
        _load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    kept = drop_deleted_filtered(
        lineitem, deleted, index_fields=["l_orderkey"], bits=1 << 20
    )
    return kept.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup collapse end-to-end: Jaccard pairs -> connected
    components -> ONE canonical doc per cluster (longest, then lowest
    id) via a map-side-combinable ordered-struct argmax
    (ops/dedup_text.py:canonical_corpus)."""
    from recover_spark.ops import duplicate_clusters, ngram_jaccard_pairs
    from recover_spark.ops.dedup_text import canonical_corpus

    docs = _load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_size=3, min_jaccard=0.2)
    clusters = duplicate_clusters(pairs, docs)
    return canonical_corpus(docs, clusters)


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality classifier sweep
    (ops/text_analysis.py:quality_scores): tokenize once, hash tokens
    into feature slots, apply per-slot coefficients, sigmoid — a single
    map-only projection, no shuffle/UDF/model file."""
    from recover_spark.ops.text_analysis import quality_scores

    docs = _load(spark, sf_dir, "documents")
    return quality_scores(docs)


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (ops/sampling.py:
    temperature_mix): expected kept volume per source ∝ n^alpha,
    smallest source kept whole; tiny source-count aggregate + broadcast
    rates, corpus never shuffles."""
    from recover_spark.ops.sampling import temperature_mix

    docs = _load(spark, sf_dir, "documents")
    mixed = temperature_mix(
        docs, key_col="doc_id", source_col="source", alpha=0.5
    )
    return mixed.select("doc_id", "source", "lang")


def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly detection per user
    (operators/temporal.py:rolling_zscore_anomalies): one window
    exchange; each point scored against its previous 20 observations,
    |z| > 3 flagged; unique event_id tiebreaks the ROWS frame."""
    from recover_spark.operators.temporal import rolling_zscore_anomalies

    events = _load(spark, sf_dir, "events")
    out = rolling_zscore_anomalies(
        events,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        lookback=20,
        min_points=5,
        threshold=3.0,
        tiebreakers=["event_id"],
    )
    return (
        out.filter(F.col("is_anomaly"))
        .select(
            "user_id",
            _ts(F.col("ts"), "ts"),
            "event_id",
            "value",
            "baseline_mean",
            "baseline_n",
            "zscore",
        )
    )


def q_ts_anomaly_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe time-windowed z-score
    (operators/temporal.py:rolling_zscore_time_anomalies): the key's
    timeline splits into 6h chunks scored in parallel, with rows in the
    last hour of each chunk carried into the next as context-only —
    EXACT for the RANGE frame, so the oracle is the plain unchunked
    window.  This is the shape that survives a 20%-hot-key stream where
    the per-key window is one stuck task."""
    from recover_spark.operators.temporal import rolling_zscore_time_anomalies

    events = _load(spark, sf_dir, "events")
    out = rolling_zscore_time_anomalies(
        events,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        window_s=3600,
        min_points=5,
        threshold=3.0,
        chunk_s=21600,
    )
    return out.filter(F.col("is_anomaly")).select(
        "user_id",
        _ts(F.col("ts"), "ts"),
        "value",
        "baseline_mean",
        "baseline_n",
        "zscore",
    )


def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resampling with LINEAR interpolation
    (operators/temporal.py:resample_interpolate): dense grid, gaps take
    the line between surrounding observations, edges clamp; both
    neighbor lookups ride one window exchange."""
    from recover_spark.operators.temporal import resample_interpolate

    events = _load(spark, sf_dir, "events")
    # Thin to ~1/7 of points so real multi-bucket gaps exist to
    # interpolate (the full stream has observations in nearly every
    # bucket, which would only exercise the observed branch).
    thinned = events.filter(F.col("event_id") % 7 == 0)
    return resample_interpolate(
        thinned, key_col="user_id", ts_col="ts", value_col="value",
        interval_s=3600,
    )


def q_path_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style row-pattern query (operators/temporal.py:
    sequence_pattern_counts): per-user event sequences encoded to a
    character string over a typed alphabet (one shuffle, sort_array'd
    per-key structs, loud max_sequence guard) and matched with
    non-overlapping regexp_count — conversion funnels with repetition
    (view click* purchase), error-recovery streaks (error+ click),
    and signup-to-first-purchase shapes, all map-side JVM regex,
    no UDF."""
    from recover_spark.operators.temporal import sequence_pattern_counts

    events = _load(spark, sf_dir, "events")
    out = sequence_pattern_counts(
        events,
        key_col="user_id",
        ts_col="ts",
        type_col="event_type",
        patterns={
            "conversions": "vc*p",
            "error_recoveries": "e+c",
            "signup_conversions": "s[^p]*p",
        },
        alphabet={
            "view": "v",
            "click": "c",
            "purchase": "p",
            "signup": "s",
            "error": "e",
        },
        tiebreakers=["event_id"],
    )
    return out.orderBy("user_id")


def q_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-path transition matrix: per user, each event pairs with
    its predecessor (one lag over ONE user-keyed window exchange); the
    (prev, next) counts aggregate with map-side partials, and the
    transition share normalizes by a second window over the tiny
    aggregated matrix (|event types|² rows), not the fact table."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = steps.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_prev = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_prev), 6).alias("share"),
    )


def q_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup by perceptual-hash banding
    (ops/multimodal.py:phash_near_duplicates): the 60-bit hash splits
    into four 15-bit bands; candidates come from one equi-join on the
    band key (pigeonhole-exact for Hamming distance <= 3), then
    bit_count(xor) filters exactly.  The hash itself is the stub
    digest-derived one (md5 of the blob), so the oracle reproduces the
    whole pipeline."""
    from recover_spark.ops.multimodal import phash_near_duplicates

    docs = _load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.conv(
            F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 15),
            16,
            10,
        )
        .cast("bigint")
        .alias("phash"),
    )
    return phash_near_duplicates(
        media, id_col="media_id", hash_col="phash", bands=4,
        bits_per_band=15, max_distance=3,
    )


def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend (operators/analytics.py:
    trend_regression): regr_* built-ins with mergeable partials — six
    numbers per group cross the shuffle; x is rescaled to days since
    the stream epoch so the product sums stay well-conditioned."""
    from recover_spark.operators.analytics import trend_regression

    events = _load(spark, sf_dir, "events")
    x = (F.unix_micros("ts") / F.lit(1e6) - F.lit(1704067200.0)) / F.lit(
        86400.0
    )
    return trend_regression(
        events.withColumn("x", x), ["event_type"], "value", "x"
    ).orderBy("event_type")


def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join
    (operators/temporal.py:interval_overlap_join): both sides bucket-
    explode to an equi-join (never a theta/nested-loop), and each
    overlapping pair is kept only in the first shared bucket — exact
    single-count without a post-join distinct shuffle."""
    from recover_spark.operators.temporal import interval_overlap_join

    events = _load(spark, sf_dir, "events")
    left = events.filter(F.col("event_id") % 23 == 0).select(
        "user_id",
        F.col("event_id").alias("l_id"),
        F.col("ts").alias("l_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("l_end"),
    )
    right = events.filter(F.col("event_id") % 29 == 0).select(
        "user_id",
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_start"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("r_end"),
    )
    out = interval_overlap_join(
        left, right, on=["user_id"], bucket_seconds=3600
    )
    return out.select(
        "user_id",
        "l_id",
        "r_id",
        _ts(F.col("l_start"), "l_start"),
        _ts(F.col("l_end"), "l_end"),
        _ts(F.col("r_start"), "r_start"),
        _ts(F.col("r_end"), "r_end"),
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the near-dup pair graph
    (ops/graph.py:triangle_enumerate): degree-oriented wedges bound
    hub blowup at O(|E|^1.5); the triangle set is orientation-
    independent, so the oracle uses the naive x<y<z join."""
    from recover_spark.ops import ngram_jaccard_pairs
    from recover_spark.ops.graph import triangle_enumerate

    docs = _load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_size=3, min_jaccard=0.2)
    return triangle_enumerate(pairs)


def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the near-dup pair
    graph (ops/graph.py:clustering_coefficient): degree-oriented
    wedge triangles exploded to node counts, joined to the degree
    table — hubs bridging unrelated clusters score ~0, nodes inside
    dense blobs ~1."""
    from recover_spark.ops import clustering_coefficient, ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_size=3, min_jaccard=0.2)
    return clustering_coefficient(pairs).orderBy("node")


def q_dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile of the semantic-cluster assignment
    (ops/dedup_text.py:cluster_size_histogram): per cluster SIZE, how
    many clusters and rows — the "how duplicated is this corpus"
    screen and the sizing input for keep-one-per-cluster.  Reads the
    ONE shared cluster assignment (_shared_semantic_clusters) instead
    of re-running the LSH + CC fixpoint — identical rows, one fixpoint
    per bench run instead of three."""
    from recover_spark.ops import cluster_size_histogram

    clustered = spark.read.parquet(
        _shared_semantic_clusters(spark, sf_dir)
    )
    return cluster_size_histogram(clustered, "cluster")


def q_sample_split_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: the split key is the
    near-dup CLUSTER, not the document, so near-duplicates can never
    straddle train and test (the standard contamination hole in naive
    per-doc splits).  Composes Jaccard pairs -> connected components ->
    hash-threshold assignment on the cluster id (ops/sampling.py) —
    the assignment itself stays a map-side expression."""
    from recover_spark.ops import duplicate_clusters, ngram_jaccard_pairs
    from recover_spark.ops.sampling import split_assignment

    docs = _load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_size=3, min_jaccard=0.2)
    clusters = duplicate_clusters(pairs, docs)
    return clusters.select(
        "doc_id",
        "cluster",
        split_assignment(
            F.col("cluster").cast("string"),
            {"train": 0.8, "valid": 0.1, "test": 0.1},
            salt="splitg",
        ).alias("split"),
    )


def q_link_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage (ops/linkage.py): customer names that
    agree on all but the last two characters pair up within prefix
    blocks; ONE equi-join on the block key (never a cartesian), hot
    blocks dropped by the size guard, early-exit thresholded
    levenshtein scores the survivors."""
    from recover_spark.ops.linkage import blocked_link_pairs

    customer = _load(spark, sf_dir, "customer")
    block = F.expr("substring(c_name, 1, length(c_name) - 2)")
    return blocked_link_pairs(
        customer,
        id_col="c_custkey",
        name_col="c_name",
        block=block,
        max_distance=2,
        max_block_size=1000,
    )


def q_win_global_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row numbering WITHOUT a global sort
    (operators/analytics.py:global_row_numbers): approx-quantile value
    buckets, per-bucket rank + count on one window exchange, offsets
    from a 64-row cumulative side frame — the single-partition
    ORDER-BY-everything window never happens; the result is identical
    to it (and that naive form is the oracle)."""
    from recover_spark.operators.analytics import global_row_numbers

    lineitem = _load(spark, sf_dir, "lineitem")
    out = global_row_numbers(
        lineitem, order_cols=["l_orderkey", "l_linenumber"], buckets=64
    )
    return out.select("l_orderkey", "l_linenumber", "row_id")


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key computation (functions/layout.py): events
    keyed on (user_id, hour) get a bit-interleaved sort key so a
    clustered layout prunes on BOTH dimensions; min/max bounds come
    from one one-row broadcast, scaling is exact bigint arithmetic, the
    interleave is 32 shift/mask terms inside codegen."""
    from recover_spark.functions.layout import zorder_values

    events = _load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
    )
    return zorder_values(events, ["user_id", "h"], bits=16).select(
        "event_id", "zvalue"
    )


def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free big-big join over pre-bucketed layout
    (sources/bucketed.py): orders and lineitem are written once as
    bucketed tables hash-partitioned on the order key (bucket id =
    pmod(murmur3(key), n) — the same hash a shuffle would use), so the
    fact-fact join plans a SortMergeJoin with ZERO Exchange on either
    side (plan contract in tests/test_bucketed.py).  At 100 TB this is
    the recurring-join answer: pay the shuffle once when data lands,
    every weekly rerun joins network-free.  The residual shuffle here
    is the 5-row priority aggregate, not the fact tables."""
    import hashlib
    import os
    import tempfile

    from recover_spark.sources.bucketed import (
        colocated_join,
        write_bucketed_table,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders, t_lines = f"bk_orders_{tag}", f"bk_lineitem_{tag}"
    root = os.path.join(tempfile.gettempdir(), f"recover_bucketed_{tag}")
    if not spark.catalog.tableExists(t_orders):
        write_bucketed_table(
            _load(spark, sf_dir, "orders"),
            t_orders,
            ["o_orderkey"],
            8,
            path=os.path.join(root, "orders"),
        )
    if not spark.catalog.tableExists(t_lines):
        write_bucketed_table(
            _load(spark, sf_dir, "lineitem"),
            t_lines,
            ["l_orderkey"],
            8,
            path=os.path.join(root, "lineitem"),
        )
    joined = colocated_join(
        spark, t_lines, t_orders, on=[("l_orderkey", "o_orderkey")]
    )
    return (
        joined.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def q_scan_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping (sources/zonemap.py): lineitem is laid
    out range-clustered on l_orderkey, a footer-only metadata job
    builds the per-file min/max manifest, and the key-range scan reads
    ONLY files whose zone intersects the predicate — at 100 TB the
    scheduler touches the 3 matching files, not all 100k (the manifest
    is the engine's own Delta-style data skipping over plain parquet).
    Pruning is a superset guarantee: the real filter still applies, so
    results are identical to the full scan the oracle runs."""
    import hashlib
    import os
    import tempfile

    from recover_spark.sources.writers import write_range_clustered_parquet
    from recover_spark.sources.zonemap import (
        build_zonemap,
        read_pruned,
        refresh_zonemap,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"recover_zonemap_{tag}")
    ds = os.path.join(root, "lineitem_by_key")
    if os.path.exists(os.path.join(ds, "_zonemap.json")):
        # the dataset is cached across runs: refresh adds column_types
        # to a manifest written without them (read as stale, a full
        # scan) and scans only files the manifest has not seen
        refresh_zonemap(spark, ds)
    else:
        write_range_clustered_parquet(
            _load(spark, sf_dir, "lineitem"), ds, ["l_orderkey"], num_files=16
        )
        build_zonemap(spark, ds, ["l_orderkey"])
    pruned, _report = read_pruned(spark, ds, {"l_orderkey": (1000, 2999)})
    return (
        pruned.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


def q_sample_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export assignment
    (ops/sampling.py:shard_assignment): a seeded global permutation
    (portable 60-bit md5 order — reproducible across engines, runs,
    and replays) cut into fixed 64-row shards with in-shard positions,
    the layout a training loader consumes.  The global rank rides
    hash-RANGE buckets (one 256-way window exchange + a bounded offset
    frame — no global sort; the token_budget_mix decomposition), equal
    to the oracle's single-window ``row_number() OVER (ORDER BY hash,
    key)`` by prefix-sum associativity."""
    from recover_spark.ops.sampling import shard_assignment

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    return shard_assignment(docs, "doc_id", rows_per_shard=64).select(
        "doc_id", "row_id", "shard", "pos_in_shard"
    ).orderBy("row_id")


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (ops/sampling.py:weighted_sample_k — Efraimidis–Spirakis
    exponential race on an md5-derived uniform): 5 customers per
    market segment, selection probability proportional to shifted
    account balance.  One window exchange on the segment; membership
    is replay-stable and the DuckDB oracle reproduces the draw
    bit-for-bit (scores rounded before ranking so libm ulps cannot
    flip a selection)."""
    from recover_spark.ops.sampling import weighted_sample_k

    cust = _load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") + F.lit(1000.0)).alias("wgt"),
    )
    return weighted_sample_k(
        cust, "c_custkey", "wgt", 5, group_col="c_mktsegment"
    ).orderBy("c_mktsegment", "c_custkey")


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer-doubling connected components
    (ops/graph.py:connected_components): min-reachable labels over a
    user-lattice graph (edges user -> user+3 where an event lands on
    the 11-residue), converging in O(log diameter) rounds — the
    general-graph sibling of duplicate_clusters' near-clique
    propagation.  Oracle: the recursive-CTE transitive closure with a
    min-per-node collapse."""
    from recover_spark.ops import connected_components

    events = _load(spark, sf_dir, "events")
    edges = (
        events.filter(F.col("event_id") % 11 == 0)
        .select(
            F.col("user_id").alias("src"),
            (F.col("user_id") + 3).alias("dst"),
        )
        .distinct()
    )
    return connected_components(edges).orderBy("node")


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (ops/graph.py:pagerank) over the bidirectional
    customer<->supplier trade graph (edge weight = lineitem count):
    the canonical iterative-dataflow algorithm as DataFrame power
    iteration — each step is one node-keyed equi-join plus one
    mergeable aggregate, the transition table computed once and
    pinned, lineage bounded by per-iteration lazy checkpoints.  The
    bidirectional construction leaves no dangling nodes, so the oracle
    is the same 6 iterations unrolled as chained CTEs — a per-value
    hash match on an iterative algorithm."""
    from recover_spark.ops.graph import pagerank

    lineitem = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
            "w",
        )
        # both union branches read flows; un-pinned, the source join +
        # aggregate executed twice inside the operator's eager edge
        # materialization (r14 optimization)
        .localCheckpoint(eager=False)
    )
    edges = flows.unionByName(
        flows.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    return pagerank(edges, weight="w", iterations=6).orderBy("node")


def _psi_oracle_sql(cols: list[str], cut: str, n_bins: int = 10) -> str:
    """PSI oracle: one UNION ALL block per column, each mirroring the
    operator exactly — exact linear-interpolation quantile edges from
    the baseline, bin = count of edges <= value, eps-clamped shares."""
    fr = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    blocks = []
    for c in cols:
        blocks.append(f"""
            SELECT '{c}' AS "column",
                   round(sum((pc - pb) * ln(pc / pb)), 6) AS psi,
                   {n_bins} AS n_bins
            FROM (
                WITH base AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate < TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                cur AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate >= TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                e AS (SELECT list_transform(quantile_cont(v, [{fr}]),
                            x -> round(x, 9)) AS edges FROM base),
                bb AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                       FROM base, e),
                cb AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                       FROM cur, e),
                slots AS (SELECT unnest(range({n_bins})) AS bin),
                nb AS (SELECT s.bin,
                              coalesce(x.n, 0) AS n_base
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM bb GROUP BY 1) x
                            USING (bin)),
                nc AS (SELECT s.bin,
                              coalesce(x.n, 0) AS n_cur
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM cb GROUP BY 1) x
                            USING (bin))
                SELECT greatest(n_base / (SELECT sum(n_base) FROM nb),
                                0.0001) AS pb,
                       greatest(n_cur / (SELECT sum(n_cur) FROM nc),
                                0.0001) AS pc
                FROM nb JOIN nc USING (bin)
            )
        """)
    return " UNION ALL ".join(blocks) + ' ORDER BY "column"'


def _js_oracle_sql(cols: list[str], cut: str, n_bins: int = 10) -> str:
    """JS-divergence + Hellinger oracle: the _psi_oracle_sql binning
    with UNCLAMPED shares and the bounded-metric folds (0*log0 terms
    guarded to 0, mixture positive wherever either side has mass)."""
    fr = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    blocks = []
    for c in cols:
        blocks.append(f"""
            SELECT '{c}' AS "column",
                   round(sum((CASE WHEN pb > 0
                                   THEN pb * log2(pb / ((pb + pc) / 2))
                                   ELSE 0 END
                            + CASE WHEN pc > 0
                                   THEN pc * log2(pc / ((pb + pc) / 2))
                                   ELSE 0 END) / 2), 6) AS js,
                   round(sqrt(greatest(0, 1 - sum(sqrt(pb * pc)))), 6)
                       AS hellinger,
                   {n_bins} AS n_bins
            FROM (
                WITH base AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate < TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                cur AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate >= TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                e AS (SELECT list_transform(quantile_cont(v, [{fr}]),
                            x -> round(x, 9)) AS edges FROM base),
                bb AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                       FROM base, e),
                cb AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                       FROM cur, e),
                slots AS (SELECT unnest(range({n_bins})) AS bin),
                nb AS (SELECT s.bin, coalesce(x.n, 0) AS n_base
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM bb GROUP BY 1) x
                            USING (bin)),
                nc AS (SELECT s.bin, coalesce(x.n, 0) AS n_cur
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM cb GROUP BY 1) x
                            USING (bin))
                SELECT CAST(n_base AS DOUBLE)
                           / (SELECT sum(n_base) FROM nb) AS pb,
                       CAST(n_cur AS DOUBLE)
                           / (SELECT sum(n_cur) FROM nc) AS pc
                FROM nb JOIN nc USING (bin)
            )
        """)
    return " UNION ALL ".join(blocks) + ' ORDER BY "column"'


def _chi2_oracle_sql(cols: list[str], cut: str, n_bins: int = 10) -> str:
    """Chi-squared drift oracle: the _js_oracle_sql binning with the
    cross-multiplied homogeneity fold (quality/drift.py:
    chi2_from_binned_counts) — effect sizes exposed, raw statistic
    deliberately not (sum-magnitude rule)."""
    fr = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    blocks = []
    for c in cols:
        blocks.append(f"""
            SELECT "column",
                   CAST(k - 1 AS BIGINT) AS dof,
                   CAST(tb AS BIGINT) AS n_base_total,
                   CAST(tc AS BIGINT) AS n_cur_total,
                   round(chi2 / (tb + tc) + 1e-9, 6) + 0.0 AS phi2,
                   round(sqrt(chi2 / (tb + tc) / (k - 1))
                         + 1e-9, 6) + 0.0 AS cramers_v
            FROM (
                SELECT '{c}' AS "column",
                       sum(CASE WHEN n_base + n_cur > 0
                                THEN 1 ELSE 0 END) AS k,
                       max(tb) AS tb, max(tc) AS tc,
                       sum(CASE WHEN n_base + n_cur > 0
                           THEN diff * diff
                                / (CAST(tb AS DOUBLE) * tc
                                   * (n_base + n_cur))
                           ELSE 0 END) AS chi2
                FROM (
                    WITH base AS (
                        SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                        WHERE l_shipdate < TIMESTAMP '{cut}'
                              AND {c} IS NOT NULL
                    ),
                    cur AS (
                        SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                        WHERE l_shipdate >= TIMESTAMP '{cut}'
                              AND {c} IS NOT NULL
                    ),
                    e AS (SELECT list_transform(quantile_cont(v, [{fr}]),
                                x -> round(x, 9)) AS edges FROM base),
                    bb AS (SELECT len(list_filter(e.edges, x -> x <= v))
                               AS bin FROM base, e),
                    cb AS (SELECT len(list_filter(e.edges, x -> x <= v))
                               AS bin FROM cur, e),
                    slots AS (SELECT unnest(range({n_bins})) AS bin),
                    nb AS (SELECT s.bin, coalesce(x.n, 0) AS n_base
                           FROM slots s LEFT JOIN
                                (SELECT bin, count(*) AS n FROM bb
                                 GROUP BY 1) x USING (bin)),
                    nc AS (SELECT s.bin, coalesce(x.n, 0) AS n_cur
                           FROM slots s LEFT JOIN
                                (SELECT bin, count(*) AS n FROM cb
                                 GROUP BY 1) x USING (bin))
                    SELECT n_base, n_cur,
                           (SELECT sum(n_base) FROM nb) AS tb,
                           (SELECT sum(n_cur) FROM nc) AS tc,
                           CAST(n_base AS DOUBLE)
                               * (SELECT sum(n_cur) FROM nc)
                           - CAST(n_cur AS DOUBLE)
                               * (SELECT sum(n_base) FROM nb) AS diff
                    FROM nb JOIN nc USING (bin)
                )
            )
        """)
    return " UNION ALL ".join(blocks) + ' ORDER BY "column"'


def _grid_drift_oracle_sql(cols: list[str], cut: str, n_bins: int = 10) -> str:
    """Grid-KS + JS + Hellinger oracle for the streaming KS matview:
    same binning, cumulative counts CAST to BIGINT (DuckDB window sums
    are HUGEINT — the pack_sequences type-drift lesson), the KS cross-
    multiplied form, and the JS/Hellinger folds."""
    fr = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    blocks = []
    for c in cols:
        blocks.append(f"""
            SELECT '{c}' AS "column",
                   round(max(abs(cb * tc - cc * tb))
                         / (CAST(tb AS DOUBLE) * tc), 6) AS ks_grid,
                   CAST(tb AS BIGINT) AS n_base,
                   CAST(tc AS BIGINT) AS n_cur,
                   round(sum(abs(CAST(cb AS DOUBLE) * tc
                                 - CAST(cc AS DOUBLE) * tb))
                         / (CAST(tb AS DOUBLE) * tc * {n_bins}), 6)
                       AS wasserstein,
                   round(sum((CASE WHEN pb > 0
                                   THEN pb * log2(pb / ((pb + pc) / 2))
                                   ELSE 0 END
                            + CASE WHEN pc > 0
                                   THEN pc * log2(pc / ((pb + pc) / 2))
                                   ELSE 0 END) / 2), 6) AS js,
                   round(sqrt(greatest(0, 1 - sum(sqrt(pb * pc)))), 6)
                       AS hellinger
            FROM (
                WITH base AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate < TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                cur AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate >= TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                e AS (SELECT list_transform(quantile_cont(v, [{fr}]),
                            x -> round(x, 9)) AS edges FROM base),
                bb AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                       FROM base, e),
                cb2 AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                        FROM cur, e),
                slots AS (SELECT unnest(range({n_bins})) AS bin),
                nb AS (SELECT s.bin, coalesce(x.n, 0) AS n_base
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM bb GROUP BY 1) x
                            USING (bin)),
                nc AS (SELECT s.bin, coalesce(x.n, 0) AS n_cur
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM cb2 GROUP BY 1) x
                            USING (bin)),
                j AS (SELECT bin, n_base, n_cur
                      FROM nb JOIN nc USING (bin))
                SELECT CAST(sum(n_base) OVER (ORDER BY bin) AS BIGINT) AS cb,
                       CAST(sum(n_cur) OVER (ORDER BY bin) AS BIGINT) AS cc,
                       CAST(sum(n_base) OVER () AS BIGINT) AS tb,
                       CAST(sum(n_cur) OVER () AS BIGINT) AS tc,
                       CAST(n_base AS DOUBLE)
                           / sum(n_base) OVER () AS pb,
                       CAST(n_cur AS DOUBLE)
                           / sum(n_cur) OVER () AS pc
                FROM j
            )
            GROUP BY tb, tc
        """)
    return " UNION ALL ".join(blocks) + ' ORDER BY "column"'


def _wasserstein_oracle_sql(
    cols: list[str], cut: str, n_bins: int = 10
) -> str:
    """Grid-Wasserstein oracle: same exact-percentile binning as the
    grid-KS oracle, the SUM of |cross-multiplied CDF gaps| normalized
    by tb*tc*n_bins (one division at the end, mirroring
    wasserstein_grid_from_binned_counts)."""
    fr = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    blocks = []
    for c in cols:
        blocks.append(f"""
            SELECT '{c}' AS "column",
                   round(sum(abs(CAST(cb AS DOUBLE) * tc
                                 - CAST(cc AS DOUBLE) * tb))
                         / (CAST(tb AS DOUBLE) * tc * {n_bins}), 6)
                       AS wasserstein,
                   CAST(tb AS BIGINT) AS n_base,
                   CAST(tc AS BIGINT) AS n_cur
            FROM (
                WITH base AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate < TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                cur AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate >= TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                e AS (SELECT list_transform(quantile_cont(v, [{fr}]),
                            x -> round(x, 9)) AS edges FROM base),
                bb AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                       FROM base, e),
                cb2 AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                        FROM cur, e),
                slots AS (SELECT unnest(range({n_bins})) AS bin),
                nb AS (SELECT s.bin, coalesce(x.n, 0) AS n_base
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM bb GROUP BY 1) x
                            USING (bin)),
                nc AS (SELECT s.bin, coalesce(x.n, 0) AS n_cur
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM cb2 GROUP BY 1) x
                            USING (bin)),
                j AS (SELECT bin, n_base, n_cur
                      FROM nb JOIN nc USING (bin))
                SELECT CAST(sum(n_base) OVER (ORDER BY bin) AS BIGINT) AS cb,
                       CAST(sum(n_cur) OVER (ORDER BY bin) AS BIGINT) AS cc,
                       CAST(sum(n_base) OVER () AS BIGINT) AS tb,
                       CAST(sum(n_cur) OVER () AS BIGINT) AS tc
                FROM j
            )
            GROUP BY tb, tc
        """)
    return " UNION ALL ".join(blocks) + ' ORDER BY "column"'


def _psi_cat_oracle_sql(cols: list[str], cut: str, top_k: int = 20) -> str:
    """Categorical-PSI oracle: per column, baseline top-k bins
    (count desc, category asc), everything else pooled to __other,
    eps-clamped shares — mirrors psi_drift_categorical exactly."""
    blocks = []
    for c in cols:
        blocks.append(f"""
            SELECT '{c}' AS "column",
                   round(sum((pc2 - pb2) * ln(pc2 / pb2)), 6) AS psi,
                   {top_k} AS top_k
            FROM (
                WITH base AS (
                    SELECT coalesce(CAST({c} AS VARCHAR), '__null') AS cat
                    FROM lineitem WHERE l_shipdate < TIMESTAMP '{cut}'
                ),
                cur AS (
                    SELECT coalesce(CAST({c} AS VARCHAR), '__null') AS cat
                    FROM lineitem WHERE l_shipdate >= TIMESTAMP '{cut}'
                ),
                bc AS (SELECT cat, count(*) AS n FROM base GROUP BY 1),
                topk AS (SELECT cat FROM bc
                         ORDER BY n DESC, cat ASC LIMIT {top_k}),
                pb AS (
                    SELECT CASE WHEN cat IN (SELECT cat FROM topk)
                                THEN cat ELSE '__other' END AS bin,
                           sum(n) AS n_base
                    FROM bc GROUP BY 1
                ),
                cc AS (SELECT cat, count(*) AS n FROM cur GROUP BY 1),
                pc AS (
                    SELECT CASE WHEN cat IN (SELECT cat FROM topk)
                                THEN cat ELSE '__other' END AS bin,
                           sum(n) AS n_cur
                    FROM cc GROUP BY 1
                ),
                slots AS (
                    SELECT cat AS bin FROM topk
                    UNION SELECT '__other'
                ),
                nb AS (SELECT s.bin, coalesce(pb.n_base, 0) AS n_base
                       FROM slots s LEFT JOIN pb USING (bin)),
                nc AS (SELECT s.bin, coalesce(pc.n_cur, 0) AS n_cur
                       FROM slots s LEFT JOIN pc USING (bin))
                SELECT greatest(n_base / (SELECT sum(n_base) FROM nb),
                                0.0001) AS pb2,
                       greatest(n_cur / (SELECT sum(n_cur) FROM nc),
                                0.0001) AS pc2
                FROM nb JOIN nc USING (bin)
            )
        """)
    return " UNION ALL ".join(blocks) + ' ORDER BY "column"'


def _pagerank_oracle_sql(iterations: int = 6, damping: float = 0.85) -> str:
    """Unrolled power iteration as chained CTEs (no dangling nodes in
    the bidirectional graph, so no mass-correction term).  (1-0.85) is
    written as the subtraction so both engines compute the identical
    double, matching the Spark side's Python float arithmetic."""
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""r{i} AS (
                SELECT n.node,
                       (1 - {damping}) / (SELECT n FROM nn)
                       + {damping} * coalesce(sum(r.rank * t.p), 0) AS rank
                FROM nodes n
                LEFT JOIN trans t ON t.dst = n.node
                LEFT JOIN {prev} r ON r.node = t.src
                GROUP BY n.node
            )"""
        )
        prev = f"r{i}"
    chain = ",\n".join(steps)
    return f"""
        WITH flows AS (
            SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
                   CAST(count(*) AS DOUBLE) AS w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        ),
        edges AS (
            SELECT src, dst, w FROM flows
            UNION ALL
            SELECT dst AS src, src AS dst, w FROM flows
        ),
        trans AS (
            SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p
            FROM edges
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        r0 AS (
            SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
        ),
        {chain}
        SELECT node, round(rank, 7) AS rank FROM {prev} ORDER BY node
    """


def q_scan_bloommap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sidecar file skipping (sources/bloommap.py): lineitem is
    laid out range-clustered on l_shipdate — so l_orderkey SCATTERS
    across files and zone maps on it are useless (every file's
    [min, max] spans the key domain) — then a per-file Bloom manifest
    on l_orderkey lets the point lookup schedule only the files that
    might hold the probed keys.  At 100 TB this is the "find the
    needle's file" primitive: an equality scan touches ~|keys| files
    out of 100k, without re-clustering the data.  Superset guarantee:
    the exact IN filter reapplies on top, so the result is identical
    to the oracle's full scan."""
    import hashlib
    import os
    import tempfile

    from recover_spark.sources.bloommap import (
        build_bloommap,
        read_point_pruned,
        refresh_bloommap,
    )
    from recover_spark.sources.writers import write_range_clustered_parquet

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"recover_bloommap_{tag}")
    ds = os.path.join(root, "lineitem_by_shipdate")
    if os.path.exists(os.path.join(ds, "_bloommap.json")):
        refresh_bloommap(spark, ds)  # as in q_scan_zonemap
    else:
        write_range_clustered_parquet(
            _load(spark, sf_dir, "lineitem"), ds, ["l_shipdate"], num_files=16
        )
        build_bloommap(spark, ds, ["l_orderkey"])
    keys = [1, 1000, 2000, 3000, 4000, 5000]
    pruned, _report = read_point_pruned(spark, ds, {"l_orderkey": keys})
    return (
        pruned.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_orderkey")
    )


def q_dedup_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cosine-threshold near-dup pairs via prefix-filtered
    all-pairs similarity search (ops/apss.py — Bayardo AP-SS family):
    unlike MinHash-LSH this is provably lossless, yet candidate
    generation is still an equi-join on prefix terms (rare-terms-first
    global order pushes hot terms into suffixes), never a cross join.
    The weighted-postings diamond (3 consumers) is pinned with a lazy
    localCheckpoint so the corpus tokenizes and shuffles once.  The
    oracle runs the brute-force postings self-join — equality IS the
    exactness claim."""
    from recover_spark.ops.apss import cosine_threshold_pairs

    docs = _load(spark, sf_dir, "documents")
    return cosine_threshold_pairs(docs, 0.9).orderBy("doc_a", "doc_b")


def q_dedup_cosine_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact near-dup: the corpus (doc_id % 5 != 0) is
    indexed ONCE as bucket-partitioned inverted postings
    (ops/text_index.py), then the arriving batch (doc_id % 5 == 0)
    probes it — candidates from the batch's own prefix terms only
    (one-sided prefix guarantee), postings scanned with
    PartitionFilters on the term-bucket, cost O(batch) not O(corpus).
    The weekly-export question the batch AP-SS join re-pays the corpus
    to answer.  Oracle: brute-force cross cosines.

    The base index is the ONE shared build per (process, sf_dir)
    (_shared_text_base_index — r14 optimization: the deletion gate
    copies this same deterministic artifact instead of rebuilding it,
    and the pre-r14 cross-run /tmp cache is gone: every invocation of
    the engine rebuilds from the parquet inputs)."""
    from recover_spark.ops.text_index import probe_text_index

    docs = _load(spark, sf_dir, "documents")
    idx = _shared_text_base_index(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return probe_text_index(batch, idx, 0.9).orderBy("new_id", "indexed_id")


def q_dedup_cosine_probe_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text-index maintenance lifecycle under the correctness
    gate (ops/text_index.py:compact_text_index): the corpus arrives in
    TWO waves (build doc_id %5 in 1..3, append %5 == 4 — together the
    same indexed set as ``dedup_cosine_probe``), the appended small
    files are folded by compaction (one file per touched bucket,
    content unchanged), and the probe runs over the COMPACTED index —
    so the brute-force oracle doubles as the proof that maintenance is
    invisible to queries.  Fresh directory per invocation: the
    lifecycle (build->append->compact) is the thing under test, not a
    cached artifact."""
    import tempfile

    from recover_spark.ops.text_index import (
        append_text_index,
        build_text_index,
        compact_text_index,
        probe_text_index,
    )

    docs = _load(spark, sf_dir, "documents")
    idx = tempfile.mkdtemp(prefix="recover_textidx_compact_") + "/idx"
    build_text_index(
        docs.filter((F.col("doc_id") % 5).isin(1, 2, 3)), idx, num_buckets=16
    )
    append_text_index(docs.filter(F.col("doc_id") % 5 == 4), idx)
    report = compact_text_index(spark, idx)
    assert report["postings"]["files_after"] <= report["postings"]["files_before"]
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return probe_text_index(batch, idx, 0.9).orderBy("new_id", "indexed_id")


def q_dedup_cosine_probe_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion propagated INTO the index
    (ops/text_index.py:delete_from_text_index): the corpus
    (doc_id % 5 != 0) is indexed, then every doc with doc_id % 7 == 3
    is FORGOTTEN — only the term buckets that actually hold the
    deleted docs are rewritten (doc-id pushdown finds them; emptied
    buckets' dirs drop), df re-derives, and the arriving batch
    (doc_id % 5 == 0) probes the scrubbed index.  The reference
    applies deletes to curated tables (J1,
    src/glue/jobs/json_to_parquet.py); a health-data platform must
    scrub derived surfaces too.  Oracle: brute-force cross cosines
    against the corpus MINUS the deleted docs — the index must be
    indistinguishable from one that never held them.

    r14 optimization: the pre-deletion index is a COPY of the one
    shared base build (_shared_text_base_index — same corpus filter,
    same bucket count, deterministic build, so the copy is
    byte-identical to building fresh here); the deletion — the thing
    under test — still runs against this query's own private copy
    every invocation."""
    import shutil
    import tempfile

    from recover_spark.ops.text_index import (
        delete_from_text_index,
        probe_text_index,
    )

    docs = _load(spark, sf_dir, "documents")
    idx = tempfile.mkdtemp(prefix="recover_textidx_del_") + "/idx"
    shutil.copytree(_shared_text_base_index(spark, sf_dir), idx)
    victims = docs.filter(
        (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 3)
    ).select("doc_id")
    # DataFrame-form deletion list — the production shape (J1's delete
    # lists are datasets); plans as broadcast semi/anti joins, no
    # driver collect of the victim set
    delete_from_text_index(spark, idx, victims)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return probe_text_index(batch, idx, 0.9).orderBy("new_id", "indexed_id")


def q_ann_ivf_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF maintenance lifecycle under the correctness gate
    (ops/similarity.py:compact_ivf_index / rebuild_ivf_index): build
    on the first half of the embeddings, append the second half in two
    waves (frozen centroids, file accretion), COMPACT the accreted
    lists, then REBUILD — which re-extracts every stored vector and
    re-runs the deterministic build, so the final index provably
    equals a fresh build over the whole corpus and the ``ann_ivf``
    oracle applies verbatim.  The lifecycle is the ONE shared
    maintenance run (_shared_ann_maintained, VERDICT r13 #3); this
    query probes the post-rebuild directory — the rebuild re-derives
    the index from the stored vectors alone, so sharing the preceding
    build/append stages with the PQ gate cannot move a probe row."""
    from recover_spark.ops.similarity import ivf_topk_indexed

    emb = _load(spark, sf_dir, "embeddings")
    idx = _shared_ann_maintained(spark, sf_dir)["ivf"]
    queries = emb.filter(F.col("vec_id") < 3)
    topk = ivf_topk_indexed(spark, idx, queries, nprobe=2, k=5)
    return topk.select(
        "query_vec_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (ops/text_analysis.py:bm25_topk): top-5
    documents for three literal queries via the inverted-index join —
    one (doc, term) shuffle builds tf, doclen and df REUSE that
    aggregate, the tiny query-term set broadcasts into the postings so
    non-query-term postings never leave the map side, and (N, avgdl)
    ride a one-row broadcast.  Scores rounded to 6 before ranking for
    cross-engine-stable top-k membership."""
    from recover_spark.ops.text_analysis import bm25_topk

    docs = _load(spark, sf_dir, "documents")
    queries = _tiny_df(
        spark,
        [
            ("q_join", "hash join merge"),
            ("q_scan", "fast table scan"),
            ("q_stream", "stream batch window"),
        ],
        "query_id string, query_text string",
    )
    return bm25_topk(docs, queries, k=5)


def q_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (ops/sampling.py:
    importance_scores): score every document by log(p_target/p_raw) of
    its bigram bag, target = the English slice — the published
    importance-resampling recipe for shifting a raw crawl toward a
    trusted domain.  Bigrams are built map-side from the token array
    (no positional self-join), raw+target counts come out of ONE
    vocabulary-size shuffle, the top-V vocab is a TakeOrdered whose
    weights broadcast into the map-side scoring pass."""
    from recover_spark.ops.sampling import importance_scores

    docs = _load(spark, sf_dir, "documents")
    return importance_scores(
        docs, F.col("lang") == "en", vocab_size=500
    )


def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (ops/bpe.py:train_bpe): the
    corpus is scanned ONCE into a word-frequency table, then each of
    the 12 merge iterations is a symbol-pair aggregate over that
    |vocab|-sized table (map-side pair explode, deterministic argmax
    with the weight-desc/pair-asc tie rule) plus a map-side fold
    applying the merge — lineage truncated via localCheckpoint.  No
    SQL twin (iterative, data-dependent argmax per step): rows-only
    driver check; exact-parity pin vs an independent pure-Python
    trainer lives in tests/test_bpe.py.  The 12-merge training run is
    the ONE shared trainer per (process, sf_dir)
    (_shared_bpe_merges, the VERDICT r13 #1/#3 shared-lifecycle
    convention): this query IS the trainer and carries the whole
    construct in the bench; the fertility audit re-reads the learned
    merge table instead of re-training it — training is deterministic,
    so sharing cannot move a row of either query."""
    merges = _shared_bpe_merges(spark, sf_dir)
    return _tiny_df(
        spark,
        merges,
        "iteration int, left string, right string, merged string, "
        "weight long",
    ).orderBy("iteration")


def q_text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit (ops/bpe.py:train_bpe + apply_bpe):
    BPE tokens emitted per source word, by language — THE number a
    multilingual pipeline watches when one language's tokenizer tax
    silently inflates its training cost (fertility ~1 = near-word
    units; high = the vocabulary underserves that language).  Train
    12 merges on the corpus, encode map-side (one Catalyst fold per
    rule — zero extra shuffles beyond the trainer's), aggregate
    (n_words, n_bpe_tokens) per lang.  Oracle: the same recursive-CTE
    sequential trainer the hash-verified text_bpe_train uses, read at
    its FINAL state (the fully-merged symbol arrays ARE the encoding
    of every training word — encode applies the same rules in the
    same order), joined back to the per-doc token stream.  The merge
    table comes from the ONE shared 12-merge trainer
    (_shared_bpe_merges — text_bpe_train carries the construct;
    training is deterministic, so the encoded rows are unchanged vs
    re-training here)."""
    from recover_spark.ops.bpe import apply_bpe
    from recover_spark.functions.text import tokens

    docs = _load(spark, sf_dir, "documents")
    merges = [
        (left, right)
        for _, left, right, _, _ in _shared_bpe_merges(spark, sf_dir)
    ]
    enc = apply_bpe(docs, merges)
    return (
        enc.select(
            "lang",
            F.size(tokens(F.col("text"))).alias("__nw"),
            F.size(F.col("bpe_tokens")).alias("__nt"),
        )
        .groupBy("lang")
        .agg(
            F.sum("__nw").cast("long").alias("n_words"),
            F.sum("__nt").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility",
            F.round(
                F.col("n_bpe_tokens") / F.col("n_words") + F.lit(1e-9), 6
            ),
        )
        .orderBy("lang")
    )


def q_text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (ops/unigram.py:train_unigram) —
    the SentencePiece-style complement to BPE (Kudo 2018), Viterbi-EM
    variant: one corpus pass builds the word-frequency table, the seed
    vocabulary is one substring aggregate over it, then each EM round
    is ONE Arrow-batched Viterbi map over the |vocab|-sized word table
    feeding a piece-keyed mergeable integer sum, with driver state
    bounded by seed_cap.  Output: the (piece, count, logprob) table a
    unigram tokenizer ships.  No SQL twin (iterative, data-dependent
    segmentations per step): rows-only driver check; exact-parity
    battery hash via the python oracle + tests/test_unigram.py, the
    text_bpe_train pattern."""
    from recover_spark.ops.unigram import train_unigram

    docs = _load(spark, sf_dir, "documents")
    return train_unigram(
        docs, vocab_size=120, max_piece_len=4, n_iterations=2
    )


def q_decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination (ops/decontam.py:fuzzy_benchmark_overlap):
    corpus documents that are MinHash near-duplicates of a held-out
    benchmark slice (doc_id % 5 == 0) — catches paraphrased
    contamination exact n-gram matching misses.  The benchmark's band
    digests broadcast into the corpus band entries (LSH equi-join,
    never all-pairs); the corpus is never self-joined or collected."""
    from recover_spark.ops.decontam import fuzzy_benchmark_overlap

    docs = _load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    return fuzzy_benchmark_overlap(
        corpus, bench, min_signature_agreement=0.25
    )


def q_text_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM fluency with Stupid Backoff (ops/text_analysis.py:
    bigram_logprob_scores): every document scored under a bigram model
    FIT ON the English slice — unseen bigrams back off to the add-k
    smoothed unigram (alpha=0.4), so out-of-domain text scores low but
    finite.  Model tables shuffle at vocabulary size; scoring is
    left-joins on term keys plus one doc-keyed re-aggregation."""
    from recover_spark.ops.text_analysis import bigram_logprob_scores

    docs = _load(spark, sf_dir, "documents")
    return bigram_logprob_scores(
        docs, model_docs=docs.filter(F.col("lang") == "en")
    )


def q_agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct-user rollup via mergeable HLL sketches
    (operators/analytics.py:approx_distinct_rollup): daily sketches
    union upward to per-event-type estimates — the second level
    aggregates sketch partials, never re-scanning the fact table.
    Hashed via the tolerance-flag pattern (VERDICT r6 #4): the rollup's
    exact columns (row/fine-group counts) plus the exact distinct hash
    against the oracle, and the merged-sketch estimate folds into an
    in-plan boolean pinned to 3x the lg_k=12 standard error (~5%) —
    the oracle emits literal TRUE, so a broken sketch or merge fails
    the value hash."""
    from recover_spark.operators.analytics import approx_distinct_rollup

    events = _load(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    roll = approx_distinct_rollup(
        events,
        group_cols=["event_type"],
        rollup_col="day",
        distinct_col="user_id",
        lg_k=12,
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return (
        roll.join(exact, "event_type")
        .select(
            "event_type",
            "n_rows",
            "n_fine_groups",
            "n_users",
            (
                F.abs(F.col("approx_distinct") - F.col("n_users"))
                <= F.greatest(F.lit(1.0), 0.05 * F.col("n_users"))
            ).alias("hll_ok"),
        )
        .orderBy("event_type")
    )


def q_v5_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two export eras
    (quality/drift.py:psi_drift): shipments before vs after 1998-06-01
    — the monitor that catches a vendor firmware shift the count/schema
    audits (A1/A6) cannot see.  One baseline aggregate computes every
    column's quantile edges; both eras bin map-side against the
    one-row broadcast.  ``edge_accuracy=None`` opts into EXACT
    interpolated edges so the DuckDB oracle computes identical
    cutpoints (the production default is the O(accuracy)-buffer
    approx sketch — quality/drift.py module docstring).  Oracle: the
    identical exact-percentile binning in SQL."""
    from recover_spark.quality.drift import psi_drift

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut))
    return psi_drift(
        base,
        cur,
        ["l_extendedprice", "l_quantity", "l_discount"],
        edge_accuracy=None,
    ).orderBy("column")


def q_stream_corr_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained pairwise CORRELATIONS
    (streaming/matview.py:maintain_corr_matview): per-pair centered
    moments folded across a four-file availableNow stream via the
    Chan parallel-merge update (raw sum-of-products partials cancel
    catastrophically; centered moments merge exactly), state bounded
    by |cols|^2.  Read-side corr/cov equal the one-shot batch
    aggregate over the union up to float merge order — the oracle is
    that batch SQL, rounded with the tie nudge.  The covariance is
    hashed as sign(x)*log10(1+|x|) rounded to 6 digits: cov_samp
    spans ~1e-3 (discount) to ~1e9 (extendedprice self-variance), so
    a fixed-decimal round would demand ~5e-14 RELATIVE agreement on
    the big pairs — beyond what float summation order guarantees
    between the 4-batch Chan merge and the oracle's single pass; the
    log transform makes the 1e-6 rounding tolerance relative at every
    magnitude."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_corr_matview,
        read_corr_matview,
    )

    run_dir = f"spark-warehouse/matview_corr_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    li = _load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    li.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "l_quantity double, l_extendedprice double, l_discount double",
    )
    q = maintain_corr_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        ["l_discount", "l_extendedprice", "l_quantity"],
    )
    q.awaitTermination(300)

    def _r6(c):
        return F.round(F.col(c) + F.lit(1e-9), 6)

    return (
        read_corr_matview(spark, f"{run_dir}/state")
        .select(
            "col_a", "col_b", "n",
            _r6("corr").alias("corr"),
            F.round(
                F.signum("cov_samp")
                * F.log10(F.abs(F.col("cov_samp")) + F.lit(1.0))
                + F.lit(1e-9),
                6,
            ).alias("cov_mag"),
        )
        .orderBy("col_a", "col_b")
    )


def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass pairwise Pearson matrix
    (operators/analytics.py:correlation_matrix): all pair correlations
    of four lineitem measures ride a single partial-aggregated pass —
    the feature-redundancy screen.  Oracle: per-pair corr() in SQL."""
    from recover_spark.operators.analytics import correlation_matrix

    lineitem = _load(spark, sf_dir, "lineitem")
    return correlation_matrix(
        lineitem,
        ["l_discount", "l_extendedprice", "l_quantity", "l_tax"],
    ).orderBy("col_a", "col_b")


def q_v9_drift_ks_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN did it drift (quality/drift.py:ks_drift_by_period): a
    per-month KS series of the post-cut shipment era against the
    frozen pre-cut baseline, evaluated on the baseline's quantile grid
    — both sides bin map-side against the broadcast edges, cumulative
    sums run over the bounded (periods x columns x grid) frame, and
    the statistic stays integer until one division.
    ``edge_accuracy=None`` (exact interpolated edges) is gate plumbing
    so the DuckDB oracle computes identical cutpoints, same note as
    v5_drift_psi; production default is the approx sketch."""
    from recover_spark.quality.drift import ks_drift_by_period

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut)).withColumn(
        "__month", F.date_format("l_shipdate", "yyyy-MM")
    )
    return ks_drift_by_period(
        base, cur, ["l_extendedprice", "l_quantity"], "__month",
        n_grid=10, edge_accuracy=None,
    ).orderBy("period", "column")


def q_v8_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity expectation
    (quality/expectations.py:referential_integrity): one clean foreign
    key (lineitem.l_orderkey -> orders, zero orphans by construction)
    and one deliberately-violated mapping (events.user_id ->
    customer.c_custkey, where user 0 has no customer) — an orphaned
    key keeps every per-table COUNT audit green while breaking every
    downstream join, which is exactly the blind spot this check
    exists for.  Oracle: the NOT-EXISTS orphan count per check."""
    from recover_spark.quality.expectations import referential_integrity

    lineitem = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    events = _load(spark, sf_dir, "events")
    customer = _load(spark, sf_dir, "customer")
    a = referential_integrity(
        lineitem, orders, ["l_orderkey"], ["o_orderkey"],
        check_name="lineitem_orders",
    )
    b = referential_integrity(
        events, customer, ["user_id"], ["c_custkey"],
        check_name="events_customer",
    )
    return a.unionByName(b).orderBy("check")


def q_v7_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift
    (quality/drift.py:ks_drift): sup-distance between the two eras'
    empirical CDFs per column — the binning-free companion to the PSI
    monitor (a narrow spike a 10-bin PSI averages away moves KS).
    Global ECDF cumsums decompose into approx-quantile value buckets +
    per-bucket windows + a broadcast offset frame (the
    global_row_numbers pattern) — no single-partition window; the
    statistic stays INTEGER (|cum_a*N_b - cum_b*N_a|) until one final
    division, so the naive-window oracle matches bit-for-bit."""
    from recover_spark.quality.drift import ks_drift

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut))
    return ks_drift(
        base, cur, ["l_extendedprice", "l_quantity", "l_discount"]
    ).orderBy("column")


def q_v6_drift_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-column drift (quality/drift.py:psi_drift_categorical):
    return-flag and line-status share shifts between the same two export
    eras — each baseline top-k category is a bin, unseen/renamed
    categories land in __other instead of disappearing silently.  No
    quantile interpolation, so no tied-value hazard; the oracle is the
    identical top-k-and-pool binning in SQL."""
    from recover_spark.quality.drift import psi_drift_categorical

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut))
    return psi_drift_categorical(
        base, cur, ["l_returnflag", "l_linestatus"]
    ).orderBy("column")


def q_agg_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier
    (operators/analytics.py:skyline_2d): the parts no other part beats
    on BOTH price and size.  Local frontiers per hash bucket (one
    exchange, bucket-sized sorts) then a final pass over the thinned
    union — never a global sort of the data; frontiers compose because
    domination is transitive.  Oracle: the NOT EXISTS domination
    definition itself."""
    from recover_spark.operators.analytics import skyline_2d

    part = _load(spark, sf_dir, "part")
    return skyline_2d(part, "p_retailprice", "p_size").orderBy(
        "p_retailprice"
    )


def q_agg_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level quantile rollup via mergeable KLL sketches
    (operators/analytics.py:approx_quantile_rollup): daily value
    sketches merge upward to per-event-type percentiles — the coarse
    level aggregates |fine groups| sketch binaries, never re-scanning
    the fact (exact two-level percentiles would cost two full value
    shuffles; quantile partials are not summable, sketches are).
    Hashed via the tolerance-flag pattern (VERDICT r6 #4): the exact
    counts hash against the oracle; each merged-KLL quantile estimate
    folds into an in-plan boolean pinned by the sketch's own RANK
    contract (fraction of values strictly below the estimate <= r +
    eps, at-or-below >= r - eps, eps = 3x the ~1.65% k=200 rank
    error).  The oracle emits literal TRUE per flag."""
    from recover_spark.operators.analytics import approx_quantile_rollup

    events = _load(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    roll = approx_quantile_rollup(
        events,
        group_cols=["event_type"],
        rollup_col="day",
        value_col="value",
    )
    ranks = {"p50": 0.50, "p95": 0.95, "p99": 0.99}
    eps = 0.05
    fr = (
        events.join(
            F.broadcast(roll.select("event_type", *ranks)), "event_type"
        )
        .groupBy("event_type")
        .agg(
            *[
                F.avg((F.col("value") < F.col(c)).cast("int")).alias(
                    f"__lt_{c}"
                )
                for c in ranks
            ],
            *[
                F.avg((F.col("value") <= F.col(c)).cast("int")).alias(
                    f"__le_{c}"
                )
                for c in ranks
            ],
        )
    )
    return (
        roll.join(fr, "event_type")
        .select(
            "event_type",
            "n_rows",
            "n_fine_groups",
            *[
                (
                    (F.col(f"__lt_{c}") <= F.lit(min(1.0, r + eps)))
                    & (F.col(f"__le_{c}") >= F.lit(r - eps))
                ).alias(f"{c}_rank_ok")
                for c, r in ranks.items()
            ],
        )
        .orderBy("event_type")
    )


def q_v11_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit (Benford) conformance screen
    (quality/drift.py:benford_screen): the forensic check for
    measured, scale-spanning quantities — a vendor switching cents
    for dollars or backfilling a constant shifts the leading-digit
    histogram long before a range check fires.  l_extendedprice
    (spans magnitudes) sits near the Benford curve; l_quantity
    (bounded 1-50) legitimately fails — the screen is a flag for
    review, not a gate, and the pair demonstrates both readings.
    First digits extract map-side via floor(v / 10^floor(log10 v)) —
    exact for positive doubles in both engines (log10 of exact powers
    of ten is exact) — and all columns ride ONE (column, digit)
    aggregate.  Oracle: the identical extraction and folds."""
    from recover_spark.quality.drift import benford_screen

    lineitem = _load(spark, sf_dir, "lineitem")
    return benford_screen(
        lineitem, ["l_extendedprice", "l_quantity"]
    ).orderBy("column")


def q_ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen
    (operators/temporal.py:mad_anomalies): the modified z-score
    0.6745*(x - median)/MAD flagged beyond 3.5 — run FIRST on an
    untrusted export because mean/stddev break exactly when outliers
    are present (a spike inflates sigma and masks itself; the median
    tolerates up to half the data corrupt).  Two grouped exact
    percentiles + two key joins; medians round to 9 digits (the
    interpolation tie pin).  Oracle: quantile_cont twice + the same
    guarded division."""
    from recover_spark.operators.temporal import mad_anomalies

    events = _load(spark, sf_dir, "events")
    return mad_anomalies(
        events.select("event_type", "value"), ["event_type"], "value"
    ).orderBy("event_type", "value")


def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal concentration screen
    (operators/analytics.py:distribution_entropy): per event type, the
    Shannon entropy (bits) of its hour-of-day distribution plus the
    normalized form in [0,1] — even usage scores near 1, a type that
    only fires in one hour near 0; the concentration failure the
    null-rate and distinct-count audits both miss.  One (type, hour)
    aggregate + a group-sized fold; the category table is
    vocabulary-sized.  Oracle: the same counts and folds in SQL."""
    from recover_spark.operators.analytics import distribution_entropy

    events = _load(spark, sf_dir, "events")
    return distribution_entropy(
        events, ["event_type"], F.hour(F.col("ts"))
    ).orderBy("event_type")


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus n-gram novelty
    (ops/text_analysis.py:ngram_novelty): per document, the fraction
    of its distinct 3-gram shingles unique to it and the fraction in
    >= 5 documents — the corpus-level complement to pair dedup
    (templated/spun text shares shingles with hundreds of documents
    while no single pair crosses a dedup threshold).  One distinct
    shingle pass, one shingle-keyed df aggregate, one 1:1 join back
    (no stop-shingle quadratic blowup — each (doc, shingle) row meets
    exactly one df row), one doc fold.  Oracle: the shared
    toks/grams CTEs with the identical folds."""
    from recover_spark.ops.text_analysis import ngram_novelty

    docs = _load(spark, sf_dir, "documents")
    return ngram_novelty(docs, boilerplate_df=5).orderBy("doc_id")


def q_retrieval_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval fused by RRF
    (ops/retrieval.py:rrf_fuse): query-by-example for documents 0-2 —
    the dense side ranks by embedding cosine (brute_force_topk, the
    ann_topk contract), the lexical side by Okapi BM25 with the query
    document's own text (bm25_topk, the text_bm25 contract) — merged
    with reciprocal-rank fusion, the score-scale-free standard
    (incomparable BM25/cosine scales never mix; only ranks do).
    Fusion is candidate-list-sized: one groupBy (query, doc) + one
    query-keyed window; the corpus-scale work stays in the upstream
    rankers.  Oracle: both rankers' SQL twins UNION ALLed through the
    identical RRF fold."""
    from recover_spark.ops import brute_force_topk
    from recover_spark.ops.retrieval import rrf_fuse
    from recover_spark.ops.text_analysis import bm25_topk

    docs = _load(spark, sf_dir, "documents")
    emb = _load(spark, sf_dir, "embeddings")
    dense = brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=20).select(
        F.col("query_vec_id").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rank",
    )
    lex = bm25_topk(
        docs,
        docs.filter(F.col("doc_id") < 3).select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("query_text"),
        ),
        k=20,
    ).select("query_id", "doc_id", "rank")
    return rrf_fuse([dense, lex], k0=60, top_k=10).orderBy(
        "query_id", "rank"
    )


def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget mix assembly
    (ops/sampling.py:token_budget_mix): keep each language's documents
    in portable-hash order until its token budget fills — the step
    that turns "4000 en tokens, 1500 each de/fr/es" into a concrete,
    replay-stable document set.  The exclusive prefix sum decomposes
    over hash-range buckets (uniform 60-bit hash, fixed-width ranges)
    so no language ever collapses into one partition; the boundary
    rule (first crosser kept) and hash order reproduce bit-for-bit in
    the oracle's single-window form, equal by prefix-sum
    associativity."""
    from recover_spark.ops.sampling import token_budget_mix

    docs = _load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9']+"),
        lambda t: t != "",
    )
    with_tokens = docs.select(
        "doc_id", "lang", F.size(toks).cast("bigint").alias("n_tokens")
    )
    out = token_budget_mix(
        with_tokens,
        "doc_id",
        "lang",
        "n_tokens",
        {"en": 4000, "de": 1500, "fr": 1500, "es": 1500},
    )
    return out.select("doc_id", "lang", "n_tokens", "tokens_before").orderBy(
        "lang", "doc_id"
    )


def q_ts_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 1-D Kalman filter, local-level model
    (operators/temporal.py:kalman_filter): adaptive-gain denoising the
    fixed-alpha EWMA approximates — P_pred = P+q, K = P_pred/(P_pred+r),
    x += K(z-x), initialized at the first observation with P = r.  The
    rational P-update breaks the affine-scan trick, so each series
    folds through ONE Catalyst aggregate over its sorted value array
    (JVM-side, no UDF, one key shuffle, loud max_points guard); the
    oracle replays the identical op order as a lockstep recursive
    CTE."""
    from recover_spark.operators.temporal import kalman_filter

    events = _load(spark, sf_dir, "events")
    out = kalman_filter(
        events,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        process_var=0.5,
        obs_var=4.0,
        tiebreakers=["event_id"],
    )
    return out.select(
        "user_id",
        _ts(F.col("ts"), "ts"),
        "event_id",
        "value",
        "x_filtered",
    ).orderBy("user_id", "ts", "event_id")


def q_ts_kalman_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTS smoother over the local-level Kalman pair
    (operators/temporal.py:kalman_smoother): the backward pass that
    conditions every estimate on the WHOLE series — x_s[t] = x_f[t] +
    C_t (x_s[t+1] - x_f[t]), C_t = P_f[t]/(P_f[t]+q).  Both passes are
    Catalyst folds over each key's sorted array (forward carries
    (x, P), backward runs over the reversed pair array); ONE key
    shuffle, no UDF.  Oracle: forward + anchored-backward lockstep
    recursive CTEs with identical op order."""
    from recover_spark.operators.temporal import kalman_smoother

    events = _load(spark, sf_dir, "events")
    out = kalman_smoother(
        events,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        process_var=0.5,
        obs_var=4.0,
        tiebreakers=["event_id"],
    )
    return out.select(
        "user_id",
        _ts(F.col("ts"), "ts"),
        "event_id",
        "value",
        "x_filtered",
        "x_smoothed",
    ).orderBy("user_id", "ts", "event_id")


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (ops/graph.py:hits) over the DIRECTED
    customer->supplier trade graph: hubs = broad high-quality buyers,
    authorities = the suppliers strong buyers concentrate on — the
    directed-duality signal PageRank's single stationary mass cannot
    express.  6 power iterations, each half-step ONE edge-score
    equi-join + a receiving-endpoint sum (never a window), L2 norms as
    one-row broadcast aggregates, lazy checkpoints bound lineage.
    Oracle: the same 6 iterations unrolled as chained CTEs."""
    from recover_spark.ops.graph import hits

    lineitem = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    edges = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    out = hits(edges, iterations=6)
    return out.orderBy("node")


def q_graph_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE parity (ops/graph.py:hierarchy_paths): root,
    depth, and materialized root-to-node path for every node of a
    customer hierarchy (parent = custkey div 7; custkeys under 7 are
    roots) via POINTER DOUBLING — ancestor hops double per round, so
    O(log depth) self-joins replace the per-level loop Spark cannot
    express natively; cyclic input raises instead of spinning.
    Oracle: the literal recursive CTE."""
    from recover_spark.ops.graph import hierarchy_paths

    cust = _load(spark, sf_dir, "customer")
    nodes = cust.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") < 7, F.lit(None).cast("long"))
        .otherwise(F.expr("c_custkey DIV 7"))
        .alias("parent"),
    )
    out = hierarchy_paths(nodes)
    return out.orderBy("node")


def q_text_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (ops/text_analysis.py:
    kneser_ney_bigrams): absolute discounting with the held-out mass
    re-invested through continuation probability — the Chen-Goodman
    benchmark smoothing, upgrading the Stupid-Backoff scorer.  One
    vocab-sized bigram shuffle; every derived table (context totals,
    fan-outs, continuation counts) re-aggregates it at vocab size;
    corpus read once, no UDF."""
    from recover_spark.ops.text_analysis import kneser_ney_bigrams

    docs = _load(spark, sf_dir, "documents")
    out = kneser_ney_bigrams(docs, discount=0.75, min_count=5)
    return out.orderBy("w1", "w2")


def q_sample_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-capped mixture allocation (ops/sampling.py:
    epoch_capped_mix) — data-constrained scaling semantics: split a
    12k-token budget across five sources by weight, cap every source
    at 2 epochs of its available tokens, re-split capped surplus
    across the uncapped rest until the fixpoint (<= n_sources rounds).
    All allocation arithmetic is bigint floor division, so the DuckDB
    recursive-CTE twin reproduces every round bit-for-bit; the
    per-source token totals are one map-side-combined aggregate whose
    cardinality is the corpus taxonomy, never rows."""
    from recover_spark.ops.sampling import epoch_capped_mix

    docs = _load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9']+"),
        lambda t: t != "",
    )
    with_tokens = docs.select(
        "doc_id", "source", F.size(toks).cast("bigint").alias("n_tokens")
    )
    out = epoch_capped_mix(
        with_tokens,
        "source",
        "n_tokens",
        {"src0": 50, "src1": 20, "src2": 15, "src3": 10, "src4": 5},
        total_budget=12_000,
        max_epochs_num=2,
        max_epochs_den=1,
    )
    return out.orderBy("source")


def q_sample_epoch_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized epoch plan (ops/sampling.py:apply_epoch_plan): the
    sample_epoch_mix allocation turned into the concrete training
    multiset — every doc of a source repeats alloc//available times
    (complete passes) and the portable-hash token prefix of the
    remainder alloc%available repeats once more (token_budget_mix
    boundary rule).  One bounded plan aggregate + one hash-range
    prefix pass + a broadcast copies map; rows with n_copies=0 drop."""
    from recover_spark.ops.sampling import apply_epoch_plan

    docs = _load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9']+"),
        lambda t: t != "",
    )
    with_tokens = docs.select(
        "doc_id", "source", F.size(toks).cast("bigint").alias("n_tokens")
    )
    out = apply_epoch_plan(
        with_tokens,
        "doc_id",
        "source",
        "n_tokens",
        {"src0": 50, "src1": 20, "src2": 15, "src3": 10, "src4": 5},
        total_budget=12_000,
        max_epochs_num=2,
        max_epochs_den=1,
    )
    return out.orderBy("source", "doc_id")


def q_sample_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order (ops/sampling.py:curriculum_order):
    rank documents easy-to-hard by token count into 4 equal stages
    (exact ntile formula on the global rank — integer floor, engine
    agnostic), deterministically hash-shuffled WITHIN each stage.
    Both global rankings run through global_row_numbers'
    approx-quantile range decomposition — a total order without a
    single-partition sort; the second pass orders by a composite
    stage*2^60+hash bigint so its ranges stay balanced."""
    from recover_spark.ops.sampling import curriculum_order

    docs = _load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9']+"),
        lambda t: t != "",
    )
    with_tokens = docs.select(
        "doc_id", F.size(toks).cast("bigint").alias("n_tokens")
    )
    out = curriculum_order(
        with_tokens, key_col="doc_id", difficulty_col="n_tokens",
        n_stages=4,
    )
    return out.orderBy("curriculum_rank")


def q_agg_assoc_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cramér's V over the order/lineitem enum columns
    (operators/analytics.py:association_matrix) — the categorical
    companion to agg_corr_matrix: which flags move together (Pearson
    is meaningless on enums).  All six pairs' contingency cells ride
    ONE shuffle of the fact (per-row pair-struct explode + one
    groupBy); margins, dimensions, and the chi-square fold operate on
    contingency-sized data.  chi2 is hashed as log10(1+chi2) so the
    rounding tolerance is relative across magnitudes (the cov_mag
    convention).  Oracle: per-pair crosstab chi-square in SQL with
    the identical zero-cell closed form."""
    from recover_spark.operators.analytics import association_matrix

    lineitem = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    fact = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    )
    out = association_matrix(
        fact,
        ["l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority"],
    )
    return out.select(
        "col_a",
        "col_b",
        "v_cramer",
        F.round(
            F.log10(F.greatest(F.col("chi2"), F.lit(0.0)) + F.lit(1.0))
            + F.lit(1e-9),
            6,
        ).alias("chi2_mag"),
        "mutual_info",
        "n",
        "r_levels",
        "c_levels",
    ).orderBy("col_a", "col_b")


def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series sample ACF (operators/temporal.py:autocorrelation):
    the hourly event-count series per event_type screened for
    periodicity at lags 1..12 — the question answered BEFORE anyone
    picks a Holt-Winters season length.  All lags ride ONE window
    pass and ONE aggregate via the algebraic expansion of the
    centered products (sum x_t*x_{t-k} etc. are plain mergeable
    partials); hourly counts are exact integers, so both engines
    compute identical moments and the ratio matches bit-for-bit.
    Oracle: the same lag-window algebra per lag in SQL."""
    from recover_spark.operators.temporal import autocorrelation

    events = _load(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return autocorrelation(
        series, ["event_type"], ["hour"], "n_events", max_lag=12
    ).orderBy("event_type", "lag")


def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM change localization
    (operators/temporal.py:cusum_changepoints): WHEN did the hourly
    event-rate level shift — the drift monitors (v5/v7/v10) say THAT
    two eras differ; Page's cumulative sum localizes the shift to an
    hour and catches slow drifts a fixed-window z-score misses.  The
    max(0, .) recurrence is the running-minimum identity, so the
    whole scan is one key-partitioned window exchange.  Oracle: the
    same cumsum/running-min windows in SQL."""
    from recover_spark.operators.temporal import cusum_changepoints

    events = _load(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = cusum_changepoints(
        series, ["event_type"], ["hour"], "n_events",
        slack=0.5, threshold=4.0,
    )
    return out.select(
        "event_type",
        _ts(F.col("hour"), "hour"),
        "n_events",
        "cusum_pos",
        "cusum_neg",
        "is_change",
    ).orderBy("event_type", "hour")


def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series best changepoint by exact SSE reduction
    (operators/temporal.py:changepoint_binary) — the binary-
    segmentation step: WHERE to cut each event type's hourly-rate
    series so within-segment variance drops the most, with the gain
    and the two segment means.  CUSUM (ts_cusum) monitors; this picks
    the retrospective era cut.  One key-partitioned exchange: prefix
    sums and per-key totals share the window sort, argmax on the
    ROUNDED gain (ties -> earliest hour) is a per-key top-1."""
    from recover_spark.operators.temporal import changepoint_binary

    events = _load(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("double").alias("n_events"))
    out = changepoint_binary(
        series, ["event_type"], ["hour"], "n_events", min_segment=24
    )
    return out.select(
        "event_type",
        _ts(F.col("split_hour"), "split_hour"),
        "gain",
        "n_left",
        "n_right",
        "mean_left",
        "mean_right",
    ).orderBy("event_type")


def q_v10_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded drift metrics (quality/drift.py:js_drift): Jensen-
    Shannon divergence (log base 2, [0, 1]) + Hellinger distance of
    the post-cut shipment era against the pre-cut baseline on the
    baseline's quantile bins — the companions to v5_drift_psi whose
    thresholds transfer across columns (PSI is unbounded and its eps
    clamp saturates on empty bins; JS/Hellinger are boundedly
    sensitive there).  Same one-edge-aggregate + map-side-binning
    shape as PSI.  ``edge_accuracy=None`` is gate plumbing for the
    cross-engine oracle, same note as v5_drift_psi.  Oracle: the
    identical exact-percentile binning with the JS/Hellinger folds."""
    from recover_spark.quality.drift import js_drift

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut))
    return js_drift(
        base,
        cur,
        ["l_extendedprice", "l_quantity", "l_discount"],
        n_bins=10,
        edge_accuracy=None,
    ).orderBy("column")


def q_v12_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-Wasserstein drift (quality/drift.py:wasserstein_drift):
    the MEAN CDF gap on the baseline's quantile bins, normalized to
    [0, 1] — the average-shift companion to v7's sup-gap KS (a
    persistent small shift across many bins integrates here where KS
    understates it and PSI's clamp saturates).  Same one-edge-
    aggregate + map-side-binning shape as v5/v10; integer cumulative
    counts until one division.  ``edge_accuracy=None`` is gate
    plumbing for the cross-engine oracle (v5's note)."""
    from recover_spark.quality.drift import wasserstein_drift

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut))
    return wasserstein_drift(
        base,
        cur,
        ["l_extendedprice", "l_quantity", "l_discount"],
        n_bins=10,
        edge_accuracy=None,
    ).orderBy("column")


# State paths of the most recent lifecycle-query run, keyed by query
# name — lets bench.py time each read-side LENS separately (round-9
# verdict #8: one read-side now serves KS/JS/W1, and a single lens's
# regression must not hide in the combined fold).
LAST_STATE_PATHS: dict[str, str] = {}

# -- shared lifecycle state (VERDICT r13 #1/#3) -------------------------------
#
# The drift trio (PSI / KS+JS+W1 / CvM) and the two maintained-ANN gates
# each exercise a LIFECYCLE whose read sides are lenses over one logical
# state.  Building that state once per process per sf_dir and reading it
# through every lens is the module's own design claim ("a new statistic
# costs one metadata-sized fold, never a new stream"; "probe with frozen
# quantizer, retrain out of band") — so the gate now matches the design:
# the first query of a family pays the one construct, the siblings are
# pure reads.  Correctness is untouched: state contents are deterministic
# (additive integer counts; frozen-quantizer codes), each query's RESULT
# is identical to its previous standalone construction, and the oracles
# are unchanged.  Cache keys include the absolute sf_dir so smoke
# (sf0.001), oracle (sf0.01) and bench (sf0.1+) runs never share state.
_SHARED_STATE_CACHE: dict[tuple, object] = {}

_DRIFT_SHARED_COLS = ["l_extendedprice", "l_quantity", "l_discount"]


def _arrival_stream(spark: SparkSession, src: str, schema: str):
    """File-arrival stream for the matview constructs.

    r15 (VERDICT r14 #5, generalized): the staged arrival files fold
    under ONE availableNow trigger instead of ``maxFilesPerTrigger=1``
    — the 4-trigger schedule paid ~1 s of streaming fixed cost per
    extra micro-batch at sf0.1, and every converted matview's merge is
    batch-count-invariant by its own crash-replay contract (additive
    integer counters, IEEE sum partials the read rounds, bottom-k set
    logic on a fixed hash, total-order latest-wins), so one batch over
    the same files produces the same read-lens rows as four (verified:
    oracle hash at the gate SFs plus spark-vs-spark row equality at
    sf0.1, OPTIMIZATION_r15.md).  Multi-batch folding, replay
    idempotence and crash healing stay pinned by the merge_* unit
    tests, which drive explicit batch schedules.  The Misra-Gries topk
    and quantile-sketch views deliberately KEEP per-file triggers:
    their sketch merges are legitimately batching-sensitive.
    """
    return spark.readStream.schema(schema).parquet(src)


def _shared_bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """ONE 12-merge BPE training run per (process, sf_dir) — the
    r14-optimization extension of the shared-lifecycle convention to
    the tokenizer family: ``text_bpe_train``'s result IS the merge
    table, and ``text_bpe_fertility`` re-applies that table to the
    corpus, so the previous layout trained the identical deterministic
    merges twice per bench run (~3 s of pure re-derivation at sf0.1).
    The trainer runs on first demand; the family's first headline
    query (text_bpe_train) carries the construct.  Returns the merge
    tuples (iteration, left, right, merged, weight) in learning
    order."""
    import os

    from recover_spark.ops.bpe import train_bpe

    key = ("bpe12", os.path.abspath(sf_dir))
    cached = _SHARED_STATE_CACHE.get(key)
    if cached is not None:
        return cached
    docs = _load(spark, sf_dir, "documents")
    merges = sorted(
        (
            int(r["iteration"]),
            r["left"],
            r["right"],
            r["merged"],
            int(r["weight"]),
        )
        for r in train_bpe(docs, num_merges=12).collect()
    )
    _SHARED_STATE_CACHE[key] = merges
    return merges


def _shared_text_base_index(spark: SparkSession, sf_dir: str) -> str:
    """ONE inverted text index build (corpus = doc_id % 5 != 0, 16
    term buckets) per (process, sf_dir) — the base artifact both
    ``dedup_cosine_probe`` (probes it as-is) and
    ``dedup_cosine_probe_deleted`` (copies it, then scrubs the copy)
    start from.  The build is deterministic, so a copy of this
    directory is byte-for-byte the index either query would have
    built itself.  Replaces the pre-r14 cross-run /tmp cache with
    per-process state under a uuid dir (each bench/oracle invocation
    rebuilds from the parquet inputs — nothing persists across
    runs)."""
    import os
    import uuid

    from recover_spark.ops.text_index import build_text_index

    key = ("textidx_base", os.path.abspath(sf_dir))
    cached = _SHARED_STATE_CACHE.get(key)
    if isinstance(cached, str) and os.path.isdir(cached):
        return cached
    idx = f"spark-warehouse/textidx_shared/{uuid.uuid4().hex}/idx"
    docs = _load(spark, sf_dir, "documents")
    build_text_index(
        docs.filter(F.col("doc_id") % 5 != 0), idx, num_buckets=16
    )
    _SHARED_STATE_CACHE[key] = idx
    return idx


def _shared_ivf_index(
    spark: SparkSession, sf_dir: str, pq: bool = False
) -> str:
    """ONE persisted IVF index build (full embeddings corpus,
    n_centroids=8) per (process, sf_dir), with the PQ sidecar added on
    first demand — the shared base artifact all eight persisted-index
    probe queries start from.  The build is deterministic, so sharing
    cannot move a probe row.

    r14 optimization-round cleanup: this REPLACES the pre-r14
    ``spark-warehouse/ivf_index_<sf>`` build-once-rebuild-never path,
    whose artifact survived ACROSS engine invocations (the same
    cross-run-cache shape whose /tmp text-index instance was removed
    when ``_shared_text_base_index`` landed).  The index now lives
    under a per-process uuid dir: every bench/oracle invocation
    rebuilds it from the parquet inputs exactly once, and the first
    probe query of the run carries that one honest build."""
    import os
    import uuid

    from recover_spark.ops.similarity import (
        build_ivf_index,
        build_pq_sidecar,
    )

    key = ("ivf_base", os.path.abspath(sf_dir))
    idx = _SHARED_STATE_CACHE.get(key)
    if not (isinstance(idx, str) and os.path.isdir(idx)):
        idx = f"spark-warehouse/ivf_shared/{uuid.uuid4().hex}/idx"
        emb = _load(spark, sf_dir, "embeddings")
        build_ivf_index(emb, idx, n_centroids=8)
        _SHARED_STATE_CACHE[key] = idx
    if pq and not _pq_ready(idx):
        build_pq_sidecar(spark, idx)
    return idx


def _shared_semantic_clusters(spark: SparkSession, sf_dir: str) -> str:
    """ONE embedding near-dup clustering run per (process, sf_dir) —
    the shared-lifecycle convention extended to the semantic-cluster
    family: ``dedup_semantic_clusters``'s result (vec_id, cluster) is
    the exact input ``dedup_cluster_histogram`` and
    ``dedup_cluster_split`` aggregate over, and all three previously
    re-ran the LSH-pair + pointer-doubling-CC fixpoint independently
    (~6 s each at sf0.1).  The assignment is deterministic (min-label
    components over deterministic hyperplane buckets), so sharing
    cannot move a row of any of the three.  Persisted as parquet under
    a per-process uuid dir (never reused across runs); the family's
    first headline query (dedup_semantic_clusters) carries the
    construct."""
    import os
    import uuid

    from recover_spark.ops import (
        connected_components,
        embedding_near_duplicates,
    )

    key = ("semclusters", os.path.abspath(sf_dir))
    cached = _SHARED_STATE_CACHE.get(key)
    if isinstance(cached, str) and os.path.isdir(cached):
        return cached
    out_dir = f"spark-warehouse/semclusters_shared/{uuid.uuid4().hex}"
    emb = _load(spark, sf_dir, "embeddings")
    # 4 planes (16 buckets): see q_dedup_semantic_clusters' sizing note
    pairs = embedding_near_duplicates(
        emb, threshold=0.45, dim=64, num_planes=4
    )
    comp = connected_components(
        pairs, src="id_a", dst="id_b",
        node_col="vec_id", component_col="cluster",
    )
    (
        emb.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster", F.col("vec_id")).alias("cluster"),
        )
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _SHARED_STATE_CACHE[key] = out_dir
    return out_dir


def _shared_drift_state(spark: SparkSession, sf_dir: str) -> str:
    """ONE drift arrival pipeline per (process, sf_dir): freeze the
    pre-cut era's bin edges + baseline counts over the UNION of the
    columns the three stream_drift_* queries watch, stream the post-cut
    era in as four genuine micro-batches, and return the state path.
    Every lens (PSI, KS, JS, W1, chi2, CvM) is a metadata-sized read
    over this state; per-query column subsets come from the read-side
    ``cols`` parameter, so each query's rows equal its historical
    standalone run exactly (per-column edges are computed independently,
    so freezing an extra column never moves another column's bins)."""
    import os
    import uuid

    from recover_spark.streaming.drift import (
        freeze_drift_baseline,
        maintain_drift_matview,
    )

    key = ("drift", os.path.abspath(sf_dir))
    cached = _SHARED_STATE_CACHE.get(key)
    if isinstance(cached, str) and os.path.isdir(
        os.path.join(cached, "counts")
    ):
        return cached
    run_dir = f"spark-warehouse/drift_shared/{uuid.uuid4().hex}"
    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    cols = _DRIFT_SHARED_COLS
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut)).select(*cols)
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut)).select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    freeze_drift_baseline(
        base, f"{run_dir}/state", cols, n_bins=10, edge_accuracy=None
    )
    src = f"{run_dir}/src"
    cur.repartition(4).write.mode("overwrite").parquet(src)
    # r15 (VERDICT r14 #5): one availableNow trigger — measured 8.54
    # -> 5.56 s on this query; rationale in _arrival_stream.
    stream = _arrival_stream(
        spark, src, ", ".join(f"{c} double" for c in cols)
    )
    q = maintain_drift_matview(stream, f"{run_dir}/state", f"{run_dir}/ckpt")
    q.awaitTermination(300)
    state = f"{run_dir}/state"
    _SHARED_STATE_CACHE[key] = state
    return state


def _shared_calibration_state(spark: SparkSession, sf_dir: str) -> str:
    """ONE calibration arrival pipeline per (process, sf_dir) — the
    VERDICT r13 #1 convention, applied to the calibration trio the way
    ``_shared_drift_state`` applied it to the drift trio: the
    classifier-eval fixture streams in as four genuine micro-batches
    folding (group, bin) label/score sums into persisted state, and
    the brier/ece (``stream_calibration_matview``), isotonic-PAV
    (``stream_isotonic_matview``) and tie-block-AUC
    (``stream_auc_matview``) lenses are each a metadata-sized read
    over this ONE state.  The construct is the identical machinery
    each query ran standalone (same fixture, same keys/bins, same
    4-batch schedule), run once — deterministic, so no lens's rows
    can move."""
    import os
    import uuid

    from recover_spark.streaming.matview import (
        maintain_calibration_matview,
    )

    key = ("calibration", os.path.abspath(sf_dir))
    cached = _SHARED_STATE_CACHE.get(key)
    if isinstance(cached, str) and os.path.isdir(cached):
        return cached
    run_dir = f"spark-warehouse/calib_shared/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    ev = _classifier_eval_fixture(spark, sf_dir).select(
        "event_type", "score", F.col("label").cast("int").alias("label")
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "event_type string, score double, label int",
    )
    q = maintain_calibration_matview(
        stream, f"{run_dir}/state", f"{run_dir}/ckpt",
        ["event_type"], "score", "label", bins=10,
    )
    q.awaitTermination(300)
    state = f"{run_dir}/state"
    _SHARED_STATE_CACHE[key] = state
    return state


def _shared_ann_maintained(spark: SparkSession, sf_dir: str) -> dict:
    """ONE ANN maintenance lifecycle per (process, sf_dir), two probe
    surfaces (VERDICT r13 #3): build the IVF index + PQ sidecar on the
    first half of the corpus (codebooks and centroids train there and
    FREEZE), append the second half in two waves with the PQ sidecar
    appended per wave, snapshot the frozen-quantizer state for the
    PQ-maintained probe, then compact + rebuild the live directory for
    the IVF-maintained probe (rebuild re-extracts every stored vector
    and re-runs the deterministic build, so the rebuilt index equals a
    fresh build over the whole corpus — the ``ann_ivf`` oracle).  Both
    probes' results are unchanged vs the previous isolated lifecycles:
    appends are O(appended) against frozen centroids/codebooks, so one
    wave vs two is file accretion only, and the rebuild starts from the
    same stored vector set either way.  Returns {"ivf": path-after-
    rebuild, "pq": frozen-quantizer snapshot path}."""
    import os
    import shutil
    import tempfile

    from recover_spark.ops.similarity import (
        append_ivf_index,
        append_pq_sidecar,
        build_ivf_index,
        build_pq_sidecar,
        compact_ivf_index,
        rebuild_ivf_index,
    )

    key = ("ann_maint", os.path.abspath(sf_dir))
    cached = _SHARED_STATE_CACHE.get(key)
    if isinstance(cached, dict) and all(
        os.path.isdir(p) for p in cached.values()
    ):
        return cached
    emb = _load(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="recover_ann_maint_")
    idx = f"{root}/ivf"
    # wave split point from parquet FOOTER metadata (r15): the exact
    # row count the old emb.count() job computed, read driver-side in
    # milliseconds — footers are metadata at any scale
    import pyarrow.dataset as _pads

    n = _pads.dataset(
        os.path.join(sf_dir, "embeddings.parquet")
    ).count_rows()
    half, q3 = n // 2, (3 * n) // 4
    build_ivf_index(emb.filter(F.col("vec_id") < half), idx, n_centroids=8)
    build_pq_sidecar(spark, idx)
    wave1 = emb.filter((F.col("vec_id") >= half) & (F.col("vec_id") < q3))
    wave2 = emb.filter(F.col("vec_id") >= q3)
    # Per wave, the vector append (index_path/list=) and the code
    # append (_pq/codes/list=) are independent writes to disjoint
    # directories from the same frozen quantizers — overlap them
    # (guide §2.6) so each wave pays one job's wall, not two; wave 2
    # still strictly follows wave 1 (arrival order is the scenario).
    from concurrent.futures import ThreadPoolExecutor

    for wave in (wave1, wave2):
        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(append_ivf_index, wave, idx)
            fb = pool.submit(append_pq_sidecar, spark, wave, idx)
            fa.result()
            fb.result()
    # frozen-quantizer snapshot: the PQ-maintained probe reads the
    # index AS MAINTAINED (no retrain) — tiny dir copy, geometry-sized
    pq_idx = f"{root}/ivf_pq"
    shutil.copytree(idx, pq_idx)
    compact_ivf_index(spark, idx)
    rebuild_ivf_index(spark, idx)
    paths = {"ivf": idx, "pq": pq_idx}
    _SHARED_STATE_CACHE[key] = paths
    return paths


def q_stream_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS/JS/Wasserstein drift-on-arrival (streaming/drift.py:
    read_drift_ks, read_drift_js, read_drift_wasserstein): the SAME
    frozen-baseline/accumulated-counts state
    the PSI matview maintains, read through two more lenses — no
    extra stream, no extra state, which is the point: one arrival
    pipeline maintains integer binned counts, and every drift
    statistic is a metadata-sized read-side fold.  Grid-KS stays
    integer (cross-multiplied cumulative counts) until one division,
    so the streamed value is bit-identical to batch binning of the
    union; JS shares divide once at read.  Baseline freeze uses
    exact edges (gate plumbing, same note as stream_drift_psi).
    Oracle: batch SQL computing both statistics over the same
    split.  The arrival state is the ONE shared pipeline
    (_shared_drift_state, VERDICT r13 #1); this query reads the
    two-column subset it has always watched — per-column edges are
    independent, so the extra frozen column (l_discount, the PSI
    query's) never moves these rows."""
    from recover_spark.streaming.drift import (
        read_drift_js,
        read_drift_ks,
        read_drift_wasserstein,
    )

    state = _shared_drift_state(spark, sf_dir)
    cols = ["l_extendedprice", "l_quantity"]
    LAST_STATE_PATHS["stream_drift_ks"] = state
    ks = read_drift_ks(spark, state, cols=cols)
    js = read_drift_js(spark, state, cols=cols).select(
        "column", "js", "hellinger"
    )
    # round 9: the Wasserstein read-side rides the SAME state — the
    # whole point of the one-arrival-pipeline design is that a new
    # statistic costs one metadata-sized fold, not a new stream
    wd = read_drift_wasserstein(spark, state, cols=cols).select(
        "column", "wasserstein"
    )
    return ks.join(js, "column").join(wd, "column").orderBy("column")


def q_emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA's moments pass (ops/pca.py:embedding_covariance):
    the d x d upper-triangle sample covariance of the embedding column
    via per-partition numpy GEMM partials — ONE fact scan, the shuffle
    carries O(partitions * d^2) aggregate rows.  The eigensolve +
    projection ride pytest (numpy reference); the covariance is the
    distributed piece and hashes against the SQL oracle."""
    from recover_spark.ops.pca import embedding_covariance

    emb = _load(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, "embedding", dim=64).orderBy("i", "j")


_PCA_FIXTURE_CACHE: dict[tuple[str, int], tuple] = {}


def _pca_fixture_components(sf_dir: str, k: int = 4):
    """Deterministic (mean, components, mu_dot_w) model artifact for
    the projection-parity query: moments accumulated in one numpy pass
    over the fixture parquet (driver-side and fixture-bounded — the
    DISTRIBUTED covariance is pinned separately by `emb_pca`, the
    eigensolve by pytest goldens), then the package's own sign-fixed
    eigensolve tail (ops/pca.py:components_from_moments), so the
    constants equal what pca_fit would produce from the same moments.
    Cached per (sf_dir, k): the Spark query and the SQL oracle read
    the SAME arrays, making the component matrix a shared constant
    rather than something each engine re-derives."""
    key = (sf_dir, k)
    if key not in _PCA_FIXTURE_CACHE:
        import os as _os

        import duckdb
        import numpy as np

        from recover_spark.ops.pca import components_from_moments

        path = f"{sf_dir}/embeddings.parquet"
        if _os.path.isdir(path):  # Spark-written tables are folders
            path = f"{path}/*.parquet"
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT embedding FROM '{path}'"
        ).fetchall()
        con.close()
        x = np.asarray([r[0] for r in rows], dtype=np.float64)
        mean, comps, vals = components_from_moments(
            x.T @ x, x.sum(axis=0), float(len(x)), k
        )
        # whitened components: each axis scaled to unit variance —
        # same linearity lets the scale fold into the vectors, so the
        # projection operator is reused unchanged
        wcomps = np.asarray(
            [comps[c] / np.sqrt(max(float(vals[c]), 1e-12)) for c in range(k)]
        )

        def _mu_dots(cs):
            return [
                float(sum(m * w for m, w in zip(mean, comp))) for comp in cs
            ]

        _PCA_FIXTURE_CACHE[key] = {
            "mean": mean,
            "comps": comps,
            "mu_dot_w": _mu_dots(comps),
            "wcomps": wcomps,
            "mu_dot_ww": _mu_dots(wcomps),
        }
    return _PCA_FIXTURE_CACHE[key]


def q_emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection (ops/pca.py:pca_project) against a
    shared component fixture: the (k x d) matrix broadcasts as ONE
    row of array columns and each score is a JVM-side
    ``aggregate(zip_with(x, w, *))`` fold — no Python in the per-row
    path.  The oracle inlines the SAME component constants as explicit
    term sums, so this query pins the projection operator end-to-end
    (round-8 verdict task #7; the eigensolve stays pytest-pinned)."""
    from recover_spark.ops.pca import pca_project

    fx = _pca_fixture_components(sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    k = len(fx["comps"])
    return pca_project(emb, fx["mean"], fx["comps"], "embedding").select(
        "vec_id", *[f"pc{c}" for c in range(k)]
    ).orderBy("vec_id")


def q_emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitening projection: the same JVM-side fold as
    emb_pca_project with the component vectors pre-scaled to unit
    variance (1/sqrt(eigenvalue) folds into the broadcast constants —
    the decorrelate-and-normalize step before cosine kNN or k-means
    on embeddings).  Oracle inlines the SAME whitened constants."""
    from recover_spark.ops.pca import pca_project

    fx = _pca_fixture_components(sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    k = len(fx["wcomps"])
    return pca_project(
        emb, fx["mean"], fx["wcomps"], "embedding", out_prefix="wpc"
    ).select("vec_id", *[f"wpc{c}" for c in range(k)]).orderBy("vec_id")


def _pca_project_oracle_sql(
    sf_dir: str = SF_ORACLE, whiten: bool = False
) -> str | None:
    """Oracle twin of q_emb_pca_project / q_emb_whiten: each score
    column is the explicit left-to-right term sum x_1*w_1 + ... +
    x_d*w_d minus the precomputed <mu, w> — the SAME add sequence as
    Spark's zip_with fold, so the doubles are bit-identical before
    the shared round-and-neutralize tail.  Returns None when the
    fixture parquet is absent (the key is then omitted -> rows-only
    check)."""
    import os

    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        return None
    fx = _pca_fixture_components(sf_dir)
    comps = fx["wcomps"] if whiten else fx["comps"]
    mu = fx["mu_dot_ww"] if whiten else fx["mu_dot_w"]
    prefix = "wpc" if whiten else "pc"
    cols = []
    for c, comp in enumerate(comps):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {w!r}"
            for i, w in enumerate(comp)
        )
        cols.append(
            f"round(({terms}) - {mu[c]!r} + 1e-9, 6) + 0.0 AS {prefix}{c}"
        )
    return (
        "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"
    )


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the order/part bipartite graph (ops/graph.py:k_core):
    iterative peeling to the 6-core — at sf0.01 the cascade runs 9
    rounds deep (removing sparse orders drops part degrees, which
    removes parts, which...).  Oracle: 14 unrolled peel rounds (extra
    rounds past the fixpoint are identity, so a fixed-depth oracle
    equals the engine's converge-then-stop)."""
    from recover_spark.ops.graph import k_core

    li = _load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    ).distinct()
    return k_core(edges, k=6).orderBy("node")


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the order/part graph
    (ops/graph.py:degree_assortativity): Pearson over symmetrized
    endpoint degrees — one degree aggregate, two equi-joins, one
    scalar fold; strongly negative on a bipartite hub structure."""
    from recover_spark.ops.graph import degree_assortativity

    li = _load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    ).distinct()
    return degree_assortativity(edges)


def q_agg_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order/brand baskets
    (operators/analytics.py:basket_lift): which brands travel together
    more than independence predicts.  Pair generation is a basket-keyed
    equi-join bounded by max_basket_size; margins broadcast."""
    from recover_spark.operators.analytics import basket_lift

    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return basket_lift(
        baskets, "basket", "item", min_pair_count=10
    ).orderBy("item_a", "item_b")


def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil-Sen robust trend of event value over days
    (operators/temporal.py:theil_sen_trend): the breakdown-resistant
    drift line OLS cannot give on corrupt exports.  x is whole seconds
    over 86400.0 — well-conditioned and identical in both engines."""
    from recover_spark.operators.temporal import theil_sen_trend

    ev = _load(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_timestamp("ts") / F.lit(86400.0)).alias("day"),
        "value",
    )
    return theil_sen_trend(ev, ["user_id"], "value", "day").orderBy(
        "user_id"
    )


def q_retention_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival per signup cohort
    (operators/analytics.py:survival_curve): subjects are (user,
    event_type) engagement spells — duration = days between a user's
    first and last event of that type, the spell "dies" only when its
    last occurrence predates the dataset horizon by 3+ days, else it
    is right-censored (still alive at cutoff), which
    `retention_cohorts` cannot express.  The fact collapses to
    subject rows (one shuffle), then to (type, duration) counts, so
    the KM ordered pass runs over the day grid, never over users."""
    from recover_spark.operators.analytics import survival_curve

    ev = _load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("sec")
    )
    per_subject = ev.groupBy("user_id", "event_type").agg(
        F.min(F.floor(F.col("sec") / F.lit(86400))).alias("first_day"),
        F.max(F.floor(F.col("sec") / F.lit(86400))).alias("last_day"),
        F.max("sec").alias("last_sec"),
    )
    horizon = ev.agg(F.max("sec").alias("max_sec"))
    subjects = per_subject.crossJoin(F.broadcast(horizon)).select(
        "event_type",
        (F.col("last_day") - F.col("first_day")).alias("duration"),
        (F.col("last_sec") <= F.col("max_sec") - F.lit(3 * 86400))
        .cast("int")
        .alias("observed"),
    )
    return survival_curve(
        subjects, ["event_type"], "duration", "observed"
    ).orderBy("event_type", "duration")


def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Gini concentration of order value
    (operators/analytics.py:gini_by_group): the rank identity
    computed WITHOUT a per-group ordered window — ranks decompose
    over value-quantile buckets exactly as in win_global_rownum, so
    the fact shuffles once on a key strictly finer than the group."""
    from recover_spark.operators.analytics import gini_by_group

    orders = _load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return gini_by_group(
        orders, ["o_orderpriority"], "o_totalprice"
    ).orderBy("o_orderpriority")


def q_agg_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Welch's t-test between the even/odd user cohorts
    (operators/analytics.py:welch_ttest): the A/B experiment readout
    as ONE mergeable aggregate — conditional count/avg/var_samp per
    variant, fact shuffled once on the group key."""
    from recover_spark.operators.analytics import welch_ttest

    ev = _load(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2).alias("variant"), "value"
    )
    return welch_ttest(
        ev, ["event_type"], "variant", "value", 0, 1
    ).orderBy("event_type")


def q_agg_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority trimmed and winsorized means of order value
    (operators/analytics.py:trimmed_group_stats): exact ranks via the
    same bucket decomposition as agg_gini — one fact shuffle on
    (group, bucket), clamps picked up as conditional aggregates in
    the single final pass (never a second fact scan)."""
    from recover_spark.operators.analytics import trimmed_group_stats

    orders = _load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return trimmed_group_stats(
        orders, ["o_orderpriority"], "o_totalprice", trim=0.1
    ).orderBy("o_orderpriority")


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram collocations by PMI
    (ops/text_analysis.py:collocation_pmi): bigrams zip map-side, ONE
    fact shuffle counts pairs, margins and the total derive from the
    checkpoint-pinned count table."""
    from recover_spark.ops.text_analysis import collocation_pmi

    docs = _load(spark, sf_dir, "documents")
    return collocation_pmi(docs, "text", min_pair_count=5).orderBy(
        "w1", "w2"
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SCD2 dimension history from the event change log
    (operators/merge.py:scd2_build): each user's event_type
    transitions as versioned [valid_from, valid_to) rows — one key
    shuffle, three windows sharing the same exchange+sort."""
    from recover_spark.operators.merge import scd2_build

    ev = _load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
    )
    return scd2_build(
        ev, ["user_id"], ["event_type"], ["sec", "event_id"], ts_col="sec"
    ).orderBy("user_id", "version")


def q_retrieval_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation harness (ops/retrieval.py:rank_metrics): score a
    per-nation supplier ranking (top-10 by account balance) against
    binary labels (balance > 5000) — nDCG@10, MRR, precision, recall
    per query, everything candidate-list-sized."""
    from pyspark.sql import Window

    from recover_spark.ops.retrieval import rank_metrics

    sup = _load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    runs = (
        sup.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            F.col("s_nationkey").alias("query_id"),
            F.col("s_suppkey").alias("doc_id"),
            "rank",
        )
    )
    qrels = sup.filter(F.col("s_acctbal") > 5000).select(
        F.col("s_nationkey").alias("query_id"),
        F.col("s_suppkey").alias("doc_id"),
        F.lit(1).alias("rel"),
    )
    return rank_metrics(runs, qrels, k=10).orderBy("query_id")


def q_agg_ab_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event type between the even/odd user
    cohorts (operators/analytics.py:prop_ztest), success = value > 50
    — one conditional aggregate, same shape as agg_ab_welch."""
    from recover_spark.operators.analytics import prop_ztest

    ev = _load(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("value").isNotNull(), (F.col("value") > 50)).alias(
            "success"
        ),
    )
    return prop_ztest(
        ev, ["event_type"], "variant", "success", 0, 1
    ).orderBy("event_type")


def q_stream_upsert_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert, run FOR REAL
    (streaming/matview.py:maintain_upsert_matview): the events change
    log streams through four availableNow micro-batches and folds
    into a keyed latest-state snapshot (latest-wins on (ts,
    event_id) per user — the W1 rule applied incrementally, so
    replays and out-of-order arrivals cannot regress state).  Oracle:
    the plain batch latest-record query — incremental maintenance
    must be invisible in the result."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_upsert_matview,
        read_upsert_matview,
    )

    run_dir = f"spark-warehouse/matview_upsert_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    events = _load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_timestamp("ts").alias("sec"),
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "event_id long, user_id long, event_type string, " "value double, sec long",
    )
    q = maintain_upsert_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        ["user_id"],
        ["sec", "event_id"],
    )
    q.awaitTermination(300)
    return read_upsert_matview(spark, f"{run_dir}/state").select(
        "user_id", "event_id", "event_type", "value", "sec"
    ).orderBy("user_id")


def q_mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot-boundary detection (ops/multimodal.py:scene_cuts):
    consecutive sampled frames' hash Hamming distance opens a cut past
    the threshold; one media-keyed window, JVM bit_count(xor).  Frame
    hashes ride the deterministic digest stub (the mm family's
    kernel contract), so the oracle reproduces the whole pipeline."""
    from recover_spark.ops.multimodal import sample_video_frames, scene_cuts

    docs = _load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("video/mp4").alias("mime_type"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("doc_id") % 7) * 1500 + 500)
            .cast("long")
            .alias("duration_ms"),
        ).alias("meta"),
    )
    frames = sample_video_frames(media, every_ms=1000)
    hashed = frames.join(
        docs.select(F.col("doc_id").alias("media_id"), "text"), "media_id"
    ).select(
        "media_id",
        "frame_ts_ms",
        F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat(
                            F.col("text"),
                            F.lit(":"),
                            F.col("frame_ts_ms").cast("string"),
                        ),
                        "UTF-8",
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("frame_hash"),
    )
    return scene_cuts(hashed, max_distance=30).orderBy(
        "media_id", "frame_ts_ms"
    )


def q_agg_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag weighted quantiles of unit price, weighted by
    quantity (operators/analytics.py:weighted_quantiles_by_group):
    cumulative weight decomposes over value-quantile buckets (the
    gini machinery), every q resolves as a conditional min in ONE
    final aggregate.  l_quantity is integer-valued, so the crossing
    comparisons are exact in both engines."""
    from recover_spark.operators.analytics import weighted_quantiles_by_group

    li = _load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return weighted_quantiles_by_group(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        "l_quantity",
        qs=(0.25, 0.5, 0.75, 0.9),
    ).orderBy("l_returnflag")


def q_transform_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score standardization of value
    (operators/analytics.py:standardize): one (mean, stddev) aggregate
    broadcast back onto the fact — map-only after the join, fact-grain
    output."""
    from recover_spark.operators.analytics import standardize

    ev = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = standardize(ev, ["event_type"], "value", broadcast_stats=True)
    return out.select(
        "event_id", "event_type", F.round("value", 6).alias("value"),
        "zscore",
    )


def q_transform_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorizing transform at the exact type-1
    5th/95th percentiles (operators/analytics.py:winsorize): bounds
    from the bucket-decomposed quantile machinery broadcast back,
    clamp map-side, rows preserved."""
    from recover_spark.operators.analytics import winsorize

    ev = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = winsorize(ev, ["event_type"], "value")
    return out.select(
        "event_id", "event_type", F.round("value", 6).alias("value"),
        "winsorized",
    )


def q_stream_auc_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned ROC-AUC served from the SAME incrementally-maintained
    calibration state (streaming/matview.py:read_auc_matview) — the
    third read lens, zero extra state: each score bin is a tie block,
    so the Mann-Whitney tie-block identity over the ordered bins is
    the EXACT AUC of the quantized scores.  Oracle: batch tie-block
    AUC over the same quantization.  The arrival state is the ONE
    shared pipeline (_shared_calibration_state, the VERDICT r13 #1
    convention): this query reads the tie-block-AUC lens."""
    from recover_spark.streaming.matview import read_auc_matview

    state = _shared_calibration_state(spark, sf_dir)
    return read_auc_matview(
        spark, state, ["event_type"]
    ).orderBy("event_type")


def q_v14_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over orders audit columns
    (quality/expectations.py:functional_dependencies): which a -> b
    mappings actually hold — o_orderkey (the key) determines
    everything; nothing determines it back.  k*(k-1) small
    column-pruned aggregates, unioned."""
    from recover_spark.quality.expectations import functional_dependencies

    orders = _load(spark, sf_dir, "orders")
    return functional_dependencies(
        orders, ["o_orderkey", "o_custkey", "o_orderpriority"]
    ).orderBy("determinant", "dependent")


def q_v15_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier flagging of event values per type
    (operators/analytics.py:iqr_outliers): exact type-1 quartiles from
    the bucket-decomposed machinery, fences broadcast back, map-side
    flag — rows preserved."""
    from recover_spark.operators.analytics import iqr_outliers

    ev = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = iqr_outliers(ev, ["event_type"], "value")
    return out.select(
        "event_id", "event_type", F.round("value", 6).alias("value"),
        "lo_fence", "hi_fence", "is_outlier",
    )


def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority distribution-shape moments of order value
    (operators/analytics.py:moments_by_group): two-pass centered
    power sums — group means broadcast back onto the fact, so the
    skew/kurtosis folds never catastrophically cancel the way
    raw-power-sum shortcuts do at |mu| >> sigma."""
    from recover_spark.operators.analytics import moments_by_group

    orders = _load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return moments_by_group(
        orders, ["o_orderpriority"], "o_totalprice", broadcast_stats=True
    ).orderBy("o_orderpriority")


def q_text_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard/containment between sources
    (ops/text_analysis.py:vocabulary_overlap): distinct (source, term)
    vocabulary, sizes folded from it, intersections from ONE
    term-keyed self-equi-join — the mirror-corpus screen."""
    from recover_spark.ops.text_analysis import vocabulary_overlap

    docs = _load(spark, sf_dir, "documents")
    return vocabulary_overlap(docs, "source", "text").orderBy(
        "group_a", "group_b"
    )


def q_v13_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-squared drift of the post-cut shipment era
    against the pre-cut baseline (quality/drift.py:chi2_drift) — the
    fifth drift lens, exposing EFFECT SIZES (phi2, Cramér's V) plus
    exact integer era totals rather than the raw N-scaled statistic
    (the sum-magnitude hashing rule applied at design time).
    ``edge_accuracy=None`` is gate plumbing, same note as
    v5_drift_psi."""
    from recover_spark.quality.drift import chi2_drift

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut))
    return chi2_drift(
        base,
        cur,
        ["l_extendedprice", "l_quantity", "l_discount"],
        n_bins=10,
        edge_accuracy=None,
    ).orderBy("column")


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading ease / FK grade
    (ops/text_analysis.py:readability): regex-counted words,
    sentence runs, vowel-group syllables — map-only, no shuffle."""
    from recover_spark.ops.text_analysis import readability

    docs = _load(spark, sf_dir, "documents")
    return readability(docs, ["doc_id"], "text").orderBy("doc_id")


def q_ts_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type coverage gaps on the hourly grid
    (operators/temporal.py:gap_detect): distinct (key, bucket)
    collapse, generated sequence grid, left-anti join, gaps-and-islands
    run-length over the MISSING buckets only — the outage report
    forward-fill papers over."""
    from recover_spark.operators.temporal import gap_detect

    ev = _load(spark, sf_dir, "events")
    return gap_detect(ev, "event_type", "ts", 3600)


def q_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity — TTR, Guiraud root-TTR, hapax
    share (ops/text_analysis.py:lexical_diversity): one (source, term)
    count aggregate with map-side combine, every statistic folds from
    the vocabulary-sized frame."""
    from recover_spark.ops.text_analysis import lexical_diversity

    docs = _load(spark, sf_dir, "documents")
    return lexical_diversity(docs, ["source"], "text").orderBy("source")


def q_text_keywords_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction per source (ops/text_analysis.py:
    textrank_keywords): PageRank (4 fixed power steps, damping 0.85)
    over the adjacent-co-occurrence term graph of length>=3 tokens —
    the unsupervised keyword surface next to TF-IDF.  One corpus pass
    to the pair aggregate; every iteration is a (source, term)-keyed
    equi-join + mergeable sum over vocabulary-sized frames; top-5 by
    ROUNDED score (term-asc ties)."""
    from recover_spark.ops.text_analysis import textrank_keywords

    docs = _load(spark, sf_dir, "documents")
    return textrank_keywords(
        docs, "source", top_k=5, damping=0.85, iterations=4,
        min_term_len=3,
    )


def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary
    (ops/text_analysis.py:zipf_fit): one vocabulary aggregate, a
    deterministic top-200 by (freq DESC, term ASC), then the existing
    regr_* regression on the 200-row log-log frame."""
    from recover_spark.ops.text_analysis import zipf_fit

    docs = _load(spark, sf_dir, "documents")
    return zipf_fit(docs, "text", top_n=200)


def _classifier_eval_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared classifier-eval fixture: a deterministic [0, 1) score
    (the fractional part of ``value`` — exact and bit-identical across
    engines) against the even-user cohort label, per event type."""
    return _load(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value") - F.floor(F.col("value"))).alias("score"),
        (F.col("user_id") % 2 == 0).alias("label"),
    )


def q_agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mutual information between two derived user
    categoricals (operators/analytics.py:mutual_info_by_group): one
    fact shuffle to contingency cells, margins as windows over the
    vocabulary-sized cell frame, entropies folded in the same final
    aggregate.  mod-5 is a function of mod-10, so MI = H(mod-5) and
    nmi < 1 (H differs across the columns)."""
    from recover_spark.operators.analytics import mutual_info_by_group

    ev = _load(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 5).alias("ua"),
        (F.col("user_id") % 10).alias("ub"),
    )
    return mutual_info_by_group(ev, ["event_type"], "ua", "ub").orderBy(
        "event_type"
    )


def q_agg_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Cohen's kappa between two derived raters
    (operators/analytics.py:cohens_kappa) — chance-corrected
    agreement from one contingency aggregate plus vocabulary-sized
    margin folds.  The second rater shifts by floor(value), so
    agreement is partial and kappa lands strictly between 0 and 1
    on none of the groups (noise-dominated fixture)."""
    from recover_spark.operators.analytics import cohens_kappa

    ev = _load(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 3).alias("ra"),
        (
            (F.col("user_id") + F.floor(F.col("value")).cast("long")) % 3
        ).alias("rb"),
    )
    return cohens_kappa(ev, ["event_type"], "ra", "rb").orderBy(
        "event_type"
    )


def q_dedup_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split at the SEMANTIC-cluster grain
    (ops/sampling.py:cluster_split over dedup_semantic_clusters
    output): embedding near-duplicates can never straddle the split,
    because the md5 hash threshold keys on the cluster id every member
    shares — the step between dedup and packing in a real training
    pipeline.  The assignment is a map-side expression; the corpus
    never shuffles for it.  Reads the ONE shared cluster assignment
    (_shared_semantic_clusters) instead of re-running the LSH + CC
    fixpoint — identical rows, one fixpoint per bench run instead of
    three."""
    from recover_spark.ops import cluster_split

    clustered = spark.read.parquet(
        _shared_semantic_clusters(spark, sf_dir)
    )
    return cluster_split(
        clustered,
        "cluster",
        {"train": 0.9, "test": 0.1},
        salt="semsplit",
    )


def q_agg_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ROC-AUC of a score against a binary label
    (ops/classifier_eval.py:roc_auc_by_group): the Mann-Whitney rank
    statistic made exact under ties by collapsing to the distinct-score
    grain first, with the cumulative-negative count decomposed over
    score-quantile buckets (the gini machinery) — no per-group ordered
    window ever touches fact-sized data."""
    from recover_spark.ops.classifier_eval import roc_auc_by_group

    ev = _classifier_eval_fixture(spark, sf_dir)
    return roc_auc_by_group(ev, ["event_type"], "score", "label").orderBy(
        "event_type"
    )


def q_sample_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 20-document deterministic sample per source
    (ops/sampling.py:group_topk_sample): lowest 20 salted md5 hashes
    per group, ties broken by key — the row_number <= k filter
    compiles to a map-side WindowGroupLimit, so a hot source costs
    its reducer O(k * partitions), never its row share."""
    from recover_spark.ops import group_topk_sample

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return group_topk_sample(docs, ["source"], "doc_id", k=20).orderBy(
        "source", "doc_id"
    )


def q_transform_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rank/ECDF normalization of value
    (operators/analytics.py:rank_normalize): Hazen positions
    (midrank - 0.5)/n from the bucket-decomposed midrank table, the
    fact picks its position up by one (group, value) equi-join —
    output stays fact-grain."""
    from recover_spark.operators.analytics import rank_normalize

    ev = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = rank_normalize(ev, ["event_type"], "value")
    return out.select(
        "event_id", "event_type", F.round("value", 6).alias("value"), "ecdf"
    )


def q_agg_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Cohen's d / Hedges' g between the even/odd user
    cohorts (operators/analytics.py:cohens_d): the MAGNITUDE half of
    the A/B readout, one conditional mergeable aggregate exactly like
    agg_ab_welch."""
    from recover_spark.operators.analytics import cohens_d

    ev = _load(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2).alias("variant"), "value"
    )
    return cohens_d(ev, ["event_type"], "variant", "value", 0, 1).orderBy(
        "event_type"
    )


def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Spearman rank correlation between value and its
    fractional part (operators/analytics.py:spearman_by_group):
    midranks at the distinct-value grain via the bucket-decomposed
    below-counts, fact picks ranks up by (group, value) equi-joins,
    rho folds from raw sums — rank sums are exact quarter-integers,
    so the statistic is bit-identical across engines."""
    from recover_spark.operators.analytics import spearman_by_group

    ev = _load(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").alias("xv"),
        (F.col("value") - F.floor(F.col("value"))).alias("yv"),
    )
    return spearman_by_group(ev, ["event_type"], "xv", "yv").orderBy(
        "event_type"
    )


def q_agg_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type average precision under the tie-block convention
    (ops/classifier_eval.py:average_precision_by_group): the PR-curve
    complement to agg_auc — same distinct-score collapse, descending
    bucket-decomposed cumulative counts, one final fold."""
    from recover_spark.ops.classifier_eval import average_precision_by_group

    ev = _classifier_eval_fixture(spark, sf_dir)
    return average_precision_by_group(
        ev, ["event_type"], "score", "label"
    ).orderBy("event_type")


def q_agg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type calibration summary — Brier score, expected
    calibration error over 10 uniform bins, base rate
    (ops/classifier_eval.py:calibration_summary): ONE mergeable
    (group, bin) aggregate then a bins-sized fold."""
    from recover_spark.ops.classifier_eval import calibration_summary

    ev = _classifier_eval_fixture(spark, sf_dir)
    return calibration_summary(
        ev, ["event_type"], "score", "label", bins=10
    ).orderBy("event_type")


def q_stream_calibration_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 extension — incrementally-maintained classifier
    calibration (streaming/matview.py:maintain_calibration_matview):
    the events stream folds (group, bin) score/label sums into
    persisted state across four genuine micro-batches; the read side
    serves the brier/ece/base_rate scalars from that state with the
    IDENTICAL fold the batch operator runs.  The oracle is the plain
    batch SQL — incremental maintenance must be invisible.  The arrival
    state is the ONE shared pipeline (_shared_calibration_state, the
    VERDICT r13 #1 convention — same fixture, keys, bins and 4-batch
    schedule as the historical standalone construct): this query reads
    the brier/ece/base_rate lens."""
    from recover_spark.streaming.matview import read_calibration_matview

    state = _shared_calibration_state(spark, sf_dir)
    return read_calibration_matview(
        spark, state, ["event_type"]
    ).orderBy("event_type")


def q_stream_isotonic_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration fitted over the STREAMED calibration
    state (streaming/matview.py:read_isotonic_matview): the fixer lens
    on the same (group, bin) sums the reliability/brier/AUC lenses
    read — zero extra state; the streamed fit equals the batch fit on
    the same decile binning (bin sums are exactly PAV's cells).
    Oracle: a from-scratch Python PAV over the batch-computed bins
    (oracle_py) — maintenance must be invisible.  The arrival state is
    the ONE shared pipeline (_shared_calibration_state, the VERDICT
    r13 #1 convention): this query reads the isotonic-fit lens."""
    from recover_spark.streaming.matview import read_isotonic_matview

    state = _shared_calibration_state(spark, sf_dir)
    return read_isotonic_matview(
        spark, state, ["event_type"]
    ).orderBy("event_type", "block")


def _py_oracle_stream_isotonic(con, sf_dir):
    """From-scratch PAV over the decile-binned cells the calibration
    state holds (the stream_calibration_matview binning SQL)."""
    cells = con.execute(
        """
        WITH x AS (
            SELECT event_type AS g,
                   value - floor(value) AS s,
                   CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS y
            FROM events
            WHERE value IS NOT NULL AND user_id IS NOT NULL)
        SELECT g, least(CAST(floor(s * 10) AS INT), 9) AS bin,
               sum(y) AS pos, count(*) AS n
        FROM x GROUP BY g, bin ORDER BY g, bin
        """
    ).fetchall()
    groups: dict = {}
    for g, b, p, n in cells:
        groups.setdefault(g, []).append((b, int(p), int(n)))
    out = []
    for g in sorted(groups):
        blocks: list[list] = []
        for b, p, n in sorted(groups[g]):
            blocks.append([p, n, b, b])
            while len(blocks) > 1:
                pa, na, loa, _ = blocks[-2]
                pb, nb, _, hib = blocks[-1]
                if pa * nb >= pb * na:
                    blocks[-2:] = [[pa + pb, na + nb, loa, hib]]
                else:
                    break
        for i, (p, n, lo, hi) in enumerate(blocks):
            out.append(
                (g, i, float(lo), float(hi), n, p, round(p / n + 1e-9, 6) + 0.0)
            )
    return [
        "event_type", "block", "score_lo", "score_hi",
        "n_rows", "n_pos", "calibrated",
    ], out


def q_stream_pattern_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 extension — incrementally-maintained row-pattern view
    (streaming/matview.py:maintain_pattern_matview): four genuine
    micro-batches fold per-user (ts, event_id, char) event multisets
    into key-sized state (events arrive in ANY order across batches —
    ordering is imposed once, at read); the read lens sorts each key's
    multiset, encodes the sequence string, and regexp_counts the same
    conversion / error-recovery / signup shapes as path_pattern_match.
    Oracle: the identical batch SQL — maintenance must be invisible."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_pattern_matview,
        read_pattern_matview,
    )

    run_dir = f"spark-warehouse/pattern_mv/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    ev = _load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    q = maintain_pattern_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        key_col="user_id",
        ts_col="ts",
        type_col="event_type",
        alphabet={
            "view": "v",
            "click": "c",
            "purchase": "p",
            "signup": "s",
            "error": "e",
        },
        tiebreakers=["event_id"],
    )
    q.awaitTermination(300)
    out = read_pattern_matview(
        spark,
        f"{run_dir}/state",
        "user_id",
        {
            "conversions": "vc*p",
            "error_recoveries": "e+c",
            "signup_conversions": "s[^p]*p",
        },
    )
    return out.orderBy("user_id")


def q_stream_heartbeat_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 extension — per-key heartbeat/staleness monitor
    (streaming/matview.py:maintain_heartbeat_matview): four genuine
    micro-batches fold per-key (last_seen, n_rows) into key-sized
    state; the read flags keys lagging the data's own high-water mark
    by over a day — "which sensors are dark", live, with no history
    rescan (the streaming complement of ts_gaps).  Oracle: the plain
    batch aggregate — maintenance must be invisible."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_heartbeat_matview,
        read_heartbeat_matview,
    )

    run_dir = f"spark-warehouse/heartbeat_mv/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    ev = _load(spark, sf_dir, "events").select(
        (F.col("user_id") % 200).alias("k"), "ts"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "k long, ts timestamp",
    )
    q = maintain_heartbeat_matview(
        stream, f"{run_dir}/state", f"{run_dir}/ckpt", ["k"], "ts",
    )
    q.awaitTermination(300)
    out = read_heartbeat_matview(spark, f"{run_dir}/state", 86400)
    return out.select(
        "k",
        _ts(F.col("last_seen"), "last_seen"),
        "n_rows",
        F.round("lag_seconds", 6).alias("lag_seconds"),
        "is_stale",
    ).orderBy("k")


def q_agg_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type reliability diagram — mean confidence vs observed
    accuracy in 10 uniform score bins
    (ops/classifier_eval.py:reliability_bins): the same single
    (group, bin) aggregate, exposed at bin grain."""
    from recover_spark.ops.classifier_eval import reliability_bins

    ev = _classifier_eval_fixture(spark, sf_dir)
    return reliability_bins(ev, ["event_type"], "score", "label", bins=10)


def q_agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Poisson-bootstrap CI for mean order value
    (operators/analytics.py:bootstrap_ci): 40 replicates whose
    weights are map-side Poisson(1) inverse-CDF draws on the
    portable md5 uniform — no resampling shuffle exists; the only
    exchange carries (groups x replicates) partial-agg rows."""
    from recover_spark.operators.analytics import bootstrap_ci

    orders = _load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    return bootstrap_ci(
        orders,
        ["o_orderpriority"],
        "o_totalprice",
        "o_orderkey",
        n_replicates=40,
        alpha=0.05,
    ).orderBy("o_orderpriority")


def q_v17_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which per-month drift alarms survive multiple-comparison
    correction (quality/drift.py:ks_asymptotic_pvalues + fdr_bh): the
    v9 KS series becomes p-values via the fixed-truncation Kolmogorov
    tail (closed form, engine-portable), then Benjamini-Hochberg
    bounds the false-discovery share of the flagged (month, column)
    cells at q=0.05.  The rank window runs on the TEST frame (months
    x columns — monitoring metadata, bounded by the suite, never by
    the data); the heavy lift stays in the upstream binned KS."""
    from recover_spark.quality.drift import (
        fdr_bh,
        ks_asymptotic_pvalues,
        ks_drift_by_period,
    )

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut)).withColumn(
        "__month", F.date_format("l_shipdate", "yyyy-MM")
    )
    ks = ks_drift_by_period(
        base, cur, ["l_extendedprice", "l_quantity"], "__month",
        n_grid=10, edge_accuracy=None,
    )
    tests = ks_asymptotic_pvalues(ks)
    return fdr_bh(tests, "p_value", ["period", "column"], q=0.05).orderBy(
        "period", "column"
    )


def q_agg_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per return flag
    (ops/classifier_eval.py:split_conformal): wrap a fixed per-unit
    price model (yhat = 1200 * quantity — conformal is model-agnostic;
    only residuals matter) with the distribution-free q_hat from a
    deterministic md5-parity calibration split, and audit the realized
    test-split coverage against the 1 - alpha target."""
    from recover_spark.ops.classifier_eval import split_conformal

    li = _load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        (F.lit(1200.0) * F.col("l_quantity").cast("double")).alias(
            "__yhat"
        ),
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        ).alias("__key"),
    )
    return split_conformal(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        "__yhat",
        "__key",
        alpha=0.1,
    ).orderBy("l_returnflag")


def q_text_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus self-BLEU-2 diversity audit
    (ops/text_analysis.py:corpus_self_bleu): each doc scored against
    the next doc of its (lang, 4096-id block) as reference — clipped
    n-gram precisions via ONE (pair, n, gram) equi-join, brevity
    penalty from corpus length totals; high self-BLEU flags a
    template-heavy corpus before it teaches a model repetition."""
    from recover_spark.ops.text_analysis import corpus_self_bleu

    docs = _load(spark, sf_dir, "documents")
    return corpus_self_bleu(docs).orderBy("lang")


def q_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection 64 -> 8 dims
    (ops/pca.py:random_sign_projection): data-INDEPENDENT reduction —
    no fit pass, no training shuffle; the deterministic Rademacher
    matrix broadcasts once and each row folds JVM-side, the shape
    that shrinks 100 TB of embeddings before LSH or index builds."""
    from recover_spark.ops.pca import random_sign_projection

    emb = _load(spark, sf_dir, "embeddings")
    k = 8
    return random_sign_projection(
        emb, "embedding", in_dim=64, out_dim=k
    ).select("vec_id", *[f"rp{c}" for c in range(k)]).orderBy("vec_id")


def q_stream_bootstrap_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained Poisson-bootstrap CIs
    (streaming/matview.py:maintain_bootstrap_matview): replicate
    partials are plain sums, so four availableNow increments merge to
    EXACTLY the one-shot batch state (up to float merge order) with
    state bounded at groups x replicates — the oracle is the batch
    agg_bootstrap_ci SQL unchanged."""
    import uuid

    from recover_spark.streaming.matview import (
        maintain_bootstrap_matview,
        read_bootstrap_matview,
    )

    run_dir = f"spark-warehouse/matview_boot_q/{uuid.uuid4().hex}"
    src = f"{run_dir}/src"
    orders = _load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    orders.repartition(4).write.mode("overwrite").parquet(src)
    stream = _arrival_stream(
        spark, src,
        "o_orderpriority string, o_totalprice double, o_orderkey long",
    )
    q = maintain_bootstrap_matview(
        stream,
        f"{run_dir}/state",
        f"{run_dir}/ckpt",
        ["o_orderpriority"],
        "o_totalprice",
        "o_orderkey",
        n_replicates=40,
    )
    q.awaitTermination(300)
    return read_bootstrap_matview(
        spark, f"{run_dir}/state", ["o_orderpriority"], 40, alpha=0.05
    ).orderBy("o_orderpriority")


def q_v18_drift_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid Cramér–von Mises drift (quality/drift.py:cvm_drift): the
    combined-mass-weighted MEAN-SQUARE CDF gap on the baseline's
    quantile bins — the tail-sensitive member of the KS/W1 family (a
    big gap on few bins and a moderate gap on many bins both
    register).  Same one-edge-aggregate + map-side-binning shape as
    v5/v10/v12; ``edge_accuracy=None`` is gate plumbing (v5's note)."""
    from recover_spark.quality.drift import cvm_drift

    lineitem = _load(spark, sf_dir, "lineitem")
    cut = "1998-06-01"
    base = lineitem.filter(F.col("l_shipdate") < F.lit(cut))
    cur = lineitem.filter(F.col("l_shipdate") >= F.lit(cut))
    return cvm_drift(
        base,
        cur,
        ["l_extendedprice", "l_quantity", "l_discount"],
        n_bins=10,
        edge_accuracy=None,
    ).orderBy("column")


def q_stream_drift_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CvM drift-on-arrival (streaming/drift.py:read_drift_cvm): the
    same frozen-baseline/accumulated-counts state as the PSI/KS
    matviews, read through the mean-square lens — per-bin and
    cumulative counts are integer-additive across batches, so the
    streamed statistic is bit-identical to batch binning of the
    union; the oracle is the batch CvM SQL over the same split.
    Reads the ONE shared arrival state (_shared_drift_state, VERDICT
    r13 #1) through its historical two-column subset."""
    from recover_spark.streaming.drift import read_drift_cvm

    state = _shared_drift_state(spark, sf_dir)
    return read_drift_cvm(
        spark, state, cols=["l_extendedprice", "l_quantity"]
    )


def q_retrieval_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diverse top-5
    (ops/retrieval.py:mmr_rerank): exact-cosine top-12 candidates per
    query re-ranked greedily so each pick maximizes lam*rel -
    (1-lam)*max-sim-to-selected — the anti-redundancy final stage a
    RAG stack runs before filling a context window; k-1 bounded
    candidate-list-sized joins, argmax on the rounded score."""
    from recover_spark.ops.retrieval import mmr_rerank
    from recover_spark.ops.similarity import brute_force_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cands = brute_force_topk(emb, queries, k=12).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    return mmr_rerank(
        cands, "query_vec_id", "vec_id", "cosine", "embedding",
        k=5, lam=0.7,
    ).orderBy("query_vec_id", "rank")


def q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the two-stride user lattice
    (ops/graph.py:label_propagation): 4 fixed synchronous rounds with
    min-label ties — deterministic, RNG-free community detection whose
    quality readout is the already-shipped graph_modularity; each
    round one node-keyed equi-join + one (node, label) mergeable count
    + a per-node argmax, edge-linear."""
    from recover_spark.ops.graph import label_propagation

    ev = _load(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    edges = (
        ev.select(
            F.col("user_id").alias("src"),
            (F.col("user_id") + 3).alias("dst"),
        )
        .unionByName(
            ev.select(
                F.col("user_id").alias("src"),
                (F.col("user_id") + 7).alias("dst"),
            )
        )
        .distinct()
    )
    return label_propagation(edges, rounds=4).orderBy("node")


def q_agg_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for the per-flag revenue-per-unit RATIO metric
    (operators/analytics.py:ratio_metric_ci): numerator and
    denominator are correlated per row, so the naive t-interval is
    wrong — the delta-method variance is the experimentation-standard
    fix; ONE mergeable aggregate, arithmetic on the group frame."""
    from recover_spark.operators.analytics import ratio_metric_ci

    li = _load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return ratio_metric_ci(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity"
    ).orderBy("l_returnflag")


def q_agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction per return flag
    (operators/analytics.py:cuped_adjust): adjust revenue by the
    quantity covariate with the POOLED theta — the pre-experiment
    adjustment that reaches significance with 1/(1-rho^2) less
    traffic; one fact pass to per-variant moment sums, pooled theta
    from ADDING the variant rows, never a second fact scan."""
    from recover_spark.operators.analytics import cuped_adjust

    li = _load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_orderkey") % 2).alias("variant"),
        "l_extendedprice",
        "l_quantity",
    )
    return cuped_adjust(
        li, ["l_returnflag"], "variant", "l_extendedprice", "l_quantity"
    ).orderBy("l_returnflag", "variant")


def q_agg_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Mann-Whitney U between the even/odd user cohorts
    (operators/analytics.py:mannwhitney_u): the NONPARAMETRIC A/B
    readout next to agg_ab_welch — outlier-immune rank test with the
    common-language effect size U/(n_a*n_b); exact midranks via the
    spearman bucket decomposition, everything integer-and-half exact
    until z's one division."""
    from recover_spark.operators.analytics import mannwhitney_u

    ev = _load(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2).alias("variant"), "value"
    )
    return mannwhitney_u(
        ev, ["event_type"], "variant", "value", 0, 1
    ).orderBy("event_type")


def q_agg_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ALWAYS-VALID p-value (mixture SPRT; Johari et
    al. KDD-17) between the even/odd user cohorts at tau2=4
    (operators/analytics.py:always_valid_pvalue): the any-time
    experiment readout — valid under continuous peeking, so crossing
    alpha is a legitimate stop-now decision.  Closed-form martingale
    arithmetic on the Welch sufficient stats: ONE conditional
    mergeable aggregate, the agg_ab_welch shape."""
    from recover_spark.operators.analytics import always_valid_pvalue

    ev = _load(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2).alias("variant"), "value"
    )
    return always_valid_pvalue(
        ev, ["event_type"], "variant", "value", 0, 1, tau2=4.0, alpha=0.05
    ).orderBy("event_type")


def q_agg_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type TOST equivalence test between the even/odd user
    cohorts at margin 5 (operators/analytics.py:tost_equivalence):
    the "is B no worse than A within the margin" rollout readout —
    both one-sided Welch t statistics + df from ONE conditional
    mergeable aggregate, the agg_ab_welch shape."""
    from recover_spark.operators.analytics import tost_equivalence

    ev = _load(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2).alias("variant"), "value"
    )
    return tost_equivalence(
        ev, ["event_type"], "variant", "value", 0, 1, margin=5.0
    ).orderBy("event_type")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: W1 keyed-latest dedup over the events stream."""
    return q_w1_dedup_latest(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        "agg_bootstrap_ci": q_agg_bootstrap_ci,
        "v17_fdr_bh": q_v17_fdr_bh,
        "agg_conformal": q_agg_conformal,
        "text_self_bleu": q_text_self_bleu,
        "emb_random_projection": q_emb_random_projection,
        "stream_bootstrap_matview": q_stream_bootstrap_matview,
        "v18_drift_cvm": q_v18_drift_cvm,
        "stream_drift_cvm": q_stream_drift_cvm,
        "retrieval_mmr": q_retrieval_mmr,
        "graph_lpa": q_graph_lpa,
        "agg_ratio_ci": q_agg_ratio_ci,
        "agg_cuped": q_agg_cuped,
        "agg_mannwhitney": q_agg_mannwhitney,
        "agg_tost": q_agg_tost,
        "agg_always_valid": q_agg_always_valid,
        "stream_hll_matview": q_stream_hll_matview,
        "merge_upsert": q_merge_upsert,
        "agg_cube": q_agg_cube,
        "sql_grouping_sets": q_sql_grouping_sets,
        "win_lag_lead": q_win_lag_lead,
        "win_frame_edges": q_win_frame_edges,
        "win_ntile": q_win_ntile,
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "sample_stratified": q_sample_stratified,
        "pack_sequences": q_pack_sequences,
        "stream_enrich": q_stream_enrich,
        "dedup_fingerprint": q_dedup_fingerprint,
        "agg_having": q_agg_having,
        "sql_interface": q_sql_interface,
        "set_intersect": q_set_intersect,
        "set_except_all": q_set_except_all,
        "agg_approx_stats": q_agg_approx_stats,
        "sample_split": q_sample_split,
        "agg_histogram": q_agg_histogram,
        "agg_pivot": q_agg_pivot,
        "transform_unpivot": q_transform_unpivot,
        "sql_correlated": q_sql_correlated,
        "agg_revenue_filter": q_agg_revenue_filter,
        "agg_shipping_volume": q_agg_shipping_volume,
        "transform_strings": q_transform_strings,
        "join_argmin": q_join_argmin,
        "emb_quantize": q_emb_quantize,
        "ann_quantized": q_ann_quantized,
        "skew_hitters": q_skew_hitters,
        "dedup_spans": q_dedup_spans,
        "dedup_cross_spans": q_dedup_cross_spans,
        "dedup_cross_spans_rewrite": q_dedup_cross_spans_rewrite,
        "dedup_lsh_recall": q_dedup_lsh_recall,
        "emb_drift": q_emb_drift,
        "graph_modularity": q_graph_modularity,
        "text_length_histogram": q_text_length_histogram,
        "stream_emb_drift_matview": q_stream_emb_drift_matview,
        "ann_pq_recall": q_ann_pq_recall,
        "ann_ivf_pq_maintained": q_ann_ivf_pq_maintained,
        "agg_contingency_residuals": q_agg_contingency_residuals,
        "emb_outliers": q_emb_outliers,
        "v16_rare_categories": q_v16_rare_categories,
        "agg_stats_moments": q_agg_stats_moments,
        "agg_median": q_agg_median,
        "text_levenshtein": q_text_levenshtein,
        "transform_dates": q_transform_dates,
        "transform_arrays": q_transform_arrays,
        "transform_regexp": q_transform_regexp,
        "agg_string_concat": q_agg_string_concat,
        "transform_hof": q_transform_hof,
        "set_union_distinct": q_set_union_distinct,
        # -- new in round 6 (never captured by definition) --
        "ts_holt_winters": q_ts_holt_winters,
        "ts_holt_winters_damped": q_ts_holt_winters_damped,
        "ts_forecast": q_ts_forecast,
        "ts_anomaly_seasonal": q_ts_anomaly_seasonal,
        "dedup_cosine_probe_compacted": q_dedup_cosine_probe_compacted,
        "ann_ivf_maintained": q_ann_ivf_maintained,
        "stream_drift_psi": q_stream_drift_psi,
        "stream_drift_categorical": q_stream_drift_categorical,
        "dedup_cosine_probe_deleted": q_dedup_cosine_probe_deleted,
        "ts_decompose": q_ts_decompose,
        "s2_schema_drift": q_s2_schema_drift,
        "scan_bloommap": q_scan_bloommap,
        "dedup_cosine_exact": q_dedup_cosine_exact,
        "dedup_cosine_probe": q_dedup_cosine_probe,
        "graph_pagerank": q_graph_pagerank,
        "graph_components": q_graph_components,
        "sample_weighted": q_sample_weighted,
        "sample_shard_export": q_sample_shard_export,
        "stream_quantile_matview": q_stream_quantile_matview,
        "join_asof_nearest": q_join_asof_nearest,
        "ts_smooth": q_ts_smooth,
        "ts_holt": q_ts_holt,
        "agg_quantile_rollup": q_agg_quantile_rollup,
        "agg_skyline": q_agg_skyline,
        "v5_drift_psi": q_v5_drift_psi,
        "retention_survival": q_retention_survival,
        "agg_gini": q_agg_gini,
        "emb_pca_project": q_emb_pca_project,
        "agg_ab_welch": q_agg_ab_welch,
        "agg_trimmed_stats": q_agg_trimmed_stats,
        "text_collocations": q_text_collocations,
        "scd2_history": q_scd2_history,
        "retrieval_rank_metrics": q_retrieval_rank_metrics,
        "agg_ab_prop_ztest": q_agg_ab_prop_ztest,
        "v12_drift_wasserstein": q_v12_drift_wasserstein,
        "emb_whiten": q_emb_whiten,
        "graph_assortativity": q_graph_assortativity,
        "agg_weighted_quantiles": q_agg_weighted_quantiles,
        "text_zipf": q_text_zipf,
        "stream_upsert_matview": q_stream_upsert_matview,
        "mm_scene_cuts": q_mm_scene_cuts,
        "emb_silhouette": q_emb_silhouette,
        "agg_hhi": q_agg_hhi,
        "agg_basket_lift": q_agg_basket_lift,
        "ts_theil_sen": q_ts_theil_sen,
        "emb_pca": q_emb_pca,
        "graph_kcore": q_graph_kcore,
        "graph_hierarchy": q_graph_hierarchy,
        "graph_hits": q_graph_hits,
        "ts_kalman": q_ts_kalman,
        "ts_kalman_smooth": q_ts_kalman_smooth,
        "v11_benford": q_v11_benford,
        "ts_anomaly_mad": q_ts_anomaly_mad,
        "agg_entropy": q_agg_entropy,
        "text_novelty": q_text_novelty,
        "retrieval_hybrid": q_retrieval_hybrid,
        "sample_token_budget": q_sample_token_budget,
        "sample_epoch_mix": q_sample_epoch_mix,
        "sample_epoch_apply": q_sample_epoch_apply,
        "sample_curriculum": q_sample_curriculum,
        "agg_assoc_matrix": q_agg_assoc_matrix,
        "ts_autocorr": q_ts_autocorr,
        "ts_cusum": q_ts_cusum,
        "ts_changepoint": q_ts_changepoint,
        "text_keywords_textrank": q_text_keywords_textrank,
        "agg_cm_frequency": q_agg_cm_frequency,
        "stream_cm_matview": q_stream_cm_matview,
        "agg_kmv_overlap": q_agg_kmv_overlap,
        "stream_sample_matview": q_stream_sample_matview,
        "graph_shortest_paths": q_graph_shortest_paths,
        "sample_contrastive_triplets": q_sample_contrastive_triplets,
        "dedup_containment": q_dedup_containment,
        "retrieval_prf": q_retrieval_prf,
        "stream_kmv_overlap_matview": q_stream_kmv_overlap_matview,
        "ts_dtw": q_ts_dtw,
        "transform_target_encode": q_transform_target_encode,
        "agg_isotonic_calibration": q_agg_isotonic_calibration,
        "stream_isotonic_matview": q_stream_isotonic_matview,
        "v10_drift_js": q_v10_drift_js,
        "stream_drift_ks": q_stream_drift_ks,
        "v6_drift_categorical": q_v6_drift_categorical,
        "v7_drift_ks": q_v7_drift_ks,
        "v8_ref_integrity": q_v8_ref_integrity,
        "v9_drift_ks_series": q_v9_drift_ks_series,
        "agg_corr_matrix": q_agg_corr_matrix,
        "stream_corr_matview": q_stream_corr_matview,
        "join_bucketed": q_join_bucketed,
        "scan_zonemap": q_scan_zonemap,
        "text_bm25": q_text_bm25,
        "sample_importance": q_sample_importance,
        "text_bpe_train": q_text_bpe_train,
        "text_bpe_fertility": q_text_bpe_fertility,
        "text_unigram_train": q_text_unigram_train,
        "decontam_fuzzy": q_decontam_fuzzy,
        "text_lm_bigram": q_text_lm_bigram,
        "text_lm_kneser_ney": q_text_lm_kneser_ney,
        "skew_hitters_sketch": q_skew_hitters_sketch,
        "stream_topk_matview": q_stream_topk_matview,
        "a9_profile": q_a9_profile,
        "agg_distinct_overlap": q_agg_distinct_overlap,
        "text_quality_train": q_text_quality_train,
        "funnel_steps": q_funnel_steps,
        "retention_cohorts": q_retention_cohorts,
        "win_rank_dist": q_win_rank_dist,
        "win_session_native": q_win_session_native,
        "win_range_frame": q_win_range_frame,
        "ts_resample": q_ts_resample,
        "ts_interpolate": q_ts_interpolate,
        "ts_anomaly_chunked": q_ts_anomaly_chunked,
        "layout_zorder": q_layout_zorder,
        "win_global_rownum": q_win_global_rownum,
        "link_records": q_link_records,
        "sample_split_grouped": q_sample_split_grouped,
        "join_interval_overlap": q_join_interval_overlap,
        "graph_triangles": q_graph_triangles,
        "agg_regression": q_agg_regression,
        "mm_phash_dedup": q_mm_phash_dedup,
        "path_transitions": q_path_transitions,
        "path_pattern_match": q_path_pattern_match,
        "funnel_windowed": q_funnel_windowed,
        "stream_interval_join_outer": q_stream_interval_join_outer,
        "text_lm_score": q_text_lm_score,
        "agg_pareto": q_agg_pareto,
        "win_streaks": q_win_streaks,
        "agg_mode": q_agg_mode,
        "agg_hll_rollup": q_agg_hll_rollup,
        "w1_dedup_latest": q_w1_dedup_latest,
        "j1_anti_delete": q_j1_anti_delete,
        "j3_diff": q_j3_diff,
        "j2_child_rekey": q_j2_child_rekey,
        "n2_relationalize": q_n2_relationalize,
        "j4_audit_merge": q_j4_audit_merge,
        "a1_stage_counts": q_a1_stage_counts,
        "agg_pricing_summary": q_agg_pricing_summary,
        "join_top_orders": q_join_top_orders,
        "join_nation_revenue": q_join_nation_revenue,
        "join_volume_shipping": q_join_volume_shipping,
        "join_market_share": q_join_market_share,
        "join_returned_items": q_join_returned_items,
        "join_large_orders": q_join_large_orders,
        "agg_custdist": q_agg_custdist,
        "agg_promo_revenue": q_agg_promo_revenue,
        "agg_small_qty_revenue": q_agg_small_qty_revenue,
        "agg_disjunctive": q_agg_disjunctive,
        "agg_sales_opportunity": q_agg_sales_opportunity,
        "join_product_profit": q_join_product_profit,
        "agg_important_stock": q_agg_important_stock,
        "join_late_shipments": q_join_late_shipments,
        "join_top_supplier": q_join_top_supplier,
        "agg_supplier_variety": q_agg_supplier_variety,
        "join_part_promotion": q_join_part_promotion,
        "join_waiting_suppliers": q_join_waiting_suppliers,
        "join_asof": q_asof_join,
        "join_range": q_range_join,
        "merge_scd2": q_merge_scd2,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "dedup_embedding": q_dedup_embedding,
        "dedup_semantic_clusters": q_dedup_semantic_clusters,
        "dedup_embedding_gemm": q_dedup_embedding_gemm,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_indexed": q_ann_ivf_indexed,
        "ann_ivf_joined": q_ann_ivf_joined,
        "ann_recall": q_ann_recall,
        "ann_ivf_pq": q_ann_ivf_pq,
        "ann_ivf_pq_indexed": q_ann_ivf_pq_indexed,
        "ann_ivf_pq_refined": q_ann_ivf_pq_refined,
        "ann_ivf_quantized": q_ann_ivf_quantized,
        "ann_lsh": q_ann_lsh,
        "pipe_training_data": q_pipe_training_data,
        "stream_interval_join": q_stream_interval_join,
        "text_chunks": q_text_chunks,
        "emb_centroids": q_emb_centroids,
        "decontaminate": q_decontaminate,
        "text_tfidf": q_text_tfidf,
        "join_anti_bloom": q_join_anti_bloom,
        "dedup_canonical": q_dedup_canonical,
        "text_quality_score": q_text_quality_score,
        "sample_temperature": q_sample_temperature,
        "ts_anomaly": q_ts_anomaly,
        "text_repetition": q_text_repetition,
        "text_pii_redact": q_text_pii_redact,
        "text_vocab": q_text_vocab,
        "emb_kmeans": q_emb_kmeans,
        "stream_matview": q_stream_matview,
        "ann_topk": q_ann_topk,
        "dedup_minhash": q_dedup_minhash,
        "agg_rollup": q_agg_rollup,
        "win_moving_avg": q_win_moving_avg,
        "join_salted_skew": q_join_salted_skew,
        "a4_duplicate_keys": q_a4_duplicate_keys,
        "a5_group_collect": q_a5_group_collect,
        "p4_defensive_json": q_p4_defensive_json,
        "p3_json_struct": q_p3_json_struct,
        "p5_map_normalize": q_p5_map_normalize,
        "p6_filename_meta": q_p6_filename_meta,
        "v1_range_check": q_v1_range_check,
        "dedup_simhash": q_dedup_simhash,
        "text_stats": q_text_stats,
        "text_langid": q_text_langid,
        "text_quality_filter": q_text_quality_filter,
        "doc_fingerprint": q_doc_fingerprint,
        "stream_sessionize": q_stream_sessionize,
        "stream_window_counts": q_stream_window_counts,
        "v3_suite": q_v3_suite,
        "v3_results_doc": q_v3_results_doc,
        "stream_expectations_matview": q_stream_expectations_matview,
        "p10_cohort": q_p10_cohort,
        "a6_union_ledgers": q_a6_union_ledgers,
        "p7_flatten": q_p7_flatten,
        "s2_resolve_choice": q_s2_resolve_choice,
        "mm_features": q_mm_features,
        "mm_frames": q_mm_frames,
        "mm_audio_chunks": q_mm_audio_chunks,
        "win_topk_priority": q_win_topk_priority,
        "agg_distinct_stats": q_agg_distinct_stats,
        "join_semi_exists": q_join_semi_exists,
        "agg_conditional": q_agg_conditional,
        "agg_auc": q_agg_auc,
        "agg_calibration": q_agg_calibration,
        "agg_reliability_bins": q_agg_reliability_bins,
        "dedup_cluster_split": q_dedup_cluster_split,
        "agg_mutual_info": q_agg_mutual_info,
        "agg_kappa": q_agg_kappa,
        "agg_avg_precision": q_agg_avg_precision,
        "agg_spearman": q_agg_spearman,
        "sample_group_topk": q_sample_group_topk,
        "transform_rank_normalize": q_transform_rank_normalize,
        "agg_effect_size": q_agg_effect_size,
        "stream_calibration_matview": q_stream_calibration_matview,
        "text_lexical_diversity": q_text_lexical_diversity,
        "agg_moments": q_agg_moments,
        "text_vocab_overlap": q_text_vocab_overlap,
        "v13_drift_chi2": q_v13_drift_chi2,
        "transform_standardize": q_transform_standardize,
        "transform_winsorize": q_transform_winsorize,
        "stream_auc_matview": q_stream_auc_matview,
        "graph_clustering_coeff": q_graph_clustering_coeff,
        "dedup_cluster_histogram": q_dedup_cluster_histogram,
        "v14_functional_deps": q_v14_functional_deps,
        "v15_iqr_outliers": q_v15_iqr_outliers,
        "text_readability": q_text_readability,
        "ts_gaps": q_ts_gaps,
        "mm_audio_energy": q_mm_audio_energy,
        "stream_heartbeat_matview": q_stream_heartbeat_matview,
        "stream_pattern_matview": q_stream_pattern_matview,
    }
    # Rotation order for the driver's 50-entry correctness capture,
    # STALENESS-WEIGHTED (standing rule since r11, VERDICT r10 #7):
    # lead with (a) queries new or whose construction/oracle changed
    # this round (r14): v3_results_doc is NEW (persisted-suite
    # round-trip); the drift trio and the two maintained-ANN gates
    # moved to the shared-lifecycle construction (values unchanged by
    # design — the driver hash is the proof); agg_always_valid's
    # oracle gained the NULL-propagation CASE wrappers (ADVICE r13
    # #1); sample_epoch_mix and sample_curriculum are NEW post-bench
    # (never driver-captured) and lead.  Then (b) the queries whose
    # most recent hash-green capture is OLDEST, computed from the
    # CORRECTNESS_r01..r13 history: the r4 block (7, alphabetical),
    # then the r5 block (38) of which the first 26 alphabetical fit
    # the 50-entry window — skew_hitters_sketch,
    # stream_interval_join_outer, stream_topk_matview, text_bm25,
    # text_lm_bigram, text_lm_score, ts_holt, ts_interpolate,
    # ts_smooth, v6_drift_categorical, win_global_rownum,
    # win_range_frame, win_rank_dist, win_session_native and
    # win_streaks lead r15's (b) block.
    # tools/check_correctness.py re-runs ALL entries regardless.
    front = [
        # (a) new / construction-changed / oracle-changed this round
        "sample_epoch_mix",
        "sample_epoch_apply",
        "sample_curriculum",
        "path_pattern_match",
        "stream_pattern_matview",
        "text_lm_kneser_ney",
        "graph_hierarchy",
        "ts_kalman",
        "ts_kalman_smooth",
        "graph_hits",
        "v3_results_doc",
        "ann_ivf_joined",
        "stream_expectations_matview",
        "text_bpe_fertility",
        "stream_drift_psi",
        "stream_drift_ks",
        "stream_drift_cvm",
        "ann_ivf_maintained",
        "ann_ivf_pq_maintained",
        "agg_always_valid",
        # (b1) stalest hash-green captures: last captured r4
        "join_part_promotion",
        "join_top_supplier",
        "join_volume_shipping",
        "join_waiting_suppliers",
        "text_tfidf",
        "ts_anomaly",
        "w1_dedup_latest",
        # (b2) last captured r5, alphabetical, filling to 50
        "a9_profile",
        "agg_mode",
        "agg_pareto",
        "agg_regression",
        "agg_skyline",
        "decontam_fuzzy",
        "funnel_steps",
        "funnel_windowed",
        "graph_pagerank",
        "graph_triangles",
        "join_asof_nearest",
        "join_bucketed",
        "join_interval_overlap",
        "layout_zorder",
        "link_records",
        "mm_phash_dedup",
        "path_transitions",
        "retention_cohorts",
        "sample_importance",
        "sample_split_grouped",
        "sample_weighted",
        "scan_zonemap",
        "skew_hitters_sketch",
        "stream_interval_join_outer",
        "stream_topk_matview",
        "text_bm25",
        "text_lm_bigram",
        "text_lm_score",
        "ts_anomaly_chunked",
        "ts_holt",
        "ts_interpolate",
        "ts_smooth",
        "v6_drift_categorical",
    ]
    assert all(k in base for k in front), "rotation names must exist"
    return {k: base[k] for k in front} | {
        k: v for k, v in base.items() if k not in front
    }


def _hits_oracle_sql(iterations: int = 6) -> str:
    """Unrolled HITS power iteration (the pagerank-oracle convention):
    per iteration an authority half-step (in-edge hub sums, L2
    normalized) then a hub half-step, identical operation order to
    ops/graph.py:hits."""
    ctes = [
        "e AS MATERIALIZED (SELECT DISTINCT 'c' || o.o_custkey AS s, "
        "'s' || l.l_suppkey AS d "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)",
        "nodes AS MATERIALIZED "
        "(SELECT s AS node FROM e UNION SELECT d FROM e)",
        "h0 AS (SELECT node, 1.0 AS h FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"a{i}_raw AS MATERIALIZED "
            f"(SELECT n.node, coalesce(t.ar, 0.0) AS ar "
            f"FROM nodes n LEFT JOIN (SELECT e.d AS node, sum(h.h) AS ar "
            f"FROM e JOIN h{i - 1} h ON e.s = h.node GROUP BY e.d) t "
            f"ON n.node = t.node)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT node, ar / "
            f"(SELECT sqrt(sum(ar * ar)) FROM a{i}_raw) AS a FROM a{i}_raw)"
        )
        ctes.append(
            f"h{i}_raw AS MATERIALIZED "
            f"(SELECT n.node, coalesce(t.hr, 0.0) AS hr "
            f"FROM nodes n LEFT JOIN (SELECT e.s AS node, sum(a.a) AS hr "
            f"FROM e JOIN a{i} a ON e.d = a.node GROUP BY e.s) t "
            f"ON n.node = t.node)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT node, hr / "
            f"(SELECT sqrt(sum(hr * hr)) FROM h{i}_raw) AS h FROM h{i}_raw)"
        )
    n = iterations
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT h.node, round(h.h + 1e-9, 6) + 0.0 AS hub,
               round(a.a + 1e-9, 6) + 0.0 AS authority
        FROM h{n} h JOIN a{n} a ON h.node = a.node
        ORDER BY h.node
    """
    )


# -- oracle SQL builders ----------------------------------------------------

_TOKS_CTE = (
    "toks AS (SELECT doc_id, list_filter("
    "string_split_regex(lower(text), '[^a-z0-9'']+'), t -> len(t) > 0) AS t "
    "FROM documents)"
)

_GRAMS3_CTE = (
    "grams AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle "
    "FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) "
    "ELSE []::BIGINT[] END) AS u(i))"
)


def _h64(expr: str) -> str:
    """DuckDB equivalent of recover_spark portable_hash64."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def _dotsql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    )


def _cos(a: str, b: str, dim: int = 64) -> str:
    def _dot(x, y):
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE))"
        )

    return f"({_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})))"


def _kmv_overlap_sql(
    k: int = 256,
    table: str = "orders",
    key: str = "o_orderstatus",
    val: str = "o_custkey",
    salt: str = "kmv",
) -> str:
    """KMV overlap oracle: rebuild the bottom-k sketches, the merged
    union sketches, and the estimators bit-for-bit (ops/kmv.py), plus
    the exact union/intersection from the hash-domain equi-join and
    the pinned-TRUE tolerance flags.  Parameterized so the streamed
    sketch (same hashes by min-k mergeability) shares the chain."""
    h = _h64(f"concat('{salt}|', CAST({val} AS VARCHAR))")
    return f"""
        WITH hashes AS (
            SELECT DISTINCT {key} AS key, {h} AS h
            FROM {table} WHERE {val} IS NOT NULL
        ),
        ranked AS (
            SELECT key, h,
                   row_number() OVER (PARTITION BY key ORDER BY h) AS rn
            FROM hashes
        ),
        sk AS (
            SELECT key, list(h ORDER BY h) AS kmv
            FROM ranked WHERE rn <= {k} GROUP BY key
        ),
        sizes AS (SELECT key, count(*) AS n FROM hashes GROUP BY key),
        inter AS (
            SELECT a.key AS key_a, b.key AS key_b,
                   count(*) AS exact_intersect
            FROM hashes a JOIN hashes b
              ON a.h = b.h AND a.key < b.key
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.key AS key_a, b.key AS key_b,
                   a.kmv AS kmv_a, b.kmv AS kmv_b,
                   list_sort(list_distinct(a.kmv || b.kmv))[1:{k}] AS u
            FROM sk a JOIN sk b ON a.key < b.key
        ),
        est AS (
            SELECT key_a, key_b,
                   CASE WHEN len(kmv_a) < {k} THEN len(kmv_a)::DOUBLE
                        ELSE round({k - 1}.0 * 1152921504606846976.0
                                   / (kmv_a[{k}]::DOUBLE + 0.5), 6) END
                       AS est_a,
                   CASE WHEN len(kmv_b) < {k} THEN len(kmv_b)::DOUBLE
                        ELSE round({k - 1}.0 * 1152921504606846976.0
                                   / (kmv_b[{k}]::DOUBLE + 0.5), 6) END
                       AS est_b,
                   CASE WHEN len(u) < {k} THEN len(u)::DOUBLE
                        ELSE round({k - 1}.0 * 1152921504606846976.0
                                   / (u[{k}]::DOUBLE + 0.5), 6) END
                       AS est_union,
                   len(list_filter(u, x -> list_contains(kmv_a, x)
                                       AND list_contains(kmv_b, x)))
                       AS n_common,
                   len(u) AS len_u
            FROM pairs
        )
        SELECT e.key_a, e.key_b,
               CAST(sa.n + sb.n - coalesce(i.exact_intersect, 0) AS BIGINT)
                   AS exact_union,
               CAST(coalesce(i.exact_intersect, 0) AS BIGINT)
                   AS exact_intersect,
               e.est_union,
               round(e.n_common::DOUBLE / e.len_u * e.est_union, 6)
                   AS est_intersect,
               round(e.n_common::DOUBLE / e.len_u, 6) AS jaccard_est,
               abs(e.est_union
                   - (sa.n + sb.n - coalesce(i.exact_intersect, 0)))
                   <= greatest(2.0,
                       0.25 * (sa.n + sb.n - coalesce(i.exact_intersect, 0)))
                   AS union_ok,
               abs(round(e.n_common::DOUBLE / e.len_u * e.est_union, 6)
                   - coalesce(i.exact_intersect, 0))
                   <= greatest(8.0, 0.40 * coalesce(i.exact_intersect, 0))
                   AS intersect_ok
        FROM est e
        JOIN sizes sa ON e.key_a = sa.key
        JOIN sizes sb ON e.key_b = sb.key
        LEFT JOIN inter i ON e.key_a = i.key_a AND e.key_b = i.key_b
        ORDER BY e.key_a, e.key_b
    """


def _contrastive_triplets_sql() -> str:
    """Triplet-mining oracle: the dedup_jaccard pair CTE chain for
    positives, the (lang, bucket) md5-rank ring shift for negatives,
    the symmetric-pair NOT EXISTS exclusion — every rule mirrored."""
    h = _h64("concat('ctr|', CAST(doc_id AS VARCHAR))")
    return f"""
        WITH {_TOKS_CTE}, {_GRAMS3_CTE},
        rare AS (SELECT shingle FROM grams
                 GROUP BY shingle HAVING count(*) <= 50),
        g2 AS (SELECT g.doc_id, g.shingle FROM grams g
               JOIN rare r ON g.shingle = r.shingle),
        sz AS (SELECT doc_id, count(*) AS set_size FROM g2 GROUP BY doc_id),
        jp AS (
            SELECT i.id_a, i.id_b
            FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                         count(*) AS n_common
                  FROM g2 a JOIN g2 b ON a.shingle = b.shingle
                  WHERE a.doc_id < b.doc_id
                  GROUP BY 1, 2) i
            JOIN sz sa ON i.id_a = sa.doc_id
            JOIN sz sb ON i.id_b = sb.doc_id
            WHERE i.n_common
                  / (sa.set_size + sb.set_size - i.n_common) >= 0.2
        ),
        pos AS (SELECT id_a AS anchor_id, min(id_b) AS positive_id
                FROM jp GROUP BY id_a),
        sym AS (SELECT id_a AS a, id_b AS b FROM jp
                UNION ALL SELECT id_b AS a, id_a AS b FROM jp),
        rk AS (SELECT doc_id, lang, h, h % 4 AS bucket
               FROM (SELECT doc_id, lang, {h} AS h FROM documents)),
        rr AS (SELECT doc_id, lang, bucket,
                      row_number() OVER (PARTITION BY lang, bucket
                                         ORDER BY h) AS rn,
                      count(*) OVER (PARTITION BY lang, bucket) AS cnt
               FROM rk),
        ng AS (
            SELECT t.doc_id AS anchor_id, r2.doc_id AS negative_id, t.lang
            FROM (SELECT doc_id, lang, bucket,
                         CAST(((rn - 1 + cnt // 2) % cnt) + 1 AS INT)
                             AS target
                  FROM rr) t
            JOIN rr r2 ON t.lang = r2.lang AND t.bucket = r2.bucket
                      AND t.target = r2.rn
        )
        SELECT p.anchor_id, p.positive_id, n.negative_id, n.lang
        FROM pos p JOIN ng n ON p.anchor_id = n.anchor_id
        WHERE n.negative_id <> p.anchor_id
          AND n.negative_id <> p.positive_id
          AND NOT EXISTS (SELECT 1 FROM sym s
                          WHERE s.a = p.anchor_id
                            AND s.b = n.negative_id)
        ORDER BY p.anchor_id
    """


def _retrieval_prf_sql(
    k: int = 5, fb_docs: int = 3, fb_terms: int = 5, alpha: float = 0.6
) -> str:
    """RM3 oracle: the bm25 CTE chain run twice, with the feedback-doc
    selection, expansion-term mining (round-9 weights, term-asc ties),
    and interpolated query model mirrored stage for stage."""
    contrib = """
        ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5))
        * (tf.tf * (1.2 + 1.0))
        / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
    """
    return f"""
        WITH toks AS (
            SELECT doc_id, t.term
            FROM documents,
                 UNNEST(regexp_split_to_array(lower(text),
                        '[^a-z0-9'']+')) AS t(term)
            WHERE t.term <> ''
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks GROUP BY doc_id, term),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        q(query_id, query_text) AS (VALUES
            ('q_join', 'hash join merge'),
            ('q_scan', 'fast table scan'),
            ('q_stream', 'stream batch window')),
        qterms AS (
            SELECT DISTINCT query_id, t.term
            FROM q,
                 UNNEST(regexp_split_to_array(lower(query_text),
                        '[^a-z0-9'']+')) AS t(term)
            WHERE t.term <> ''
        ),
        pass1 AS (
            SELECT qt.query_id, tf.doc_id,
                   round(sum(1.0 * ({contrib})), 6) AS score
            FROM tf
            JOIN qterms qt USING (term)
            JOIN dl USING (doc_id)
            JOIN dfreq d USING (term)
            CROSS JOIN corpus c
            GROUP BY qt.query_id, tf.doc_id
        ),
        fb AS (
            SELECT query_id, doc_id FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, doc_id ASC) AS rank
                FROM pass1)
            WHERE rank <= {fb_docs}
        ),
        fbw AS (
            SELECT f.query_id, tf.term,
                   round(sum(tf.tf / dl.dl), 9) AS w_raw
            FROM fb f
            JOIN tf ON tf.doc_id = f.doc_id
            JOIN dl ON dl.doc_id = f.doc_id
            WHERE NOT EXISTS (SELECT 1 FROM qterms qt
                              WHERE qt.query_id = f.query_id
                                AND qt.term = tf.term)
            GROUP BY f.query_id, tf.term
        ),
        expsel AS (
            SELECT query_id, term, w_raw FROM (
                SELECT query_id, term, w_raw,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY w_raw DESC, term ASC) AS trank
                FROM fbw)
            WHERE trank <= {fb_terms}
        ),
        expterms AS (
            SELECT query_id, term,
                   (1.0 - {alpha}) * w_raw
                   / sum(w_raw) OVER (PARTITION BY query_id) AS w
            FROM expsel
        ),
        nq AS (SELECT query_id, count(*) AS nq FROM qterms GROUP BY query_id),
        model AS (
            SELECT query_id, term, round(sum(w), 9) AS w
            FROM (
                SELECT qt.query_id, qt.term, {alpha} / nq.nq AS w
                FROM qterms qt JOIN nq USING (query_id)
                UNION ALL
                SELECT query_id, term, w FROM expterms
            ) GROUP BY query_id, term
        ),
        pass2 AS (
            SELECT m.query_id, tf.doc_id,
                   round(sum(m.w * ({contrib})), 6) AS score
            FROM tf
            JOIN model m USING (term)
            JOIN dl USING (doc_id)
            JOIN dfreq d USING (term)
            CROSS JOIN corpus c
            GROUP BY m.query_id, tf.doc_id
        )
        SELECT query_id, rank, doc_id, score
        FROM (
            SELECT query_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
                   doc_id, score
            FROM pass2
        )
        WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def _cm_oracle_sql(depth: int = 4, width: int = 64) -> str:
    """DuckDB mirror of the count-min sketch: the hash family is the
    portable md5-derived hash32 (salt 'cm<row>'), so the oracle
    rebuilds the identical cell table and the estimates hash exactly."""

    def h(i: int) -> str:
        return (
            "CAST(concat('0x', substr(md5(concat('cm"
            + str(i)
            + "', '|', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % "
            + str(width)
        )

    cell_src = " UNION ALL ".join(
        f"SELECT event_type, {i} AS row, {h(i)} AS col "
        "FROM events WHERE user_id IS NOT NULL"
        for i in range(depth)
    )
    qcell_src = " UNION ALL ".join(
        f"SELECT event_type, user_id, {i} AS row, {h(i)} AS col FROM q"
        for i in range(depth)
    )
    return f"""
        WITH cells AS (
            SELECT event_type, row, col, CAST(count(*) AS BIGINT) AS cnt
            FROM ({cell_src}) GROUP BY event_type, row, col),
        q AS (SELECT DISTINCT event_type, user_id FROM events
              WHERE user_id < 8),
        qc AS ({qcell_src}),
        est AS (
            SELECT qc.event_type, qc.user_id,
                   min(coalesce(c.cnt, 0)) AS cm_count
            FROM qc LEFT JOIN cells c
              ON qc.event_type = c.event_type AND qc.row = c.row
                 AND qc.col = c.col
            GROUP BY qc.event_type, qc.user_id),
        ex AS (
            SELECT event_type, user_id,
                   CAST(count(*) AS BIGINT) AS n_exact
            FROM events WHERE user_id < 8
            GROUP BY event_type, user_id)
        SELECT e.event_type, e.user_id,
               CAST(e.cm_count AS BIGINT) AS cm_count, x.n_exact,
               e.cm_count >= x.n_exact AS never_underestimates
        FROM est e JOIN ex x
          ON e.event_type = x.event_type AND e.user_id = x.user_id
        ORDER BY e.event_type, e.user_id
    """


def _textrank_oracle_sql(
    top_k: int = 5, damping: float = 0.85, iterations: int = 4,
    min_len: int = 3,
) -> str:
    """DuckDB mirror of textrank_keywords: same filtered-adjacency
    graph, the same fixed power steps as chained CTEs, the same
    rounded-score top-k.  The teleport constant is emitted as the
    Python double ``1.0 - damping`` (repr), so both engines damp with
    the bit-identical factor."""
    d = repr(float(damping))
    t = repr(1.0 - float(damping))
    iters = []
    prev = "r0"
    for it in range(1, iterations + 1):
        cur = f"r{it}"
        iters.append(f"""
        {cur} AS (
            SELECT o.source, o.u AS node,
                   {t} / g.n + {d} * coalesce(c.c, 0) AS r
            FROM outw o
            JOIN ng g ON o.source = g.source
            LEFT JOIN (
                SELECT tr.source, tr.v AS node, sum(tr.p * pr.r) AS c
                FROM trans tr
                JOIN {prev} pr ON tr.source = pr.source
                              AND tr.u = pr.node
                GROUP BY tr.source, tr.v) c
              ON o.source = c.source AND o.u = c.node)""")
        prev = cur
    iters_sql = ",".join(iters)
    return f"""
        WITH tk AS (
            SELECT source,
                   list_filter(
                       list_filter(
                           string_split_regex(lower(text), '[^a-z0-9'']+'),
                           x -> len(x) > 0),
                       x -> len(x) >= {min_len}) AS t
            FROM documents),
        pairs AS (
            SELECT source, t[u.i] AS u, t[u.i + 1] AS v
            FROM tk, UNNEST(CASE WHEN len(t) >= 2 THEN range(1, len(t))
                            ELSE []::BIGINT[] END) AS u(i)
            WHERE t[u.i] <> t[u.i + 1]),
        pw AS (SELECT source, u, v, CAST(count(*) AS DOUBLE) AS w
               FROM pairs GROUP BY source, u, v),
        und AS (
            SELECT source, u, v, sum(w) AS w FROM (
                SELECT source, u, v, w FROM pw
                UNION ALL
                SELECT source, v AS u, u AS v, w FROM pw)
            GROUP BY source, u, v),
        outw AS (SELECT source, u, sum(w) AS ow
                 FROM und GROUP BY source, u),
        trans AS (
            SELECT n.source, n.u, n.v, n.w / o.ow AS p
            FROM und n JOIN outw o ON n.source = o.source AND n.u = o.u),
        ng AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
               FROM outw GROUP BY source),
        r0 AS (
            SELECT o.source, o.u AS node, 1.0 / g.n AS r
            FROM outw o JOIN ng g ON o.source = g.source),
        {iters_sql}
        SELECT source, node AS term, score, rank FROM (
            SELECT source, node,
                   round(r + 1e-12, 7) + 0.0 AS score,
                   CAST(row_number() OVER (PARTITION BY source
                       ORDER BY round(r + 1e-12, 7) DESC, node ASC)
                       AS INT) AS rank
            FROM {prev})
        WHERE rank <= {top_k}
        ORDER BY source, rank
    """


def _ann_recall_sql() -> str:
    """Recall@5 of the IVF ranking vs exact brute force at nprobe
    1/4/8 — composes the (already hash-verified) ann_ivf and ann_topk
    oracle shapes, one join + ratio per arm."""
    arms = []
    for n in (1, 4, 8):
        arms.append(f"""
            SELECT {n} AS np, qid, vid FROM (
                SELECT p.qid, l.vec_id AS vid,
                       row_number() OVER (PARTITION BY p.qid
                           ORDER BY {_cos('l.embedding', 'p.qvec')} DESC,
                                    l.vec_id ASC) AS rank
                FROM (SELECT qid, qvec, cid FROM probed WHERE rn <= {n}) p
                JOIN lists l ON p.cid = l.cid AND l.vec_id != p.qid)
            WHERE rank <= 5""")
    arms_sql = " UNION ALL ".join(arms)
    return f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding AS cvec,
                   sqrt({_dotsql('embedding', 'embedding')}) AS cnorm
            FROM embeddings WHERE vec_id < 8),
        assign AS (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_dotsql('e.embedding', 'c.cvec')} / c.cnorm
                                DESC, c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cent c),
        lists AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
        probed AS (
            SELECT qid, qvec, cid, rn FROM (
                SELECT q.vec_id AS qid, q.embedding AS qvec, c.cid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {_dotsql('q.embedding', 'c.cvec')}
                                    / c.cnorm DESC, c.cid ASC) AS rn
                FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 3)),
        exact AS (
            SELECT qid, vid FROM (
                SELECT q.vec_id AS qid, e.vec_id AS vid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {_cos('e.embedding', 'q.embedding')}
                                    DESC, e.vec_id ASC) AS rank
                FROM embeddings e
                JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
                  ON e.vec_id != q.vec_id)
            WHERE rank <= 5),
        appr AS ({arms_sql}),
        hits AS (
            SELECT a.np, count(*) AS n_hits
            FROM appr a JOIN exact x ON a.qid = x.qid AND a.vid = x.vid
            GROUP BY a.np)
        SELECT CAST(n.np AS INTEGER) AS nprobe,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               round(coalesce(h.n_hits, 0)
                     / (SELECT count(*) FROM exact) + 1e-9, 6) + 0.0 AS recall
        FROM (SELECT 1 AS np UNION ALL SELECT 4 UNION ALL SELECT 8) n
        LEFT JOIN hits h ON n.np = h.np
    """


def _ivf_pq_parts_ctes(
    m: int = 8, subdim: int = 8, n_codes: int = 16,
    train_pred: str = "TRUE",
) -> str:
    """The CTE chain every IVF-PQ oracle shares: one deterministic
    Lloyd step per subspace (seed codes = subvector slices of rows
    vec_id < n_codes, squared-L2 assignment with lowest-id ties,
    per-dimension mean re-centering with the keep-previous empty-cell
    rule), corpus encoding, IVF list assignment, query probing, and
    the per-(query, candidate) ADC numerator/reconstruction-norm fold
    (``parts``).  ``train_pred`` restricts the CODEBOOK-TRAINING rows
    (the frozen-codebook append lifecycle: codebooks from the initial
    corpus slice, codes for everything).  Callers compose their final
    SELECT (ADC top-k, or shortlist + exact refine) over ``parts``."""
    d2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (x.xv[i]::DOUBLE - c.cv[i]) * (x.xv[i]::DOUBLE - c.cv[i])))"
    ).format(n=subdim + 1)
    return f"""subq AS (
            SELECT e.vec_id, u.s,
                   e.embedding[u.s * {subdim} + 1 : u.s * {subdim} + {subdim}]
                       AS xv
            FROM embeddings e, UNNEST(range(0, {m})) AS u(s)),
        cb0 AS (
            SELECT s, vec_id AS j,
                   list_transform(xv, x -> x::DOUBLE) AS cv
            FROM subq WHERE vec_id < {n_codes}),
        asn0 AS (
            SELECT x.vec_id, x.s, c.j
            FROM subq x JOIN cb0 c ON x.s = c.s
            WHERE {train_pred}
            QUALIFY row_number() OVER (PARTITION BY x.vec_id, x.s
                ORDER BY {d2} ASC, c.j ASC) = 1),
        cb1d AS (
            SELECT n.s, n.j, u.i, avg(x.xv[u.i]::DOUBLE) AS mu
            FROM asn0 n
            JOIN subq x ON n.vec_id = x.vec_id AND n.s = x.s,
                 UNNEST(range(1, {subdim + 1})) AS u(i)
            GROUP BY n.s, n.j, u.i),
        cb1 AS (SELECT s, j, list(mu ORDER BY i) AS cv
                FROM cb1d GROUP BY s, j),
        cbf AS (
            SELECT c0.s, c0.j, coalesce(c1.cv, c0.cv) AS cv
            FROM cb0 c0
            LEFT JOIN cb1 c1 ON c0.s = c1.s AND c0.j = c1.j),
        codes AS (
            SELECT x.vec_id, x.s, c.j, c.cv
            FROM subq x JOIN cbf c ON x.s = c.s
            QUALIFY row_number() OVER (PARTITION BY x.vec_id, x.s
                ORDER BY {d2} ASC, c.j ASC) = 1),
        cent AS (
            SELECT vec_id AS cid, embedding AS cvec,
                   sqrt({_dotsql('embedding', 'embedding')}) AS cnorm
            FROM embeddings WHERE vec_id < 8),
        assignl AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_dotsql('e.embedding', 'c.cvec')} / c.cnorm
                                DESC, c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cent c),
        lists AS (SELECT vec_id, cid FROM assignl WHERE rn = 1),
        probed AS (
            SELECT qid, qvec, qnorm, cid FROM (
                SELECT q.vec_id AS qid, q.embedding AS qvec,
                       sqrt({_dotsql('q.embedding', 'q.embedding')})
                           AS qnorm,
                       c.cid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {_dotsql('q.embedding', 'c.cvec')}
                                    / c.cnorm DESC, c.cid ASC) AS rn
                FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 3)
            WHERE rn <= 2),
        parts AS (
            SELECT p.qid AS query_vec_id, l.vec_id,
                   max(p.qnorm) AS qnorm,
                   sum(list_sum(list_transform(range(1, {subdim + 1}),
                       i -> p.qvec[r.s * {subdim} + i]::DOUBLE * r.cv[i])))
                       AS adc,
                   sum(list_sum(list_transform(range(1, {subdim + 1}),
                       i -> r.cv[i] * r.cv[i]))) AS nn
            FROM probed p
            JOIN lists l ON p.cid = l.cid AND l.vec_id != p.qid
            JOIN codes r ON r.vec_id = l.vec_id
            GROUP BY p.qid, l.vec_id)"""


def _ann_ivf_pq_sql(
    m: int = 8, subdim: int = 8, n_codes: int = 16,
    train_pred: str = "TRUE",
) -> str:
    """DuckDB mirror of ivf_pq_topk: the shared PQ CTE chain with the
    ADC top-k readout."""
    return f"""
        WITH {_ivf_pq_parts_ctes(m, subdim, n_codes, train_pred)}
        SELECT query_vec_id, vec_id, round(sc, 6) AS pq_cosine, rank
        FROM (SELECT query_vec_id, vec_id,
                     adc / (sqrt(nn) * qnorm) AS sc,
                     CAST(row_number() OVER (PARTITION BY query_vec_id
                         ORDER BY adc / (sqrt(nn) * qnorm) DESC,
                                  vec_id ASC) AS INTEGER) AS rank
              FROM parts)
        WHERE rank <= 5
    """


def _ann_ivf_pq_refined_sql(
    m: int = 8, subdim: int = 8, n_codes: int = 16,
    shortlist_r: int = 20, k: int = 5,
) -> str:
    """DuckDB mirror of ivf_pq_topk_refined: ADC top-R shortlist from
    the shared PQ CTE chain, exact-cosine re-rank of the shortlist
    against the float vectors, top-k readout."""
    return f"""
        WITH {_ivf_pq_parts_ctes(m, subdim, n_codes)},
        shortlist AS (
            SELECT query_vec_id, vec_id FROM (
                SELECT query_vec_id, vec_id,
                       row_number() OVER (PARTITION BY query_vec_id
                           ORDER BY adc / (sqrt(nn) * qnorm) DESC,
                                    vec_id ASC) AS r
                FROM parts)
            WHERE r <= {shortlist_r})
        SELECT query_vec_id, vec_id, round(cosv, 6) AS cosine, rank
        FROM (
            SELECT s.query_vec_id, s.vec_id,
                   {_cos('e.embedding', 'q.embedding')} AS cosv,
                   CAST(row_number() OVER (PARTITION BY s.query_vec_id
                       ORDER BY {_cos('e.embedding', 'q.embedding')} DESC,
                                s.vec_id ASC) AS INTEGER) AS rank
            FROM shortlist s
            JOIN embeddings e ON e.vec_id = s.vec_id
            JOIN embeddings q ON q.vec_id = s.query_vec_id)
        WHERE rank <= {k}
    """


def _ann_pq_recall_sql(
    m: int = 8, subdim: int = 8, n_codes: int = 16
) -> str:
    """Recall@5 of IVF-PQ vs the exact brute-force ranking at nprobe
    2 and 8(=all lists), for both the raw ADC ranking and the
    shortlist(20)-then-exact-refine composition: at (8, adc) the gap
    is PURE quantization loss — the number a user reads to size
    m/n_codes; at the production nprobe it is the combined
    pruning+quantization loss; the refined rows show what the exact
    re-rank recovers.  Shares the PQ train/encode CTE shapes with
    _ann_ivf_pq_sql and the recall fold with _ann_recall_sql."""
    d2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (x.xv[i]::DOUBLE - c.cv[i]) * (x.xv[i]::DOUBLE - c.cv[i])))"
    ).format(n=subdim + 1)

    def adc_parts(n):
        return f"""
                    SELECT p.qid AS query_vec_id, l.vec_id,
                           max(p.qnorm) AS qnorm,
                           sum(list_sum(list_transform(
                               range(1, {subdim + 1}),
                               i -> p.qvec[r.s * {subdim} + i]::DOUBLE
                                    * r.cv[i]))) AS adc,
                           sum(list_sum(list_transform(
                               range(1, {subdim + 1}),
                               i -> r.cv[i] * r.cv[i]))) AS nn
                    FROM (SELECT qid, qvec, qnorm, cid FROM probed
                          WHERE rn <= {n}) p
                    JOIN lists l ON p.cid = l.cid AND l.vec_id != p.qid
                    JOIN codes r ON r.vec_id = l.vec_id
                    GROUP BY p.qid, l.vec_id"""

    arms = []
    for n in (2, 8):
        arms.append(f"""
            SELECT {n} AS np, 'adc' AS variant,
                   query_vec_id AS qid, vec_id AS vid FROM (
                SELECT query_vec_id, vec_id,
                       row_number() OVER (PARTITION BY query_vec_id
                           ORDER BY adc / (sqrt(nn) * qnorm) DESC,
                                    vec_id ASC) AS rank
                FROM ({adc_parts(n)}))
            WHERE rank <= 5""")
        arms.append(f"""
            SELECT {n} AS np, 'refined' AS variant,
                   query_vec_id AS qid, vec_id AS vid FROM (
                SELECT s.query_vec_id, s.vec_id,
                       row_number() OVER (PARTITION BY s.query_vec_id
                           ORDER BY {_cos('e.embedding', 'q.embedding')}
                                    DESC, s.vec_id ASC) AS rank
                FROM (
                    SELECT query_vec_id, vec_id FROM (
                        SELECT query_vec_id, vec_id,
                               row_number() OVER (
                                   PARTITION BY query_vec_id
                                   ORDER BY adc / (sqrt(nn) * qnorm)
                                            DESC, vec_id ASC) AS r
                        FROM ({adc_parts(n)}))
                    WHERE r <= 20) s
                JOIN embeddings e ON e.vec_id = s.vec_id
                JOIN embeddings q ON q.vec_id = s.query_vec_id)
            WHERE rank <= 5""")
    arms_sql = " UNION ALL ".join(arms)
    return f"""
        WITH subq AS (
            SELECT e.vec_id, u.s,
                   e.embedding[u.s * {subdim} + 1 : u.s * {subdim} + {subdim}]
                       AS xv
            FROM embeddings e, UNNEST(range(0, {m})) AS u(s)),
        cb0 AS (
            SELECT s, vec_id AS j,
                   list_transform(xv, x -> x::DOUBLE) AS cv
            FROM subq WHERE vec_id < {n_codes}),
        asn0 AS (
            SELECT x.vec_id, x.s, c.j
            FROM subq x JOIN cb0 c ON x.s = c.s
            QUALIFY row_number() OVER (PARTITION BY x.vec_id, x.s
                ORDER BY {d2} ASC, c.j ASC) = 1),
        cb1d AS (
            SELECT n.s, n.j, u.i, avg(x.xv[u.i]::DOUBLE) AS mu
            FROM asn0 n
            JOIN subq x ON n.vec_id = x.vec_id AND n.s = x.s,
                 UNNEST(range(1, {subdim + 1})) AS u(i)
            GROUP BY n.s, n.j, u.i),
        cb1 AS (SELECT s, j, list(mu ORDER BY i) AS cv
                FROM cb1d GROUP BY s, j),
        cbf AS (
            SELECT c0.s, c0.j, coalesce(c1.cv, c0.cv) AS cv
            FROM cb0 c0
            LEFT JOIN cb1 c1 ON c0.s = c1.s AND c0.j = c1.j),
        codes AS (
            SELECT x.vec_id, x.s, c.j, c.cv
            FROM subq x JOIN cbf c ON x.s = c.s
            QUALIFY row_number() OVER (PARTITION BY x.vec_id, x.s
                ORDER BY {d2} ASC, c.j ASC) = 1),
        cent AS (
            SELECT vec_id AS cid, embedding AS cvec,
                   sqrt({_dotsql('embedding', 'embedding')}) AS cnorm
            FROM embeddings WHERE vec_id < 8),
        assignl AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_dotsql('e.embedding', 'c.cvec')} / c.cnorm
                                DESC, c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cent c),
        lists AS (SELECT vec_id, cid FROM assignl WHERE rn = 1),
        probed AS (
            SELECT qid, qvec, qnorm, cid, rn FROM (
                SELECT q.vec_id AS qid, q.embedding AS qvec,
                       sqrt({_dotsql('q.embedding', 'q.embedding')})
                           AS qnorm,
                       c.cid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {_dotsql('q.embedding', 'c.cvec')}
                                    / c.cnorm DESC, c.cid ASC) AS rn
                FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 3)),
        exact AS (
            SELECT qid, vid FROM (
                SELECT q.vec_id AS qid, e.vec_id AS vid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {_cos('e.embedding', 'q.embedding')}
                                    DESC, e.vec_id ASC) AS rank
                FROM embeddings e
                JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
                  ON e.vec_id != q.vec_id)
            WHERE rank <= 5),
        appr AS ({arms_sql}),
        hits AS (
            SELECT a.np, a.variant, count(*) AS n_hits
            FROM appr a JOIN exact x ON a.qid = x.qid AND a.vid = x.vid
            GROUP BY a.np, a.variant)
        SELECT CAST(n.np AS INTEGER) AS nprobe, n.variant,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               round(coalesce(h.n_hits, 0)
                     / (SELECT count(*) FROM exact) + 1e-9, 6) + 0.0 AS recall
        FROM (SELECT 2 AS np, 'adc' AS variant
              UNION ALL SELECT 2, 'refined'
              UNION ALL SELECT 8, 'adc'
              UNION ALL SELECT 8, 'refined') n
        LEFT JOIN hits h ON n.np = h.np AND n.variant = h.variant
        ORDER BY nprobe, n.variant
    """


def _chi2_residuals_oracle_sql(
    cols: list[str], cut: str, n_bins: int = 10
) -> str:
    """Per-(column, bin) adjusted residuals of the era homogeneity
    table — the _chi2_oracle_sql binning blocks exposed at cell grain
    with the Agresti adjusted-residual fold."""
    fr = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    blocks = []
    for c in cols:
        e_expr = "(n_base + n_cur)::DOUBLE * tc / (tb + tc)"
        denom = (
            f"{e_expr} * (1 - (n_base + n_cur)::DOUBLE / (tb + tc)) "
            f"* (1 - tc / (tb + tc))"
        )
        blocks.append(f"""
            SELECT '{c}' AS "column", CAST(bin AS INT) AS bin,
                   CAST(n_base AS BIGINT) AS n_base,
                   CAST(n_cur AS BIGINT) AS n_cur,
                   round({e_expr} + 1e-9, 6) + 0.0 AS expected_cur,
                   round(CASE WHEN {denom} > 0
                         THEN (n_cur - {e_expr}) / sqrt({denom})
                         END + 1e-9, 6) + 0.0 AS adj_residual
            FROM (
                WITH base AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate < TIMESTAMP '{cut}'
                          AND {c} IS NOT NULL
                ),
                cur AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate >= TIMESTAMP '{cut}'
                          AND {c} IS NOT NULL
                ),
                e AS (SELECT list_transform(quantile_cont(v, [{fr}]),
                            x -> round(x, 9)) AS edges FROM base),
                bb AS (SELECT len(list_filter(e.edges, x -> x <= v))
                           AS bin FROM base, e),
                cb AS (SELECT len(list_filter(e.edges, x -> x <= v))
                           AS bin FROM cur, e),
                slots AS (SELECT unnest(range({n_bins})) AS bin),
                nb AS (SELECT s.bin, coalesce(x.n, 0) AS n_base
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM bb
                             GROUP BY 1) x USING (bin)),
                nc AS (SELECT s.bin, coalesce(x.n, 0) AS n_cur
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM cb
                             GROUP BY 1) x USING (bin))
                SELECT bin, n_base, n_cur,
                       (SELECT sum(n_base) FROM nb)::DOUBLE AS tb,
                       (SELECT sum(n_cur) FROM nc)::DOUBLE AS tc
                FROM nb JOIN nc USING (bin)
            )
            WHERE n_base + n_cur > 0""")
    return " UNION ALL ".join(blocks)


def _lsh_bucket_sql(
    col: str, dim: int = 64, num_planes: int = 4, seed: int = 42
) -> str:
    """DuckDB expression for the hyperplane-LSH bucket of ``col``,
    mirroring recover_spark.ops.similarity.lsh_bucket_signature: bit p =
    (dot(v, h_p) >= 0), hyperplanes inlined as full-precision literals
    (repr roundtrips doubles exactly in both engines)."""
    from recover_spark.ops.similarity import _hyperplane

    bits = []
    for p in range(num_planes):
        plane = _hyperplane(dim, seed, p)
        arr = "[" + ", ".join(repr(w) for w in plane) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> {col}[i]::DOUBLE * ({arr})[i]))"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {2 ** p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _simhash_sql(bits: int = 16) -> str:
    h = _h64("concat('simhash', '|', tok)")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b_{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN b_{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(bits)
    )
    return (
        f"WITH {_TOKS_CTE}, "
        f"tok AS (SELECT doc_id, unnest(t) AS tok FROM toks), "
        f"hashed AS (SELECT doc_id, {h} AS h FROM tok), "
        f"sums AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id) "
        f"SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums"
    )


def _minhash_sql(num_hashes: int = 4) -> str:
    mins = ", ".join(
        "MIN({h}) AS mh_{i}".format(
            h=_h64("concat('mh{i}', '|', shingle)".format(i=i)), i=i
        )
        for i in range(num_hashes)
    )
    return (
        f"WITH {_TOKS_CTE}, {_GRAMS3_CTE} "
        f"SELECT doc_id, {mins} FROM grams GROUP BY doc_id"
    )


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peeling: each round recomputes degrees over the
    surviving edge set and keeps nodes with degree >= k.  Rounds past
    the fixpoint are identity transforms, so a fixed depth that covers
    the data's peel depth equals the engine's converge-then-stop."""
    # each level is referenced three times (degree pass + both join
    # sides); MATERIALIZED stops DuckDB's default CTE inlining from
    # re-expanding the chain 3^rounds times
    parts = [
        "WITH e AS MATERIALIZED (SELECT DISTINCT 'o' || l_orderkey AS s, "
        "'p' || l_partkey AS d FROM lineitem), "
        "e0 AS MATERIALIZED (SELECT s, d FROM e UNION ALL "
        "SELECT d, s FROM e)"
    ]
    for r in range(rounds):
        parts.append(
            f"d{r} AS (SELECT s, count(*) AS c FROM e{r} GROUP BY s), "
            f"n{r} AS MATERIALIZED (SELECT s FROM d{r} WHERE c >= {k}), "
            f"e{r + 1} AS MATERIALIZED (SELECT e{r}.s, e{r}.d FROM e{r} "
            f"JOIN n{r} a ON e{r}.s = a.s "
            f"JOIN n{r} b ON e{r}.d = b.s)"
        )
    return (
        ", ".join(parts)
        + f" SELECT s AS node, CAST(count(*) AS BIGINT) AS degree "
        f"FROM e{rounds} GROUP BY s"
    )


def _fuzzy_decontam_sql(
    num_hashes: int = 16,
    bands: int = 4,
    min_agreement: float = 0.25,
    mod: int = 97,
) -> str:
    rows = num_hashes // bands
    mins = ", ".join(
        "MIN({h}) AS mh_{i}".format(
            h=_h64("concat('mh{i}', '|', shingle)".format(i=i)), i=i
        )
        for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS band_hash "
        "FROM sigs".format(
            b=b,
            cols=", ".join(
                f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return (
        f"WITH {_TOKS_CTE}, {_GRAMS3_CTE}, "
        f"sigs AS (SELECT doc_id, {mins} FROM grams GROUP BY doc_id), "
        f"bandsall AS ({band_selects}), "
        f"pairs AS (SELECT DISTINCT c.doc_id AS doc_id, "
        f"b.doc_id AS bench_id "
        f"FROM bandsall c JOIN bandsall b "
        f"ON c.band = b.band AND c.band_hash = b.band_hash "
        f"WHERE c.doc_id % {mod} <> 0 AND b.doc_id % {mod} = 0) "
        f"SELECT doc_id, bench_id, signature_agreement "
        f"FROM (SELECT p.doc_id, p.bench_id, "
        f"({agree}) / {num_hashes}.0 AS signature_agreement "
        f"FROM pairs p JOIN sigs sa ON p.doc_id = sa.doc_id "
        f"JOIN sigs sb ON p.bench_id = sb.doc_id) "
        f"WHERE signature_agreement >= {min_agreement}"
    )


def _minhash_lsh_sql(
    num_hashes: int = 16, bands: int = 4, min_agreement: float = 0.5
) -> str:
    rows = num_hashes // bands
    mins = ", ".join(
        "MIN({h}) AS mh_{i}".format(
            h=_h64("concat('mh{i}', '|', shingle)".format(i=i)), i=i
        )
        for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS band_hash "
        "FROM sigs".format(
            b=b,
            cols=", ".join(
                f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return (
        f"WITH {_TOKS_CTE}, {_GRAMS3_CTE}, "
        f"sigs AS (SELECT doc_id, {mins} FROM grams GROUP BY doc_id), "
        f"bands AS ({band_selects}), "
        f"pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        f"FROM bands a JOIN bands b "
        f"ON a.band = b.band AND a.band_hash = b.band_hash "
        f"WHERE a.doc_id < b.doc_id) "
        f"SELECT id_a, id_b, round(agreement, 6) AS signature_agreement "
        f"FROM (SELECT p.id_a, p.id_b, ({agree}) / {num_hashes}.0 AS agreement "
        f"FROM pairs p JOIN sigs sa ON p.id_a = sa.doc_id "
        f"JOIN sigs sb ON p.id_b = sb.doc_id) "
        f"WHERE agreement >= {min_agreement}"
    )


def _lsh_recall_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """Recall of the LSH candidate join vs exact Jaccard pairs per
    Jaccard band — composes the dedup_jaccard and dedup_minhash_lsh
    oracle shapes over shared shingle CTEs."""
    rows = num_hashes // bands
    mins = ", ".join(
        "MIN({h}) AS mh_{i}".format(
            h=_h64("concat('mh{i}', '|', shingle)".format(i=i)), i=i
        )
        for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS band_hash "
        "FROM sigs".format(
            b=b,
            cols=", ".join(
                f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
        WITH {_TOKS_CTE}, {_GRAMS3_CTE},
        sigs AS (SELECT doc_id, {mins} FROM grams GROUP BY doc_id),
        bands AS ({band_selects}),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_hash = b.band_hash
                 WHERE a.doc_id < b.doc_id),
        rare AS (SELECT shingle FROM grams
                 GROUP BY shingle HAVING count(*) <= 50),
        g2 AS (SELECT g.doc_id, g.shingle FROM grams g
               JOIN rare r ON g.shingle = r.shingle),
        sizes AS (SELECT doc_id, count(*) AS set_size
                  FROM g2 GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) AS n_common
            FROM g2 a JOIN g2 b ON a.shingle = b.shingle
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
        exact AS (
            SELECT id_a, id_b,
                   n_common / (sa.set_size + sb.set_size - n_common)
                       AS jaccard
            FROM inter
            JOIN sizes sa ON inter.id_a = sa.doc_id
            JOIN sizes sb ON inter.id_b = sb.doc_id
            WHERE n_common / (sa.set_size + sb.set_size - n_common)
                  >= 0.2),
        banded AS (
            SELECT least(CAST(floor(e.jaccard * 5) AS INT), 4) AS j_band,
                   CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM exact e
            LEFT JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b)
        SELECT j_band, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(hit) AS BIGINT) AS n_caught,
               round(sum(hit) / count(*) + 1e-9, 6) + 0.0 AS recall
        FROM banded GROUP BY j_band
    """


_QUALITY_VERDICT_CTES = r"""base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text),
                                   '[^a-z0-9'']+'), t -> len(t) > 0) AS toks,
                       CAST(len(regexp_extract_all(text, '[A-Za-z0-9'']+'))
                           AS INT) AS n_tokens,
                       len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                       len(regexp_extract_all(text, '[0-9]')) AS n_digit,
                       len(regexp_extract_all(text, '\s')) AS n_space,
                       length(text) AS n_chars
                FROM documents),
            feat AS (
                SELECT doc_id, n_tokens,
                       n_punct / greatest(n_chars, 1) AS punct_ratio,
                       n_digit / greatest(n_chars, 1) AS digit_ratio,
                       CASE WHEN n_tokens > 0
                            THEN (n_chars - n_space) / n_tokens
                            ELSE 0.0 END AS mean_word_len,
                       CASE WHEN len(toks) > 0
                            THEN len(list_filter(toks, t -> list_contains(
                                ['the','a','and','of','to','in','is','it',
                                 'that','for'], t))) / len(toks)
                            ELSE 0.0 END AS stopword_ratio
                FROM base),
            verdict AS (
                SELECT doc_id,
                       CASE WHEN n_tokens < 20 THEN 'too_few_tokens'
                            WHEN punct_ratio > 0.25 THEN 'high_punct_ratio'
                            WHEN digit_ratio > 0.30 THEN 'high_digit_ratio'
                            WHEN mean_word_len > 12.0 THEN 'long_words'
                            WHEN stopword_ratio < 0.05 THEN 'low_stopword_ratio'
                            ELSE NULL END AS fail_reason
                FROM feat)"""


def _zorder_sql(bits: int = 16) -> str:
    """DuckDB mirror of q_layout_zorder: exact-integer scaling + bit
    interleave of (user_id, hour)."""
    levels = (1 << bits) - 1

    def scaled(col, lo, hi):
        return (
            f"CASE WHEN {hi} > {lo} THEN "
            f"(({col} - {lo}) * {2 * levels} + ({hi} - {lo})) "
            f"// (2 * ({hi} - {lo})) ELSE 0 END"
        )

    terms = []
    for i, s in enumerate(["su", "sh"]):
        for j in range(bits):
            terms.append(f"((({s} >> {j}) & 1) << {j * 2 + i})")
    interleave = " | ".join(terms)
    return f"""
        WITH src AS (
            SELECT event_id, user_id,
                   epoch_us(ts) // 3600000000 AS h
            FROM events),
        b AS (SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
                     min(h) AS lo_h, max(h) AS hi_h FROM src),
        scaled AS (
            SELECT event_id,
                   {scaled('user_id', 'lo_u', 'hi_u')} AS su,
                   {scaled('h', 'lo_h', 'hi_h')} AS sh
            FROM src, b)
        SELECT event_id, CAST({interleave} AS BIGINT) AS zvalue FROM scaled
    """


def _langid_fragments() -> tuple[str, str]:
    """(hits select-list, lang CASE expr) — shared by the standalone
    langid oracle and pipeline compositions."""
    from recover_spark.ops.text_analysis import _LANG_MARKERS

    hit_cols = []
    for lang, markers in _LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        hit_cols.append(
            f"len(list_filter(t, x -> list_contains([{lst}], x))) AS h_{lang}"
        )
    langs_desc = sorted(_LANG_MARKERS, reverse=True)  # tie -> later alphabet wins
    pick = "CASE "
    for lang in langs_desc[:-1]:
        others = [f"h_{lang} >= h_{o}" for o in _LANG_MARKERS if o != lang]
        pick += f"WHEN {' AND '.join(others)} THEN '{lang}' "
    pick += f"ELSE '{langs_desc[-1]}' END"
    greatest = ", ".join(f"h_{l}" for l in _LANG_MARKERS)
    case = (
        f"CASE WHEN greatest({greatest}) = 0 THEN 'unknown' "
        f"ELSE {pick} END"
    )
    return ", ".join(hit_cols), case


def _langid_sql() -> str:
    hits, case = _langid_fragments()
    return (
        f"WITH {_TOKS_CTE}, "
        f"hits AS (SELECT doc_id, {hits} FROM toks) "
        f"SELECT doc_id, {case} AS lang_guess FROM hits"
    )


def _bootstrap_ci_sql() -> str:
    """Poisson-bootstrap oracle: the same capped inverse-CDF law on the
    same md5 uniform, thresholds imported from the one module that
    defines them (operators/analytics.py:POISSON1_CDF)."""
    from recover_spark.operators.analytics import POISSON1_CDF

    case = " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(POISSON1_CDF)
    )
    cap = len(POISSON1_CDF)
    return f"""
        WITH base AS (
            SELECT o_orderpriority AS g,
                   CAST(o_totalprice AS DOUBLE) AS x,
                   CAST(o_orderkey AS VARCHAR) AS k
            FROM orders WHERE o_totalprice IS NOT NULL),
        fan AS (
            SELECT g, x, k, CAST(t.r AS VARCHAR) AS r
            FROM base, generate_series(0, 39) AS t(r)),
        uni AS (
            SELECT g, r, x,
                   CAST(concat('0x', substr(md5(concat('boot|', k, '#', r)),
                        1, 8)) AS BIGINT) / 4294967296.0 AS u
            FROM fan),
        wtd AS (
            SELECT g, r, x,
                   CAST(CASE {case} ELSE {cap} END AS DOUBLE) AS w
            FROM uni),
        pr AS (
            SELECT g, r,
                   sum(w * x) / nullif(sum(w), 0.0) AS mb,
                   sum(x) AS s, count(*) AS c
            FROM wtd GROUP BY g, r),
        agg AS (
            SELECT g,
                   CAST(sum(c) / 40 AS BIGINT) AS n,
                   sum(s) / 40.0 AS total,
                   CAST(count(mb) AS BIGINT) AS n_boot,
                   avg(mb) AS bm,
                   stddev_samp(mb) AS bs,
                   list_sort(list(mb) FILTER (WHERE mb IS NOT NULL)) AS ms
            FROM pr GROUP BY g)
        SELECT g AS o_orderpriority, n,
               round(total / n + 1e-9, 6) + 0.0 AS mean,
               n_boot,
               round(bm + 1e-9, 6) + 0.0 AS boot_mean,
               round(bs + 1e-9, 6) + 0.0 AS se_boot,
               round(ms[least(1, n_boot)] + 1e-9, 6) + 0.0 AS ci_lo,
               round(ms[least(39, n_boot)] + 1e-9, 6) + 0.0 AS ci_hi
        FROM agg
    """


def _fdr_bh_oracle_sql() -> str:
    """BH over the v9 KS series: the v9 oracle chain is the CTE, the
    Kolmogorov tail is the same fixed 100-term truncation (the
    truncated-and-clamped value IS the statistic), BH is two windows
    over the bounded test frame."""
    ks = _ks_series_oracle_sql(["l_extendedprice", "l_quantity"],
                               "1998-06-01", 10)
    return f"""
        WITH ks AS ({ks}),
        lamd AS (
            SELECT period, "column", ks_grid, n_base, n_cur,
                   (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * ks_grid AS lam
            FROM (SELECT *, CAST(n_base AS DOUBLE) * n_cur
                            / (n_base + n_cur) AS ne FROM ks)),
        pv AS (
            SELECT period, "column", ks_grid, n_base, n_cur,
                   round(CASE WHEN lam < 0.05 THEN 1.0
                         ELSE least(1.0, greatest(0.0, 2.0 * list_sum(
                              list_transform(range(1, 101), k ->
                                  CASE WHEN k % 2 = 1 THEN 1.0
                                       ELSE -1.0 END
                                  * exp(-2.0 * k * k * lam * lam)))))
                         END + 1e-9, 6) + 0.0 AS p_value
            FROM lamd),
        ranked AS (
            SELECT *,
                   row_number() OVER (
                       ORDER BY p_value, period, "column") AS rank,
                   count(*) OVER () AS m
            FROM pv),
        stepped AS (
            SELECT *,
                   least(1.0, min(p_value * m / rank) OVER (
                       ORDER BY rank DESC ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW)) AS p_adj_raw
            FROM ranked)
        SELECT period, "column", ks_grid, n_base, n_cur, p_value,
               CAST(rank AS BIGINT) AS rank,
               round(p_adj_raw + 1e-9, 6) + 0.0 AS p_adj,
               p_adj_raw <= 0.05 AS reject
        FROM stepped
    """


def _unigram_train_oracle_sql() -> str:
    """Unigram-LM (SentencePiece-style) Viterbi-EM training as ONE
    DuckDB statement — the fourth member of the recursive-oracle
    family, retiring the LAST rows-only driver row: seed substring
    counts, then per EM round (a) logprobs as ln(eff)-ln(total) over
    exact integer counts, (b) the per-word Viterbi DP as a RECURSIVE
    position-stepping CTE (one position appended per iteration; the
    four candidate splits are plain CASE expressions over the carried
    dp list and a piece->logprob MAP, evaluated in ascending-j order
    with the strict-improvement first-max tie rule, so ties resolve
    to the longest final piece exactly like ops/unigram.py:
    viterbi_segment), (c) the segmentation backtrack as a second
    recursive walk over the back pointers, (d) prune with the
    (count DESC, piece ASC) window and the shrink/final targets.

    Engine notes: DuckDB 1.0.0's vectorized evaluation of VARIABLE-
    length nested list lambdas over multi-row inputs is unreliable
    (row-misaligned folds were observed building this oracle), so the
    DP deliberately uses the lambda-free recursive-CTE shape the
    ts_dtw/ts_holt_winters oracles already proved; all float ops are
    ln/+ on the same doubles in the same order as the trainer's
    Python kernels, and every count is BIGINT, so the hash is exact
    (verified stable across repeated runs at sf0.01 and sf0.001).

    Params mirror q_text_unigram_train: vocab_size=120,
    max_piece_len=4, n_iterations=2, min_count=2, seed_cap=960,
    shrink=0.75."""
    MPL = 4          # max_piece_len
    VS = 120         # vocab_size
    SEED_CAP = 8 * VS
    MIN_COUNT = 2
    SHRINK = 0.75


    def _round_ctes(r, vocab_in):
        """CTEs for one EM round r reading vocab table `vocab_in`:
        lp{r}, m{r}, vitw{r} (recursive position-stepping Viterbi),
        vit{r}, segw{r} (recursive backtrack walk), seg{r}, cnt{r}."""
        eff = ("CAST(CASE WHEN length(piece) = 1 THEN greatest(count, 1) "
               "ELSE count END AS DOUBLE)")
        NEG = "'-infinity'::DOUBLE"
        # candidate scores for position p = i + 1, piece length o (j = p - o),
        # evaluated in ASCENDING j order (o = MPL down to 1)
        cands = []
        for o in range(MPL, 0, -1):
            look = f"mm.m[substr(word, i + 1 - {o} + 1, {o})]"
            cands.append(
                f"CASE WHEN i + 1 - {o} >= 0 AND dp[i + 1 - {o} + 1].b > {NEG} "
                f"AND len({look}) > 0 "
                f"THEN dp[i + 1 - {o} + 1].b + {look}[1] ELSE {NEG} END")
        s_defs = ", ".join(f"({c}) AS s{idx}" for idx, c in enumerate(cands))
        mb = "greatest(" + ", ".join(f"s{idx}" for idx in range(MPL)) + ")"
        wk = "CASE " + " ".join(
            f"WHEN s{idx} = mb AND mb > {NEG} THEN CAST(i + 1 - {MPL - idx} AS INT)"
            for idx in range(MPL)) + " ELSE CAST(-1 AS INT) END"
        return f"""
            lp{r} AS (
                SELECT piece,
                       ln({eff}) - (SELECT ln(sum({eff})) FROM {vocab_in}) AS lp
                FROM {vocab_in}),
            m{r} AS (
                SELECT MAP(list(piece ORDER BY piece),
                           list(lp ORDER BY piece)) AS m
                FROM lp{r}),
            vitw{r} AS (
                SELECT word, wt, CAST(0 AS BIGINT) AS i,
                       CAST(length(word) AS BIGINT) AS n,
                       [{{'b': CAST(0.0 AS DOUBLE), 'k': CAST(0 AS INT)}}] AS dp
                FROM words
                UNION ALL
                SELECT word, wt, i + 1 AS i, n,
                       list_append(dp, {{'b': mb, 'k': {wk}}}) AS dp
                FROM (
                    SELECT word, wt, i, n, dp, {mb} AS mb,
                           s0, s1, s2, s3
                    FROM (
                        SELECT v.word, v.wt, v.i, v.n, v.dp, {s_defs}
                        FROM vitw{r} v, m{r} mm
                        WHERE v.i < v.n
                    ) c
                ) z),
            vit{r} AS (SELECT word, wt, dp FROM vitw{r} WHERE i = n),
            segw{r} AS (
                SELECT word, wt, dp, CAST(length(word) AS INT) AS i,
                       []::VARCHAR[] AS ps
                FROM vit{r}
                UNION ALL
                SELECT word, wt, dp, dp[i + 1].k AS i,
                       list_append(ps, substr(word, dp[i + 1].k + 1,
                                              i - dp[i + 1].k)) AS ps
                FROM segw{r} WHERE i > 0),
            seg{r} AS (
                SELECT word, wt, ps AS pieces FROM segw{r} WHERE i = 0),
            cnt{r} AS (
                SELECT piece, CAST(sum(wt) AS BIGINT) AS count
                FROM (SELECT wt, unnest(pieces) AS piece FROM seg{r})
                GROUP BY piece)
        """


    def _prune_cte(out_name, cnt_in, vocab_in, final):
        tgt = (str(VS) if final else
               f"greatest({VS}, CAST(ceil((SELECT count(*) FROM {vocab_in})"
               f" * {SHRINK!r}) AS BIGINT))")
        return f"""
            {out_name} AS (
                SELECT c.piece, coalesce(t.count, 0) AS count
                FROM chars c LEFT JOIN {cnt_in} t USING (piece)
                UNION ALL
                SELECT piece, count FROM (
                    SELECT t.piece, t.count,
                           row_number() OVER (ORDER BY t.count DESC,
                                              t.piece ASC) AS rn
                    FROM {cnt_in} t
                    WHERE length(t.piece) > 1 AND t.count > 0)
                WHERE rn <= ({tgt}) - (SELECT count(*) FROM chars))
        """


    def unigram_sql():
        eff = ("CAST(CASE WHEN length(piece) = 1 THEN greatest(count, 1) "
               "ELSE count END AS DOUBLE)")
        return f"""
            WITH RECURSIVE toks AS (
                SELECT list_filter(string_split_regex(lower(text),
                                                      '[^a-z0-9'']+'),
                                   t -> len(t) > 0) AS t
                FROM documents),
            words AS (
                SELECT tok AS word, CAST(count(*) AS BIGINT) AS wt
                FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
            subs AS (
                SELECT piece, CAST(sum(wt) AS BIGINT) AS count
                FROM (SELECT wt,
                             unnest(flatten(list_transform(
                                 range(1, length(word) + 1),
                                 i -> list_transform(
                                     range(1, least({MPL},
                                           length(word) - i + 1) + 1),
                                     l -> substr(word, CAST(i AS INT),
                                                 CAST(l AS INT)))))) AS piece
                      FROM words)
                GROUP BY piece),
            chars AS (SELECT piece, count FROM subs WHERE length(piece) = 1),
            vocab0 AS (
                SELECT piece, count FROM chars
                UNION ALL
                SELECT piece, count FROM (
                    SELECT piece, count FROM subs
                    WHERE length(piece) > 1 AND count >= {MIN_COUNT}
                    ORDER BY count DESC, piece ASC LIMIT {SEED_CAP})),
            {_round_ctes(0, 'vocab0')},
            {_prune_cte('vocab1', 'cnt0', 'vocab0', final=False)},
            {_round_ctes(1, 'vocab1')},
            {_prune_cte('vocab2', 'cnt1', 'vocab1', final=True)}
            SELECT piece, count,
                   round((ln({eff})
                          - (SELECT ln(sum({eff})) FROM vocab2)) + 0.0, 8)
                       + 0.0 AS logprob
            FROM vocab2
            ORDER BY count DESC, piece ASC
        """


    return unigram_sql()


def _quality_train_oracle_sql(iterations: int = 15, lr: float = 0.8) -> str:
    """Full-batch logistic-regression training as a DuckDB recursive
    CTE: the state row carries (w0..w4, b); each iteration joins it
    against the standardized feature frame (the SAME hash-verified
    _QUALITY_VERDICT_CTES features) and takes ONE grouped aggregate —
    aggregation over the recursive reference is legal in DuckDB, and
    the weights ride the GROUP BY keys.  Cross-engine float sums and
    libm exp differ in last ulps; the model's 8-decimal coefficient
    rounding absorbs that (the py-oracle tolerance argument, now
    holding between THREE engines: Spark == this SQL == pure Python,
    verified at sf0.01 and sf0.001)."""
    cols = ["n_tokens", "punct_ratio", "digit_ratio", "mean_word_len",
            "stopword_ratio"]
    k = len(cols)
    m_sel = ", ".join(f"avg({c}) AS m{i}" for i, c in enumerate(cols))
    s_sel = ", ".join(
        f"CASE WHEN coalesce(stddev_pop({c}), 0) > 1e-12 "
        f"THEN stddev_pop({c}) ELSE 1.0 END AS s{i}"
        for i, c in enumerate(cols))
    xs_sel = ", ".join(f"(f.{c} - s.m{i}) / s.s{i} AS x{i}"
                       for i, c in enumerate(cols))
    w_init = ", ".join(f"CAST(0.0 AS DOUBLE) AS w{i}" for i in range(k))
    z = " + ".join(f"t.w{i} * f.x{i}" for i in range(k))
    g_sel = ", ".join(f"sum(err * x{i}) AS g{i}" for i in range(k))
    w_upd = ", ".join(f"w{i} - {lr!r} * (g{i} / n) AS w{i}"
                      for i in range(k))
    w_keys = ", ".join(f"w{i}" for i in range(k))
    out_rows = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS feature, "
        f"round(t.w{i} / s.s{i} + 0.0, 8) + 0.0 AS coefficient, "
        f"round(s.m{i} + 0.0, 8) + 0.0 AS mean FROM final t, stats s"
        for i, c in enumerate(cols))
    bias_terms = " + ".join(f"t.w{i} * s.m{i} / s.s{i}" for i in range(k))
    return f"""
        WITH RECURSIVE {_QUALITY_VERDICT_CTES},
        feat2 AS (
            SELECT f.n_tokens::DOUBLE AS n_tokens, f.punct_ratio,
                   f.digit_ratio, f.mean_word_len, f.stopword_ratio,
                   CASE WHEN v.fail_reason IS NULL THEN 1.0
                        ELSE 0.0 END AS y
            FROM feat f JOIN verdict v USING (doc_id)),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n, {m_sel}, {s_sel}
            FROM feat2),
        featstd AS (
            SELECT {xs_sel}, f.y FROM feat2 f, stats s),
        it AS (
            SELECT 0 AS i, {w_init}, CAST(0.0 AS DOUBLE) AS b
            UNION ALL
            SELECT i + 1, {w_upd}, b - {lr!r} * (gb / n) AS b
            FROM (
                SELECT t.i AS i, {w_keys}, t.b AS b, {g_sel},
                       sum(err) AS gb
                FROM (
                    SELECT t.*, f.*,
                           (1.0 / (1.0 + exp(-(t.b + {z}))) - f.y)
                               AS err
                    FROM it t, featstd f
                ) t
                GROUP BY i, {w_keys}, b
            ) g, stats s
            WHERE i < {int(iterations)}
        ),
        final AS (SELECT * FROM it WHERE i = {int(iterations)})
        SELECT * FROM (
            {out_rows}
            UNION ALL
            SELECT '__bias__' AS feature,
                   round(t.b - ({bias_terms}) + 0.0, 8) + 0.0
                       AS coefficient,
                   0.0 AS mean
            FROM final t, stats s
        ) ORDER BY feature
    """


def _bpe_train_oracle_sql(num_merges: int = 12, min_pair_weight: int = 2) -> str:
    """Sequential BPE training as ONE DuckDB recursive CTE — the third
    member of the recursive-oracle family (PAV stack, DTW rows): the
    working table carries the word-frequency table's symbol arrays;
    each iteration unnests adjacent pairs, computes weighted pair
    counts as a window sum, picks the argmax under the (w desc, l asc,
    r asc) tie rule via first_value over the global order, re-collapses
    to one row per word (row_number = 1 — no GROUP BY over the
    recursive reference needed), and applies the greedy left-to-right
    merge as a list_reduce fold with the same replace-last semantics
    as ops/bpe.py:_merge_pair_expr.  The operator's exact-batch
    acceleration is provably equal to this sequential loop (the
    _select_exact_batch soundness argument), so the hash transfers.
    All arithmetic is BIGINT — no float anywhere in the trainer."""
    return f"""
        WITH RECURSIVE toks AS (
            SELECT list_filter(string_split_regex(lower(text),
                                                  '[^a-z0-9'']+'),
                               t -> len(t) > 0) AS t
            FROM documents),
        vocab AS (
            SELECT tok AS word, CAST(count(*) AS BIGINT) AS wt
            FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
        bpe AS (
            SELECT 0 AS it, word, wt,
                   list_append(list_transform(range(1, length(word) + 1),
                                              i -> word[i:i]),
                               '</w>') AS syms,
                   CAST(NULL AS VARCHAR) AS ml,
                   CAST(NULL AS VARCHAR) AS mr,
                   CAST(NULL AS BIGINT) AS mw
            FROM vocab
            UNION ALL
            SELECT it + 1 AS it, word, wt,
                   list_reduce(list_transform(syms, s -> [s]),
                       (acc, x) -> CASE
                           WHEN acc[len(acc)] = wl AND x[1] = wr
                           THEN list_append(acc[1:len(acc) - 1], wl || wr)
                           ELSE list_append(acc, x[1]) END) AS syms,
                   wl AS ml, wr AS mr, ww AS mw
            FROM (
                SELECT *,
                       row_number() OVER (PARTITION BY word
                                          ORDER BY pl, pr) AS rn,
                       first_value(pl) OVER (ORDER BY pw DESC, pl, pr)
                           AS wl,
                       first_value(pr) OVER (ORDER BY pw DESC, pl, pr)
                           AS wr,
                       first_value(pw) OVER (ORDER BY pw DESC, pl, pr)
                           AS ww
                FROM (
                    SELECT it, word, wt, syms,
                           p.l AS pl, p.r AS pr,
                           sum(wt) OVER (PARTITION BY p.l, p.r) AS pw
                    FROM bpe,
                         UNNEST(list_transform(range(1, len(syms)),
                                j -> {{'l': syms[j],
                                       'r': syms[j + 1]}})) AS u(p)
                ) q
            ) z
            WHERE rn = 1 AND it < {int(num_merges)}
              AND ww >= {int(min_pair_weight)}
        )
        SELECT DISTINCT CAST(it - 1 AS INT) AS iteration,
               ml AS "left", mr AS "right",
               ml || mr AS merged, mw AS weight
        FROM bpe WHERE it >= 1
        ORDER BY iteration
    """


def _bpe_fertility_oracle_sql(
    num_merges: int = 12, min_pair_weight: int = 2
) -> str:
    """Fertility from the SAME sequential-BPE recursion as
    ``_bpe_train_oracle_sql``, read at its FINAL state: after the last
    accepted merge, each word's ``syms`` array IS its encoding (the
    trainer composes rule k over the state after rules < k — exactly
    what encoding a fresh word with the rule list in order computes),
    so per-lang fertility is one join of the per-doc token stream to
    ``len(syms)``.  Integer counts throughout; one division at the
    end, mirrored by the Spark side's sum-then-divide."""
    return f"""
        WITH RECURSIVE dtoks AS (
            SELECT lang, unnest(list_filter(
                string_split_regex(lower(text), '[^a-z0-9'']+'),
                t -> len(t) > 0)) AS word
            FROM documents),
        vocab AS (
            SELECT word, CAST(count(*) AS BIGINT) AS wt
            FROM dtoks GROUP BY word),
        bpe AS (
            SELECT 0 AS it, word, wt,
                   list_append(list_transform(range(1, length(word) + 1),
                                              i -> word[i:i]),
                               '</w>') AS syms
            FROM vocab
            UNION ALL
            SELECT it + 1 AS it, word, wt,
                   list_reduce(list_transform(syms, s -> [s]),
                       (acc, x) -> CASE
                           WHEN acc[len(acc)] = wl AND x[1] = wr
                           THEN list_append(acc[1:len(acc) - 1], wl || wr)
                           ELSE list_append(acc, x[1]) END) AS syms
            FROM (
                SELECT *,
                       row_number() OVER (PARTITION BY word
                                          ORDER BY pl, pr) AS rn,
                       first_value(pl) OVER (ORDER BY pw DESC, pl, pr)
                           AS wl,
                       first_value(pr) OVER (ORDER BY pw DESC, pl, pr)
                           AS wr,
                       first_value(pw) OVER (ORDER BY pw DESC, pl, pr)
                           AS ww
                FROM (
                    SELECT it, word, wt, syms,
                           p.l AS pl, p.r AS pr,
                           sum(wt) OVER (PARTITION BY p.l, p.r) AS pw
                    FROM bpe,
                         UNNEST(list_transform(range(1, len(syms)),
                                j -> {{'l': syms[j],
                                       'r': syms[j + 1]}})) AS u(p)
                ) q
            ) z
            WHERE rn = 1 AND it < {int(num_merges)}
              AND ww >= {int(min_pair_weight)}
        ),
        final AS (
            SELECT word, CAST(len(syms) AS BIGINT) AS n_syms
            FROM (SELECT word, syms,
                         row_number() OVER (PARTITION BY word
                                            ORDER BY it DESC) AS rn
                  FROM bpe)
            WHERE rn = 1
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
               round(CAST(sum(n_syms) AS DOUBLE) / count(*) + 1e-9, 6)
                   + 0.0 AS fertility
        FROM dtoks JOIN final USING (word)
        GROUP BY lang ORDER BY lang
    """


def _dtw_oracle_sql(band: int = 16) -> str:
    """Banded Sakoe-Chiba DTW as a DuckDB recursive CTE (VERDICT r12
    #2): one iteration per DP row i, carrying the previous row as a
    LIST column; the row's left-to-right dependency (cur[j] needs
    cur[j-1]) is a list_reduce fold whose accumulator IS the growing
    row — element 0 seeds cur[0] = +inf, element j carries its own
    index.  Every cell is the same IEEE ops in the same order as the
    operator's DP (one abs-diff add onto an exact 3-way min), so the
    distance is bit-identical; series are the O(keys x 30-day grid)
    daily means by construction, so the iteration count is the grid
    depth, not the fact count."""
    return f"""
        WITH RECURSIVE pts AS (
            SELECT event_type,
                   CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
                   round(avg(value), 6) AS v
            FROM events WHERE ts IS NOT NULL
            GROUP BY 1, 2
        ),
        ser AS (
            SELECT event_type AS k, list(v ORDER BY day) AS s
            FROM pts GROUP BY 1
        ),
        pairs AS (
            SELECT a.k AS key_a, b.k AS key_b, a.s AS sa, b.s AS sb,
                   CAST(len(a.s) AS BIGINT) AS n,
                   CAST(len(b.s) AS BIGINT) AS m,
                   CAST(greatest({int(band)}, abs(len(a.s) - len(b.s)))
                        AS BIGINT) AS be
            FROM ser a JOIN ser b ON a.k < b.k
        ),
        dp AS (
            SELECT key_a, key_b, sa, sb, n, m, be,
                   CAST(0 AS BIGINT) AS i,
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(range(1, m + 1),
                                      j -> 'infinity'::DOUBLE)) AS prev
            FROM pairs
            UNION ALL
            SELECT key_a, key_b, sa, sb, n, m, be, i + 1 AS i,
                   list_reduce(
                       list_prepend(['infinity'::DOUBLE],
                           list_transform(range(1, m + 1),
                                          j -> [CAST(j AS DOUBLE)])),
                       (acc, x) -> list_append(acc,
                           CASE WHEN CAST(x[1] AS BIGINT)
                                       < greatest(1, i + 1 - be)
                                  OR CAST(x[1] AS BIGINT)
                                       > least(m, i + 1 + be)
                                THEN 'infinity'::DOUBLE
                                ELSE abs(sa[i + 1]
                                         - sb[CAST(x[1] AS BIGINT)])
                                     + least(
                                         prev[CAST(x[1] AS BIGINT) + 1],
                                         prev[CAST(x[1] AS BIGINT)],
                                         acc[CAST(x[1] AS BIGINT)])
                           END)
                   ) AS prev
            FROM dp WHERE i < n
        )
        SELECT key_a, key_b,
               CAST(n AS INT) AS n_a, CAST(m AS INT) AS n_b,
               round(prev[m + 1], 6) AS dtw_dist
        FROM dp WHERE i = n
        ORDER BY key_a, key_b
    """


def _pav_oracle_sql(cells_sql: str) -> str:
    """Pool-adjacent-violators as a DuckDB recursive CTE — the
    ts_holt_winters LIST-state pattern applied to the PAV stack: the
    state row per group carries (next-cell index, block stack as a
    LIST of (p, n, lo, hi) structs); each iteration performs ONE
    action — merge the top two blocks if the integer cross-multiplied
    violator test fires, else push the next cell, else mark done — so
    the iteration count is bounded by 2*cells+1 (every merge retires a
    block, every push consumes a cell).  PAV's fixed point is unique
    and pooling-order-independent (Ayer et al. 1955), so the one-
    action schedule lands on the identical blocks as the operator's
    push-then-drain stack.  The violator comparison is BIGINT
    cross-multiplication (exact); the only float op is the final
    rate division, nudged +1e-9 like every rounded surface."""
    block_t = "STRUCT(p BIGINT, n BIGINT, lo DOUBLE, hi DOUBLE)[]"
    return f"""
        WITH RECURSIVE cells AS ({cells_sql}),
        seq AS (
            SELECT g,
                   list(CAST(b AS DOUBLE) ORDER BY b) AS bs,
                   list(pos ORDER BY b) AS ps,
                   list(n ORDER BY b) AS ns,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM cells GROUP BY g
        ),
        pav AS (
            SELECT g, bs, ps, ns, cnt,
                   CAST(1 AS BIGINT) AS i,
                   CAST([] AS {block_t}) AS blocks,
                   false AS done
            FROM seq
            UNION ALL
            SELECT g, bs, ps, ns, cnt,
                   CASE WHEN mrg THEN i ELSE i + 1 END AS i,
                   CASE
                     WHEN mrg THEN list_append(
                          blocks[1:len(blocks) - 2],
                          {{'p': blocks[len(blocks) - 1].p
                                + blocks[len(blocks)].p,
                            'n': blocks[len(blocks) - 1].n
                                + blocks[len(blocks)].n,
                            'lo': blocks[len(blocks) - 1].lo,
                            'hi': blocks[len(blocks)].hi}})
                     WHEN i <= cnt THEN list_append(
                          blocks,
                          {{'p': ps[i], 'n': ns[i],
                            'lo': bs[i], 'hi': bs[i]}})
                     ELSE blocks
                   END AS blocks,
                   (NOT mrg AND i > cnt) AS done
            FROM (
                SELECT *,
                       len(blocks) >= 2
                       AND blocks[len(blocks) - 1].p * blocks[len(blocks)].n
                           >= blocks[len(blocks)].p
                               * blocks[len(blocks) - 1].n
                           AS mrg
                FROM pav WHERE NOT done
            ) t
        )
        SELECT event_type,
               block,
               blk.lo AS score_lo,
               blk.hi AS score_hi,
               blk.n AS n_rows,
               blk.p AS n_pos,
               round(CAST(blk.p AS DOUBLE) / blk.n + 1e-9, 6) + 0.0
                   AS calibrated
        FROM (
            SELECT g AS event_type,
                   CAST(generate_subscripts(blocks, 1) AS INT) - 1 AS block,
                   unnest(blocks) AS blk
            FROM pav WHERE done
        ) u
        ORDER BY event_type, block
    """


_PAV_CELLS_MILLI = """
        SELECT event_type AS g,
               CAST(floor((value - floor(value)) * 1000) AS INT) AS b,
               CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2
"""

_PAV_CELLS_DECILE = """
        WITH x AS (
            SELECT event_type AS g,
                   value - floor(value) AS s,
                   CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS y
            FROM events
            WHERE value IS NOT NULL AND user_id IS NOT NULL)
        SELECT g, least(CAST(floor(s * 10) AS INT), 9) AS b,
               CAST(sum(y) AS BIGINT) AS pos,
               CAST(count(*) AS BIGINT) AS n
        FROM x GROUP BY g, b
"""


def _jl_projection_oracle_sql(k: int = 8) -> str:
    """Oracle twin of q_emb_random_projection: the sign matrix is a
    pure function of (dims, salt) — jl_sign_matrix regenerates the
    IDENTICAL constants here, and each score is the explicit
    left-to-right term sum matching Spark's zip_with fold order."""
    from recover_spark.ops.pca import jl_sign_matrix

    comps = jl_sign_matrix(64, k)
    cols = []
    for c, comp in enumerate(comps):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {w!r}"
            for i, w in enumerate(comp)
        )
        cols.append(f"round(({terms}) + 1e-9, 6) + 0.0 AS rp{c}")
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


def _cvm_oracle_sql(cols: list[str], cut: str, n_bins: int = 10) -> str:
    """Grid-CvM oracle: the wasserstein oracle chain with the squared
    cross-multiplied gap weighted by combined bin mass, one final
    division by (tb*tc)^2*(tb+tc)."""
    fr = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    blocks = []
    for c in cols:
        blocks.append(f"""
            SELECT '{c}' AS "column",
                   round(sum((CAST(cb AS DOUBLE) * tc
                              - CAST(cc AS DOUBLE) * tb)
                             * (CAST(cb AS DOUBLE) * tc
                                - CAST(cc AS DOUBLE) * tb)
                             * (nb + nc))
                         / (CAST(tb AS DOUBLE) * tc
                            * CAST(tb AS DOUBLE) * tc
                            * (CAST(tb AS DOUBLE) + tc)), 6) AS cvm,
                   CAST(tb AS BIGINT) AS n_base,
                   CAST(tc AS BIGINT) AS n_cur
            FROM (
                WITH base AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate < TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                cur AS (
                    SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
                    WHERE l_shipdate >= TIMESTAMP '{cut}' AND {c} IS NOT NULL
                ),
                e AS (SELECT list_transform(quantile_cont(v, [{fr}]),
                            x -> round(x, 9)) AS edges FROM base),
                bb AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                       FROM base, e),
                cb2 AS (SELECT len(list_filter(e.edges, x -> x <= v)) AS bin
                        FROM cur, e),
                slots AS (SELECT unnest(range({n_bins})) AS bin),
                nbt AS (SELECT s.bin, coalesce(x.n, 0) AS n_base
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM bb GROUP BY 1) x
                            USING (bin)),
                nct AS (SELECT s.bin, coalesce(x.n, 0) AS n_cur
                       FROM slots s LEFT JOIN
                            (SELECT bin, count(*) AS n FROM cb2 GROUP BY 1) x
                            USING (bin)),
                j AS (SELECT bin, n_base, n_cur
                      FROM nbt JOIN nct USING (bin))
                SELECT n_base AS nb, n_cur AS nc,
                       CAST(sum(n_base) OVER (ORDER BY bin) AS BIGINT) AS cb,
                       CAST(sum(n_cur) OVER (ORDER BY bin) AS BIGINT) AS cc,
                       CAST(sum(n_base) OVER () AS BIGINT) AS tb,
                       CAST(sum(n_cur) OVER () AS BIGINT) AS tc
                FROM j
            )
            GROUP BY tb, tc
        """)
    return " UNION ALL ".join(blocks) + ' ORDER BY "column"'


def _mmr_oracle_sql(k: int = 5, lam: float = 0.7, r: int = 12) -> str:
    """MMR oracle: candidate CTE (the ann_topk shape at top-r), then
    k-1 UNROLLED greedy steps (the k_core fixed-rounds precedent) —
    each step one join + max-sim fold + QUALIFY argmax on the rounded
    score; lam and 1-lam embedded as the bit-identical Python
    doubles."""
    one_minus = 1.0 - lam
    parts = [f"""
        cand AS (
            SELECT q.vec_id AS qid, e.vec_id AS did,
                   round({_cos('e.embedding', 'q.embedding')} + 1e-9, 6)
                       + 0.0 AS rel,
                   e.embedding AS v
            FROM embeddings e
            JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
              ON e.vec_id != q.vec_id
            QUALIFY row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_cos('e.embedding', 'q.embedding')} DESC,
                         e.vec_id ASC) <= {r}),
        sel1 AS (
            SELECT qid, did, 1 AS rank, rel,
                   CAST(NULL AS DOUBLE) AS max_sim,
                   CAST(NULL AS DOUBLE) AS mmr, v
            FROM cand
            QUALIFY row_number() OVER (
                PARTITION BY qid ORDER BY rel DESC, did ASC) = 1),
        rem1 AS (
            SELECT c.* FROM cand c
            WHERE NOT EXISTS (SELECT 1 FROM sel1 s
                              WHERE s.qid = c.qid AND s.did = c.did))"""]
    for i in range(2, k + 1):
        parts.append(f"""
        sims{i} AS (
            SELECT r.qid, r.did, max(r.rel) AS rel,
                   max({_cos('r.v', 's.v')}) AS max_sim
            FROM rem{i - 1} r JOIN sel{i - 1} s ON r.qid = s.qid
            GROUP BY r.qid, r.did),
        pick{i} AS (
            SELECT qid, did, {i} AS rank, rel, max_sim,
                   round({lam!r} * rel - {one_minus!r} * max_sim + 1e-9, 6)
                       + 0.0 AS mmr
            FROM sims{i}
            QUALIFY row_number() OVER (
                PARTITION BY qid ORDER BY
                round({lam!r} * rel - {one_minus!r} * max_sim + 1e-9, 6)
                    + 0.0 DESC, did ASC) = 1),
        sel{i} AS (
            SELECT * FROM sel{i - 1}
            UNION ALL
            SELECT p.qid, p.did, p.rank, p.rel, p.max_sim, p.mmr, c.v
            FROM pick{i} p JOIN cand c
              ON p.qid = c.qid AND p.did = c.did),
        rem{i} AS (
            SELECT r.* FROM rem{i - 1} r
            WHERE NOT EXISTS (SELECT 1 FROM pick{i} p
                              WHERE p.qid = r.qid AND p.did = r.did))""")
    return (
        "WITH " + ",".join(parts) + f"""
        SELECT qid AS query_vec_id, did AS vec_id,
               CAST(rank AS INTEGER) AS rank, rel + 0.0 AS rel,
               round(max_sim + 1e-9, 6) + 0.0 AS max_sim, mmr + 0.0 AS mmr
        FROM sel{k}
    """
    )


def _lpa_oracle_sql(rounds: int = 4) -> str:
    """LPA oracle: the symmetrized lattice edge CTE, then `rounds`
    UNROLLED synchronous updates (count + QUALIFY argmax with the
    min-label tie) — the k_core fixed-rounds precedent."""
    parts = ["""
        raw AS (
            SELECT DISTINCT user_id AS s, user_id + 3 AS t
            FROM events WHERE event_id % 7 = 0
            UNION
            SELECT DISTINCT user_id AS s, user_id + 7 AS t
            FROM events WHERE event_id % 7 = 0),
        und AS (
            SELECT s AS a, t AS b FROM raw WHERE s != t
            UNION
            SELECT t AS a, s AS b FROM raw WHERE s != t),
        l0 AS (SELECT DISTINCT a AS node, a AS community FROM und)"""]
    for i in range(1, rounds + 1):
        parts.append(f"""
        l{i} AS (
            SELECT node, community FROM (
                SELECT u.a AS node, l.community, count(*) AS n
                FROM und u JOIN l{i - 1} l ON u.b = l.node
                GROUP BY u.a, l.community)
            QUALIFY row_number() OVER (
                PARTITION BY node ORDER BY n DESC, community ASC) = 1)""")
    return (
        "WITH " + ",".join(parts)
        + f" SELECT node, community FROM l{rounds}"
    )


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_literal()
    # the persisted results doc must carry exactly the suite's results
    # (the round-trip is the thing under test), so the artifact-backed
    # frame shares v3_suite's oracle verbatim
    out["v3_results_doc"] = out["v3_suite"]
    # streamed suite == batch suite by counter additivity; the oracle
    # is the batch v3 SQL minus the non-mergeable uniqueness row
    # (freeze refuses count-distinct expectations)
    out["stream_expectations_matview"] = """
        WITH agg AS (
            SELECT count(*) AS n,
                   CAST(count(*) FILTER (WHERE NOT ((value >= 0 AND value <= 95)
                       OR value IS NULL)) AS BIGINT) AS bad_value,
                   CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT) AS bad_ts,
                   CAST(count(*) FILTER (WHERE NOT (
                       event_type IN ('click','view','purchase','signup')
                       OR event_type IS NULL)) AS BIGINT) AS bad_set,
                   CAST(count(*) FILTER (WHERE NOT (
                       (length(event_type) >= 4 AND length(event_type) <= 7)
                       OR event_type IS NULL)) AS BIGINT) AS bad_len
            FROM events)
        SELECT 'expect_column_to_exist' AS expectation_type,
               'props' AS column_name, TRUE AS success,
               CAST(0 AS BIGINT) AS element_count,
               CAST(0 AS BIGINT) AS unexpected_count
        UNION ALL
        SELECT 'expect_column_to_exist', 'bogus', FALSE, 0, 0
        UNION ALL
        SELECT 'expect_column_values_to_be_between', 'value',
               bad_value = 0, n, bad_value FROM agg
        UNION ALL
        SELECT 'expect_column_values_to_not_be_null', 'ts',
               bad_ts = 0, n, bad_ts FROM agg
        UNION ALL
        SELECT 'expect_column_values_to_be_in_set', 'event_type',
               bad_set = 0, n, bad_set FROM agg
        UNION ALL
        SELECT 'expect_column_value_lengths_to_be_between', 'event_type',
               bad_len = 0, n, bad_len FROM agg
        UNION ALL
        SELECT 'expect_table_row_count_to_be_between', NULL,
               n >= 1 AND n <= 100000000, n, 0 FROM agg
    """
    out["agg_bootstrap_ci"] = _bootstrap_ci_sql()
    # replicate partials are plain sums: streamed state == batch state,
    # so the matview shares the one-shot bootstrap oracle
    out["stream_bootstrap_matview"] = out["agg_bootstrap_ci"]
    out["emb_random_projection"] = _jl_projection_oracle_sql()
    out["retrieval_mmr"] = _mmr_oracle_sql()
    out["graph_lpa"] = _lpa_oracle_sql()
    out["agg_tost"] = """
        WITH s AS (
            SELECT event_type,
                   CASE WHEN user_id % 2 = 0 THEN value END AS va,
                   CASE WHEN user_id % 2 = 1 THEN value END AS vb
            FROM events),
        a AS (
            SELECT event_type,
                   CAST(count(va) AS BIGINT) AS n_a, avg(va) AS ma,
                   var_samp(va) AS sa,
                   CAST(count(vb) AS BIGINT) AS n_b, avg(vb) AS mb,
                   var_samp(vb) AS sb
            FROM s GROUP BY event_type)
        SELECT event_type, n_a, n_b,
               round(ma - mb + 1e-9, 6) + 0.0 AS mean_diff,
               round(CASE WHEN sa / n_a + sb / n_b > 0
                     THEN (ma - mb + 5.0) / sqrt(sa / n_a + sb / n_b)
                     END + 1e-9, 6) + 0.0 AS t_lower,
               round(CASE WHEN sa / n_a + sb / n_b > 0
                     THEN (5.0 - (ma - mb)) / sqrt(sa / n_a + sb / n_b)
                     END + 1e-9, 6) + 0.0 AS t_upper,
               round(CASE WHEN (sa / n_a) * (sa / n_a) / (n_a - 1)
                             + (sb / n_b) * (sb / n_b) / (n_b - 1) > 0
                     THEN (sa / n_a + sb / n_b) * (sa / n_a + sb / n_b)
                          / ((sa / n_a) * (sa / n_a) / (n_a - 1)
                             + (sb / n_b) * (sb / n_b) / (n_b - 1))
                     END + 1e-9, 6) + 0.0 AS df_welch,
               CAST(5.0 AS DOUBLE) AS margin
        FROM a
    """
    out["agg_mannwhitney"] = """
        WITH base AS (
            SELECT event_type AS g, user_id % 2 AS variant,
                   CAST(value AS DOUBLE) AS v
            FROM events
            WHERE value IS NOT NULL AND user_id % 2 IN (0, 1)),
        grain AS (
            SELECT g, v,
                   sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS ca,
                   sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS cb
            FROM base GROUP BY g, v),
        mr AS (
            SELECT g, v, ca, cb,
                   coalesce(sum(ca + cb) OVER (
                       PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)
                   + (ca + cb + 1) / 2.0 AS mrank
            FROM grain),
        agg AS (
            SELECT g, CAST(sum(ca) AS BIGINT) AS n_a,
                   CAST(sum(cb) AS BIGINT) AS n_b,
                   sum(ca * mrank) AS ra,
                   sum(CAST(ca + cb AS DOUBLE) * (ca + cb) * (ca + cb)
                       - (ca + cb)) AS tie3
            FROM mr GROUP BY g),
        d AS (
            SELECT g, n_a, n_b,
                   ra - n_a * (n_a + 1.0) / 2.0 AS u,
                   n_a * CAST(n_b AS DOUBLE) / 12.0
                   * ((n_a + n_b + 1.0)
                      - tie3 / (CAST(n_a + n_b AS DOUBLE)
                                * (n_a + n_b - 1.0))) AS var
            FROM agg)
        SELECT g AS event_type, n_a, n_b,
               round(u + 1e-9, 6) + 0.0 AS u_stat,
               round(u / (n_a * CAST(n_b AS DOUBLE)) + 1e-9, 6) + 0.0
                   AS cles,
               round(CASE WHEN var > 0
                     THEN (u - n_a * CAST(n_b AS DOUBLE) / 2.0)
                          / sqrt(var) END + 1e-9, 6) + 0.0 AS z_stat
        FROM d
    """
    out["agg_ratio_ci"] = """
        WITH base AS (
            SELECT l_returnflag AS g,
                   CAST(l_extendedprice AS DOUBLE) AS x,
                   CAST(l_quantity AS DOUBLE) AS y
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        a AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   sum(x) AS sx, sum(y) AS sy,
                   var_samp(x) AS vx, var_samp(y) AS vy,
                   covar_samp(x, y) AS cxy
            FROM base GROUP BY g),
        d AS (
            SELECT g, n, sx / sy AS r,
                   sqrt(greatest(
                       (vx - 2.0 * (sx / sy) * cxy
                        + (sx / sy) * (sx / sy) * vy)
                       / (n * (sy / n) * (sy / n)), 0.0)) AS se
            FROM a)
        SELECT g AS l_returnflag, n,
               round(r + 1e-9, 6) + 0.0 AS ratio,
               round(se + 1e-9, 6) + 0.0 AS se,
               round(r - 1.959963984540054 * se + 1e-9, 6) + 0.0 AS ci_lo,
               round(r + 1.959963984540054 * se + 1e-9, 6) + 0.0 AS ci_hi
        FROM d
    """
    out["agg_cuped"] = """
        WITH base AS (
            SELECT l_returnflag AS g, l_orderkey % 2 AS v,
                   CAST(l_quantity AS DOUBLE) AS x,
                   CAST(l_extendedprice AS DOUBLE) AS y
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        pv AS (
            SELECT g, v, CAST(count(*) AS BIGINT) AS n,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(x * y) AS sxy,
                   sum(y * y) AS syy
            FROM base GROUP BY g, v),
        pool AS (
            SELECT g, CAST(sum(n) AS DOUBLE) AS pn,
                   sum(sx) AS psx, sum(sy) AS psy,
                   sum(sxx) AS psxx, sum(sxy) AS psxy, sum(syy) AS psyy
            FROM pv GROUP BY g),
        th AS (
            SELECT g,
                   (psxy - psx * psy / pn)
                       / nullif(psxx - psx * psx / pn, 0.0) AS theta,
                   psx / pn AS pxbar,
                   (psxy - psx * psy / pn) * (psxy - psx * psy / pn)
                       / nullif((psxx - psx * psx / pn)
                                * (psyy - psy * psy / pn), 0.0) AS rho2
            FROM pool)
        SELECT pv.g AS l_returnflag, pv.v AS variant, pv.n,
               round(pv.sy / pv.n + 1e-9, 6) + 0.0 AS mean_y,
               round(pv.sy / pv.n - th.theta * (pv.sx / pv.n - th.pxbar)
                     + 1e-9, 6) + 0.0 AS mean_cuped,
               round(th.theta + 1e-9, 6) + 0.0 AS theta,
               round(th.rho2 + 1e-9, 6) + 0.0 AS variance_reduction
        FROM pv JOIN th ON pv.g = th.g
    """
    out["v18_drift_cvm"] = _cvm_oracle_sql(
        ["l_discount", "l_extendedprice", "l_quantity"], "1998-06-01", 10
    )
    # streamed binned counts are integer-additive: stream == batch
    out["stream_drift_cvm"] = _cvm_oracle_sql(
        ["l_extendedprice", "l_quantity"], "1998-06-01", 10
    )
    out["v17_fdr_bh"] = _fdr_bh_oracle_sql()
    # PAV's bounded adjacent-merge loop as a recursive CTE (VERDICT
    # r12 #1): flips both isotonic rows from rows-only to hash-green
    # at the driver; the independent py oracles stay as a cross-check
    out["agg_isotonic_calibration"] = _pav_oracle_sql(_PAV_CELLS_MILLI)
    out["stream_isotonic_matview"] = _pav_oracle_sql(_PAV_CELLS_DECILE)
    out["ts_dtw"] = _dtw_oracle_sql(band=16)
    out["text_bpe_train"] = _bpe_train_oracle_sql(12, 2)
    out["text_bpe_fertility"] = _bpe_fertility_oracle_sql(12, 2)
    out["text_quality_train"] = _quality_train_oracle_sql(15, 0.8)
    out["text_unigram_train"] = _unigram_train_oracle_sql()
    # mixture-SPRT always-valid p-value: closed-form martingale
    # arithmetic on the welch sufficient stats, op order mirrored
    out["agg_always_valid"] = """
        WITH s AS (
            SELECT event_type,
                   CASE WHEN user_id % 2 = 0 THEN value END AS va,
                   CASE WHEN user_id % 2 = 1 THEN value END AS vb
            FROM events),
        a AS (
            SELECT event_type,
                   CAST(count(va) AS BIGINT) AS n_a, avg(va) AS ma,
                   var_samp(va) AS sa,
                   CAST(count(vb) AS BIGINT) AS n_b, avg(vb) AS mb,
                   var_samp(vb) AS sb
            FROM s GROUP BY event_type),
        b AS (
            SELECT event_type, n_a, n_b, mb - ma AS d,
                   sa / n_a + sb / n_b AS s2
            FROM a),
        c AS (
            SELECT event_type, n_a, n_b, d, s2,
                   0.5 * ln(s2 / (s2 + 4.0))
                   + d * d * 4.0 / (2.0 * s2 * (s2 + 4.0)) AS ll
            FROM b)
        SELECT event_type, n_a, n_b,
               round(d + 1e-9, 6) + 0.0 AS mean_diff,
               round(sqrt(s2) + 1e-9, 6) + 0.0 AS se,
               round(ll + 1e-9, 6) + 0.0 AS log_lambda,
               CASE WHEN ll IS NULL THEN NULL
                    ELSE round(least(1.0, exp(-ll)) + 1e-9, 6) + 0.0
               END AS p_always_valid,
               CASE WHEN ll IS NULL THEN NULL
                    ELSE (round(least(1.0, exp(-ll)) + 1e-9, 6) + 0.0)
                         <= 0.05
               END AS reject_null
        FROM c ORDER BY event_type
    """
    # ^ the CASE wrappers mirror the engine's explicit NULL
    # propagation on degenerate variants (n < 2 -> NULL var_samp ->
    # NULL p/reject): DuckDB's least() IGNORES a NULL argument, so the
    # unwrapped form yields p = 1.0 where the operator deliberately
    # returns NULL (ADVICE r13 #1; latent at the gate — both cohorts
    # always have n >= 2 there — but the oracle should state the same
    # function, not a luckier one).
    # the naive single-window form of the bucket-decomposed global
    # rank (the win_global_rownum oracle precedent), over the portable
    # md5 permutation key
    out["sample_shard_export"] = f"""
        WITH h AS (
            SELECT doc_id,
                   {_h64("concat('shard|', CAST(doc_id AS VARCHAR))")} AS hh
            FROM documents),
        r AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY hh, doc_id) AS row_id
            FROM h)
        SELECT doc_id, row_id,
               CAST((row_id - 1) // 64 AS INT) AS shard,
               CAST((row_id - 1) % 64 AS INT) AS pos_in_shard
        FROM r ORDER BY row_id
    """
    # the oracle's per-group window is the naive form of the bucket-
    # decomposed order statistic (the trimmed_group_stats precedent)
    out["agg_conformal"] = """
        WITH base AS (
            SELECT l_returnflag AS g,
                   CAST(l_extendedprice AS DOUBLE) AS y,
                   CAST(1200.0 AS DOUBLE)
                       * CAST(l_quantity AS DOUBLE) AS yhat,
                   concat(CAST(l_orderkey AS VARCHAR), '#',
                          CAST(l_linenumber AS VARCHAR)) AS k
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        s AS (
            SELECT g, abs(y - yhat) AS r,
                   CAST(concat('0x', substr(md5(concat('conformal|', k)),
                        1, 8)) AS BIGINT) % 2 AS split
            FROM base),
        cal AS (
            SELECT g, r,
                   row_number() OVER (PARTITION BY g ORDER BY r) AS rn,
                   count(*) OVER (PARTITION BY g) AS n
            FROM s WHERE split = 0),
        qs AS (
            SELECT g, CAST(max(n) AS BIGINT) AS n_cal,
                   max(CASE WHEN rn = least((9 * (n + 1) + 9) // 10, n)
                       THEN r END) AS q
            FROM cal GROUP BY g),
        cov AS (
            SELECT s.g, CAST(count(*) AS BIGINT) AS n_test,
                   avg(CASE WHEN s.r <= q.q THEN 1.0 ELSE 0.0 END) AS c,
                   max(q.n_cal) AS n_cal, max(q.q) AS qh
            FROM s JOIN qs q ON s.g = q.g
            WHERE s.split = 1 GROUP BY s.g)
        SELECT g AS l_returnflag, n_cal, n_test,
               round(qh + 1e-9, 6) + 0.0 AS q_hat,
               round(c + 1e-9, 6) + 0.0 AS coverage,
               CAST(0.9 AS DOUBLE) AS target
        FROM cov
    """
    out["text_self_bleu"] = """
        WITH toks AS (
            SELECT lang AS g, doc_id AS id,
                   list_filter(string_split_regex(lower(text),
                       '[^a-z0-9'']+'), t -> len(t) > 0) AS t
            FROM documents),
        ne AS (SELECT g, id, t, id // 4096 AS blk
               FROM toks WHERE len(t) > 0),
        paired AS (
            SELECT g, id AS pair, t,
                   lead(t) OVER (PARTITION BY g, blk ORDER BY id) AS rt
            FROM ne QUALIFY rt IS NOT NULL),
        cg AS (
            SELECT g, pair, n, gram, count(*) AS c
            FROM (
                SELECT g, pair, 1 AS n, u.x AS gram
                FROM paired, UNNEST(t) AS u(x)
                UNION ALL
                SELECT g, pair, 2 AS n, t[i] || ' ' || t[i+1] AS gram
                FROM paired, UNNEST(CASE WHEN len(t) >= 2
                     THEN range(1, len(t)) ELSE []::BIGINT[] END) AS u(i)
            ) GROUP BY g, pair, n, gram),
        rg AS (
            SELECT g, pair, n, gram, count(*) AS r
            FROM (
                SELECT g, pair, 1 AS n, u.x AS gram
                FROM paired, UNNEST(rt) AS u(x)
                UNION ALL
                SELECT g, pair, 2 AS n, rt[i] || ' ' || rt[i+1] AS gram
                FROM paired, UNNEST(CASE WHEN len(rt) >= 2
                     THEN range(1, len(rt)) ELSE []::BIGINT[] END) AS u(i)
            ) GROUP BY g, pair, n, gram),
        clip AS (
            SELECT cg.g, cg.n, sum(least(cg.c, rg.r)) AS m
            FROM cg JOIN rg USING (g, pair, n, gram) GROUP BY cg.g, cg.n),
        clipw AS (
            SELECT g, sum(CASE WHEN n = 1 THEN m ELSE 0 END) AS m1,
                   sum(CASE WHEN n = 2 THEN m ELSE 0 END) AS m2
            FROM clip GROUP BY g),
        lens AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(len(t)) AS BIGINT) AS cand_tokens,
                   CAST(sum(len(rt)) AS BIGINT) AS ref_tokens,
                   CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS tot2
            FROM paired GROUP BY g),
        wide AS (
            SELECT l.g, n_pairs, cand_tokens, ref_tokens, tot2,
                   coalesce(m1, 0) AS m1, coalesce(m2, 0) AS m2
            FROM lens l LEFT JOIN clipw USING (g))
        SELECT g AS lang, n_pairs, cand_tokens, ref_tokens,
               round(m1 / CAST(cand_tokens AS DOUBLE) + 1e-9, 6) + 0.0
                   AS p1,
               round(CASE WHEN tot2 > 0
                     THEN m2 / CAST(tot2 AS DOUBLE) END + 1e-9, 6) + 0.0
                   AS p2,
               round(least(1.0, exp(1.0 - ref_tokens
                     / CAST(cand_tokens AS DOUBLE))) + 1e-9, 6) + 0.0
                   AS bp,
               round(CASE WHEN m1 > 0 AND m2 > 0 AND tot2 > 0
                     THEN least(1.0, exp(1.0 - ref_tokens
                          / CAST(cand_tokens AS DOUBLE)))
                          * sqrt((m1 / CAST(cand_tokens AS DOUBLE))
                                 * (m2 / CAST(tot2 AS DOUBLE)))
                     ELSE 0.0 END + 1e-9, 6) + 0.0 AS self_bleu
        FROM wide
    """
    # the persisted-index path answers the same query as in-memory IVF
    out["ann_ivf_indexed"] = out["ann_ivf"]
    # the joined probe path answers from the same index with the same
    # scoring expressions — one oracle serves all three probe routes
    out["ann_ivf_joined"] = out["ann_ivf"]
    out["ann_recall"] = _ann_recall_sql()
    out["ann_ivf_pq"] = _ann_ivf_pq_sql()
    # the persisted-sidecar path answers the same query as in-memory
    # IVF-PQ (same deterministic train/encode), so the oracle is shared
    out["ann_ivf_pq_indexed"] = out["ann_ivf_pq"]
    # shortlist-then-refine: ADC top-20 from the shared PQ CTE chain,
    # exact-cosine re-rank of the shortlist, top-5 out
    out["ann_ivf_pq_refined"] = _ann_ivf_pq_refined_sql()
    # frozen-codebook append lifecycle: codebooks from the initial
    # half, codes for everything — the oracle mirrors the freeze
    out["ann_ivf_pq_maintained"] = _ann_ivf_pq_sql(
        train_pred="x.vec_id < (SELECT count(*) // 2 FROM embeddings)"
    )
    out["dedup_lsh_recall"] = _lsh_recall_sql()
    out["text_keywords_textrank"] = _textrank_oracle_sql()
    out["agg_kmv_overlap"] = _kmv_overlap_sql()
    # streamed sketch == batch sketch by min-k mergeability: the same
    # oracle chain on the stream's table/key/salt
    out["stream_kmv_overlap_matview"] = _kmv_overlap_sql(
        table="events", key="event_type", val="user_id", salt="bksample"
    )
    # min-k sketch membership is deterministic (md5 bottom-k), so the
    # streamed sample equals the one-shot batch bottom-k: exact oracle
    out["stream_sample_matview"] = """
        WITH hashes AS (
            SELECT DISTINCT event_type, event_id,
                   CAST(concat('0x', substr(md5(concat('bksample|',
                        CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
            FROM events WHERE event_id IS NOT NULL
        ),
        ranked AS (
            SELECT event_type, event_id,
                   row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS rank
            FROM hashes
        )
        SELECT event_type, CAST(rank AS INT) AS rank, event_id
        FROM ranked WHERE rank <= 8
        ORDER BY event_type, rank
    """
    out["graph_shortest_paths"] = """
        WITH RECURSIVE
        flows AS (
            SELECT DISTINCT concat('c', o_custkey) AS src,
                            concat('s', l_suppkey) AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        edges AS (
            SELECT src, dst FROM flows
            UNION SELECT dst AS src, src AS dst FROM flows
        ),
        walk AS (
            SELECT DISTINCT concat('s', s_suppkey) AS node, 0 AS dist
            FROM supplier WHERE s_suppkey % 10 = 0
            UNION
            SELECT e.dst AS node, w.dist + 1 AS dist
            FROM walk w JOIN edges e ON w.node = e.src
            WHERE w.dist < 3
        )
        SELECT node, CAST(min(dist) AS INT) AS dist
        FROM walk GROUP BY node ORDER BY node
    """
    out["sample_contrastive_triplets"] = _contrastive_triplets_sql()
    out["transform_target_encode"] = """
        WITH cells AS (
            SELECT o_orderpriority AS category,
                   CAST(CAST(concat('0x', substr(md5(concat('tenc|',
                        CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT)
                        % 5 AS INT) AS fold,
                   sum(CAST(o_totalprice AS DOUBLE)) AS s,
                   count(*) AS n
            FROM orders WHERE o_totalprice IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT category, fold, n AS n_rows,
               round(
                   (sum(s) OVER (PARTITION BY category) - s
                    + 10.0 * ((sum(s) OVER () - sum(s) OVER (PARTITION BY fold))
                              / (sum(n) OVER () - sum(n) OVER (PARTITION BY fold))))
                   / (sum(n) OVER (PARTITION BY category) - n + 10.0),
               4) AS encoded
        FROM cells
        ORDER BY category, fold
    """
    out["dedup_containment"] = f"""
        WITH {_TOKS_CTE}, {_GRAMS3_CTE},
        rare AS (SELECT shingle FROM grams
                 GROUP BY shingle HAVING count(*) <= 50),
        g2 AS (SELECT g.doc_id, g.shingle FROM grams g
               JOIN rare r ON g.shingle = r.shingle),
        sz AS (SELECT doc_id, count(*) AS set_size FROM g2 GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM g2 a JOIN g2 b ON a.shingle = b.shingle
            WHERE a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(n_common / sa.set_size, 6) AS containment
        FROM inter JOIN sz sa ON inter.id_a = sa.doc_id
        WHERE sa.set_size >= 5
          AND n_common / sa.set_size >= 0.6
        ORDER BY id_a, id_b
    """
    out["retrieval_prf"] = _retrieval_prf_sql()
    out["agg_cm_frequency"] = _cm_oracle_sql()
    # cell counters are additive: the streamed sketch equals the batch
    # sketch on the same rows, same oracle (maintenance invisible)
    out["stream_cm_matview"] = out["agg_cm_frequency"]
    out["ann_pq_recall"] = _ann_pq_recall_sql()
    out["emb_drift"] = f"""
        WITH c AS (
            SELECT label, CAST(vec_id % 2 AS INT) AS era, u.i AS dim,
                   avg(embedding[u.i]::DOUBLE) AS m
            FROM embeddings, UNNEST(range(1, 65)) AS u(i)
            GROUP BY label, era, u.i),
        nn AS (SELECT label, CAST(vec_id % 2 AS INT) AS era,
                      CAST(count(*) AS BIGINT) AS n
               FROM embeddings GROUP BY 1, 2),
        v AS (SELECT label, era, list(m ORDER BY dim) AS cv
              FROM c GROUP BY label, era),
        j AS (SELECT a.label, a.cv AS ca, b.cv AS cb,
                     na.n AS n_base, nb.n AS n_cur
              FROM v a
              JOIN v b ON a.label = b.label AND a.era = 0 AND b.era = 1
              JOIN nn na ON na.label = a.label AND na.era = 0
              JOIN nn nb ON nb.label = a.label AND nb.era = 1)
        SELECT label, n_base, n_cur,
               round({_dotsql('ca', 'cb')}
                     / (sqrt({_dotsql('ca', 'ca')})
                        * sqrt({_dotsql('cb', 'cb')})) + 1e-9, 6) + 0.0
                   AS centroid_cosine,
               round(sqrt({_dotsql('cb', 'cb')})
                     / sqrt({_dotsql('ca', 'ca')}) + 1e-9, 6) + 0.0
                   AS norm_ratio
        FROM j
    """
    # mergeable vector sums: the streamed centroid-drift read equals
    # the batch operator over the union of batches — same oracle
    out["stream_emb_drift_matview"] = out["emb_drift"]
    out["agg_contingency_residuals"] = _chi2_residuals_oracle_sql(
        ["l_extendedprice", "l_quantity", "l_discount"], "1998-06-01", 10
    )
    out["v16_rare_categories"] = """
        WITH cells AS (
            SELECT 'lang' AS "column", CAST(lang AS VARCHAR) AS category
            FROM documents WHERE lang IS NOT NULL
            UNION ALL
            SELECT 'source', CAST(source AS VARCHAR)
            FROM documents WHERE source IS NOT NULL),
        counts AS (
            SELECT "column", category,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM cells GROUP BY 1, 2)
        SELECT "column", category, n_rows,
               round(n_rows / sum(n_rows) OVER (PARTITION BY "column")
                     + 1e-9, 6) + 0.0 AS share
        FROM counts
        QUALIFY round(n_rows / sum(n_rows) OVER (PARTITION BY "column")
                      + 1e-9, 6) + 0.0 <= 0.15
    """
    out["emb_outliers"] = f"""
        WITH c AS (
            SELECT label, u.i AS dim, avg(embedding[u.i]::DOUBLE) AS m
            FROM embeddings, UNNEST(range(1, 65)) AS u(i)
            GROUP BY label, u.i),
        v AS (SELECT label, list(m ORDER BY dim) AS cv
              FROM c GROUP BY label)
        SELECT e.vec_id, e.label,
               round({_dotsql('e.embedding', 'v.cv')}
                     / (sqrt({_dotsql('e.embedding', 'e.embedding')})
                        * sqrt({_dotsql('v.cv', 'v.cv')})) + 1e-9, 6) + 0.0
                   AS centroid_cosine,
               round({_dotsql('e.embedding', 'v.cv')}
                     / (sqrt({_dotsql('e.embedding', 'e.embedding')})
                        * sqrt({_dotsql('v.cv', 'v.cv')})) + 1e-9, 6) + 0.0
                   < 0.2 AS is_outlier
        FROM embeddings e LEFT JOIN v USING (label)
    """
    out["graph_modularity"] = """
        WITH e AS (
            SELECT DISTINCT least(user_id, user_id + 3) AS a,
                   greatest(user_id, user_id + 3) AS b
            FROM events WHERE event_id % 11 = 0),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
                GROUP BY n),
        comm AS (SELECT n, n % 4 AS community FROM (
                 SELECT a AS n FROM e UNION SELECT b AS n FROM e)),
        mi AS (SELECT ca.community AS c, CAST(count(*) AS BIGINT) AS m_in
               FROM e JOIN comm ca ON e.a = ca.n
                      JOIN comm cb ON e.b = cb.n
               WHERE ca.community = cb.community GROUP BY 1),
        dc AS (SELECT c2.community AS c,
                      CAST(count(*) AS BIGINT) AS n_nodes,
                      CAST(sum(d) AS BIGINT) AS d_total
               FROM deg JOIN comm c2 ON deg.n = c2.n GROUP BY 1),
        m AS (SELECT count(*)::DOUBLE AS mm FROM e)
        SELECT dc.c AS community, n_nodes,
               CAST(coalesce(mi.m_in, 0) AS BIGINT) AS m_in, d_total,
               round(coalesce(mi.m_in, 0) / m.mm
                     - (d_total / (2 * m.mm)) * (d_total / (2 * m.mm))
                     + 1e-9, 6) + 0.0 AS q_contribution
        FROM dc LEFT JOIN mi ON dc.c = mi.c, m
    """
    out["text_length_histogram"] = """
        WITH d AS (
            SELECT source,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9'']+'))
                       AS BIGINT) AS n
            FROM documents),
        b AS (SELECT source,
                     CASE WHEN n = 0 THEN 0
                          ELSE CAST(length(bin(n)) AS INT) END AS bucket,
                     n
              FROM d),
        g AS (SELECT source, bucket,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n) AS BIGINT) AS n_tokens
              FROM b GROUP BY source, bucket)
        SELECT source, bucket,
               CASE WHEN bucket = 0 THEN CAST(0 AS BIGINT)
                    ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END
                   AS lo_tokens,
               CASE WHEN bucket = 0 THEN CAST(0 AS BIGINT)
                    ELSE ((CAST(1 AS BIGINT) << bucket) - 1) END
                   AS hi_tokens,
               n_docs, n_tokens,
               round(n_docs / sum(n_docs) OVER (PARTITION BY source)
                     + 1e-9, 6) + 0.0 AS doc_share
        FROM g
    """
    # maintenance lifecycle: compaction is content-identical and the
    # rebuild provably equals a fresh build over the whole corpus, so
    # the fresh-index oracles apply verbatim
    out["ann_ivf_maintained"] = out["ann_ivf"]
    out["dedup_cosine_probe_compacted"] = out["dedup_cosine_probe"]
    # binned counts are additive: the streamed monitor equals the
    # batch PSI on the same era split, same oracle
    out["stream_drift_psi"] = out["v5_drift_psi"]
    out["stream_drift_categorical"] = out["v6_drift_categorical"]
    # deletion propagation: the scrubbed index must be
    # indistinguishable from one that never held the deleted docs —
    # same brute-force oracle with the deletion predicate on the
    # indexed side
    out["dedup_cosine_probe_deleted"] = out["dedup_cosine_probe"].replace(
        "WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0",
        "WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 "
        "AND b.doc_id % 7 <> 3",
    )
    # projection parity against the shared component fixture; omitted
    # (-> rows-only) when the fixture parquet is absent
    pca_proj = _pca_project_oracle_sql()
    if pca_proj is not None:
        out["emb_pca_project"] = pca_proj
    pca_whiten = _pca_project_oracle_sql(whiten=True)
    if pca_whiten is not None:
        out["emb_whiten"] = pca_whiten
    return out


def _ks_oracle_sql(cols: list[str], cut: str) -> str:
    """Naive single-window two-sample KS per column (the form the
    bucketed engine decomposition must equal), integer statistic until
    the final division — see q_v7_drift_ks."""
    parts = []
    for c in cols:
        parts.append(f"""
            SELECT '{c}' AS "column",
                   round(max(abs(ca * nb_t - cb * na_t))
                         / (CAST(na_t AS DOUBLE) * nb_t), 6) AS ks,
                   na_t AS n_base, nb_t AS n_cur
            FROM (
                SELECT CAST(sum(na) OVER (ORDER BY v) AS BIGINT) AS ca,
                       CAST(sum(nb) OVER (ORDER BY v) AS BIGINT) AS cb,
                       CAST(sum(na) OVER () AS BIGINT) AS na_t,
                       CAST(sum(nb) OVER () AS BIGINT) AS nb_t
                FROM (
                    SELECT v, sum(a) AS na, sum(b) AS nb
                    FROM (
                        SELECT CAST({c} AS DOUBLE) AS v,
                               CASE WHEN l_shipdate < DATE '{cut}'
                                    THEN 1 ELSE 0 END AS a,
                               CASE WHEN l_shipdate >= DATE '{cut}'
                                    THEN 1 ELSE 0 END AS b
                        FROM lineitem)
                    WHERE v IS NOT NULL
                    GROUP BY v))
            GROUP BY na_t, nb_t
        """)
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


def _ks_series_oracle_sql(cols: list[str], cut: str, n_grid: int) -> str:
    """Per-month grid-KS vs the frozen pre-cut baseline — the SQL twin
    of ks_drift_by_period with exact interpolated edges (rounded to 9
    digits, the same tie pin as the PSI oracles)."""
    fr = ", ".join(repr(i / n_grid) for i in range(1, n_grid))
    edge_defs = ", ".join(
        f"list_transform(quantile_cont({c}, [{fr}]), x -> round(x, 9)) "
        f"AS e_{c}"
        for c in cols
    )
    # {c} IS NOT NULL mirrors the operator's documented NULL
    # exclusion — DuckDB's list_filter over a NULL value yields bin 0
    # (counting the row) where ks_drift_by_period drops it
    base_bins = " UNION ALL ".join(
        f"SELECT '{c}' AS col, len(list_filter(e_{c}, t -> t <= {c})) "
        f"AS bin FROM lineitem, e WHERE l_shipdate < DATE '{cut}' "
        f"AND {c} IS NOT NULL"
        for c in cols
    )
    cur_bins = " UNION ALL ".join(
        f"SELECT strftime(l_shipdate, '%Y-%m') AS period, '{c}' AS col, "
        f"len(list_filter(e_{c}, t -> t <= {c})) AS bin "
        f"FROM lineitem, e WHERE l_shipdate >= DATE '{cut}' "
        f"AND {c} IS NOT NULL"
        for c in cols
    )
    col_vals = ", ".join(f"('{c}')" for c in cols)
    return f"""
        WITH e AS (
            SELECT {edge_defs} FROM lineitem
            WHERE l_shipdate < DATE '{cut}'),
        b AS ({base_bins}),
        bc AS (SELECT col, bin, count(*) AS nb FROM b GROUP BY col, bin),
        c AS ({cur_bins}),
        cc AS (SELECT period, col, bin, count(*) AS np
               FROM c GROUP BY period, col, bin),
        frame AS (
            SELECT p.period, cl.col, g.bin
            FROM (SELECT DISTINCT period FROM cc) p
            CROSS JOIN (VALUES {col_vals}) cl(col)
            CROSS JOIN (SELECT unnest(range(0, {n_grid})) AS bin) g),
        bd AS (
            SELECT f.col, f.bin, coalesce(bc.nb, 0) AS nb
            FROM (SELECT DISTINCT col, bin FROM frame) f
            LEFT JOIN bc USING (col, bin)),
        bcum AS (
            SELECT col, bin,
                   CAST(sum(nb) OVER (PARTITION BY col ORDER BY bin)
                        AS BIGINT) AS cb,
                   CAST(sum(nb) OVER (PARTITION BY col) AS BIGINT) AS tnb
            FROM bd),
        cd AS (
            SELECT f.period, f.col, f.bin, coalesce(cc.np, 0) AS np
            FROM frame f LEFT JOIN cc USING (period, col, bin)),
        ccum AS (
            SELECT period, col, bin,
                   CAST(sum(np) OVER (PARTITION BY period, col
                                      ORDER BY bin) AS BIGINT) AS cp,
                   CAST(sum(np) OVER (PARTITION BY period, col)
                        AS BIGINT) AS tnp
            FROM cd)
        SELECT c2.period, c2.col AS "column",
               round(max(abs(b2.cb * c2.tnp - c2.cp * b2.tnb))
                     / (CAST(b2.tnb AS DOUBLE) * c2.tnp), 6) AS ks_grid,
               b2.tnb AS n_base, c2.tnp AS n_cur
        FROM ccum c2 JOIN bcum b2 USING (col, bin)
        GROUP BY c2.period, c2.col, b2.tnb, c2.tnp
        ORDER BY c2.period, c2.col
    """


def _oracle_sql_literal() -> dict[str, str]:
    return {
        "w1_dedup_latest": """
            SELECT user_id, event_type, event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts DESC, event_id ASC) = 1
        """,
        "j1_anti_delete": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem
            WHERE l_orderkey NOT IN (
                SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        """,
        # the bitset prefilter only routes rows; the result is the plain
        # anti-join
        "join_anti_bloom": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem
            WHERE l_orderkey NOT IN (
                SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        """,
        "j2_child_rekey": """
            SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderpriority
            FROM lineitem l
            JOIN (SELECT DISTINCT o_orderkey, o_custkey, o_orderpriority
                  FROM orders) o
              ON l.l_orderkey = o.o_orderkey
        """,
        "j3_diff": """
            SELECT c_custkey, 'right_only' AS diff_type
            FROM customer WHERE c_custkey % 97 = 0
            UNION ALL
            SELECT c_custkey, 'mismatch' AS diff_type
            FROM customer
            WHERE c_custkey % 97 != 0
              AND (c_custkey % 10 = 0 OR c_custkey % 13 = 0)
        """,
        "j4_audit_merge": """
            WITH access AS (
                SELECT event_type, count(*) AS access_count
                FROM events GROUP BY event_type),
            creation AS (
                SELECT event_type, count(*) AS creation_count
                FROM events WHERE value > 10 GROUP BY event_type)
            SELECT a.event_type, a.access_count, c.creation_count,
                   a.access_count - coalesce(c.creation_count, 0) AS difference
            FROM access a LEFT JOIN creation c USING (event_type)
        """,
        "a1_stage_counts": """
            SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
                   count(*) AS record_count, 'READ' AS stage
            FROM events GROUP BY 1, 2
        """,
        "a5_group_collect": """
            SELECT n_regionkey,
                   string_agg(n_name, ',' ORDER BY n_name) AS n_names
            FROM nation GROUP BY n_regionkey
        """,
        "p4_defensive_json": """
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 0 END AS n_items
            FROM documents
        """,
        "a4_duplicate_keys": """
            SELECT l_orderkey, count(*) AS n_rows
            FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
        """,
        "n2_relationalize": """
            SELECT l_orderkey AS o_orderkey,
                   CAST(row_number() OVER (
                       PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_partkey, l_quantity) - 1
                     AS INTEGER) AS "index",
                   l_linenumber, l_partkey, l_quantity
            FROM lineitem
        """,
        "p3_json_struct": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
            FROM events
        """,
        "p5_map_normalize": """
            SELECT event_id, 0 AS offset_s, value AS metric FROM events
            UNION ALL
            SELECT event_id, 1 AS offset_s, value * 2 AS metric FROM events
        """,
        "p6_filename_meta": """
            SELECT event_id, event_type AS type,
                   strftime(make_date(2023, 1, 10 + CAST(event_id % 10 AS INT)),
                            '%Y-%m-%d') AS end_date
            FROM events
        """,
        "v1_range_check": """
            SELECT 'l_quantity' AS "column",
                   count(*) AS element_count,
                   CAST(count(*) FILTER (WHERE l_quantity IS NOT NULL
                       AND NOT (l_quantity >= 1 AND l_quantity <= 30))
                     AS BIGINT) AS unexpected_count,
                   count(*) FILTER (WHERE l_quantity IS NOT NULL
                       AND NOT (l_quantity >= 1 AND l_quantity <= 30)) = 0
                     AS success
            FROM lineitem
            UNION ALL
            SELECT 'l_discount',
                   count(*),
                   CAST(count(*) FILTER (WHERE l_discount IS NOT NULL
                       AND NOT (l_discount >= 0.0 AND l_discount <= 0.05))
                     AS BIGINT),
                   count(*) FILTER (WHERE l_discount IS NOT NULL
                       AND NOT (l_discount >= 0.0 AND l_discount <= 0.05)) = 0
            FROM lineitem
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "join_top_orders": """
            SELECT o_orderkey, o_orderpriority, round(rev, 2) AS revenue
            FROM (
                SELECT o.o_orderkey, o.o_orderpriority,
                       sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
                FROM orders o
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                WHERE c.c_mktsegment = 'BUILDING'
                GROUP BY o.o_orderkey, o.o_orderpriority
                ORDER BY rev DESC, o.o_orderkey ASC
                LIMIT 10)
        """,
        "join_nation_revenue": """
            SELECT n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE c.c_nationkey = s.s_nationkey
            GROUP BY n.n_name
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS content_hash,
                   count(*) AS n_duplicates
            FROM documents GROUP BY md5(lower(trim(text)))
        """,
        "funnel_steps": """
            WITH per_user AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'view' THEN ts END) AS t1
                FROM events GROUP BY user_id),
            s2 AS (
                SELECT e.user_id, min(e.ts) AS t2
                FROM events e JOIN per_user p USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > p.t1
                GROUP BY e.user_id),
            s3 AS (
                SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                GROUP BY e.user_id)
            SELECT 'view' AS step, CAST(count(t1) AS BIGINT) AS n_users
            FROM per_user
            UNION ALL
            SELECT 'view>click', CAST(count(*) AS BIGINT) FROM s2
            UNION ALL
            SELECT 'view>click>purchase', CAST(count(*) AS BIGINT) FROM s3
        """,
        "funnel_windowed": """
            WITH per_user AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'view' THEN ts END) AS t1
                FROM events GROUP BY user_id),
            s2 AS (
                SELECT e.user_id, min(e.ts) AS t2
                FROM events e JOIN per_user p USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > p.t1
                      AND e.ts <= p.t1 + INTERVAL 24 HOUR
                GROUP BY e.user_id),
            s3 AS (
                SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                      AND e.ts <= s2.t2 + INTERVAL 24 HOUR
                GROUP BY e.user_id)
            SELECT 'view' AS step, CAST(count(t1) AS BIGINT) AS n_users
            FROM per_user
            UNION ALL
            SELECT 'view>click_24h', CAST(count(*) AS BIGINT) FROM s2
            UNION ALL
            SELECT 'view>click>purchase_24h', CAST(count(*) AS BIGINT)
            FROM s3
        """,
        "emb_pca": """
            WITH u AS (
                SELECT vec_id, CAST(i AS INT) - 1 AS i,
                       CAST(embedding[i] AS DOUBLE) AS x
                FROM embeddings,
                     UNNEST(range(1, len(embedding) + 1)) AS t(i)),
            pairs AS (
                SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy
                FROM u a JOIN u b
                ON a.vec_id = b.vec_id AND a.i <= b.i
                GROUP BY 1, 2),
            m AS (SELECT i, sum(x) AS sx FROM u GROUP BY i),
            t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
            SELECT p.i, p.j, t.n,
                   round((p.sxy - ma.sx * mb.sx / t.n) / (t.n - 1)
                         + 1e-9, 6) + 0.0 AS cov
            FROM pairs p
            JOIN m ma ON p.i = ma.i
            JOIN m mb ON p.j = mb.i
            CROSS JOIN t
        """,
        "graph_kcore": _kcore_oracle_sql(6, 14),
        "agg_basket_lift": """
            WITH bitems AS (
                SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
            sized AS (
                SELECT b, i, count(*) OVER (PARTITION BY b) AS bs
                FROM bitems),
            kept AS (SELECT b, i FROM sized WHERE bs <= 64),
            pairs AS (
                SELECT a.i AS item_a, c.i AS item_b,
                       CAST(count(*) AS BIGINT) AS n_ab
                FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
                GROUP BY 1, 2 HAVING count(*) >= 10),
            marg AS (
                SELECT i, CAST(count(*) AS BIGINT) AS n
                FROM kept GROUP BY i),
            tot AS (
                SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM kept)
            SELECT item_a, item_b, ma.n AS n_a, mb.n AS n_b, n_ab,
                   round(n_ab * 1.0 / nb + 1e-9, 6) + 0.0 AS support,
                   round(n_ab * 1.0 / ma.n + 1e-9, 6) + 0.0 AS conf_a_b,
                   round(n_ab * 1.0 / mb.n + 1e-9, 6) + 0.0 AS conf_b_a,
                   round(n_ab * 1.0 * nb / (ma.n * mb.n) + 1e-9, 6) + 0.0
                       AS lift
            FROM pairs
            JOIN marg ma ON pairs.item_a = ma.i
            JOIN marg mb ON pairs.item_b = mb.i
            CROSS JOIN tot
        """,
        "ts_theil_sen": """
            WITH pts AS (
                -- floor() mirrors Spark unix_timestamp's truncation
                SELECT user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) / 86400.0 AS x,
                       value AS y
                FROM events
                WHERE value IS NOT NULL AND ts IS NOT NULL),
            slopes AS (
                SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS s
                FROM pts a JOIN pts b
                ON a.user_id = b.user_id AND a.x < b.x),
            per_key AS (
                SELECT user_id,
                       round(quantile_cont(s, 0.5), 9) AS slope9,
                       CAST(count(*) AS BIGINT) AS n_pairs
                FROM slopes GROUP BY user_id),
            resid AS (
                SELECT p.user_id,
                       round(quantile_cont(p.y - k.slope9 * p.x, 0.5), 9)
                           AS icept,
                       CAST(count(*) AS BIGINT) AS n_points,
                       max(k.slope9) AS slope9,
                       max(k.n_pairs) AS n_pairs
                FROM pts p JOIN per_key k USING (user_id)
                GROUP BY p.user_id)
            SELECT user_id,
                   round(slope9 + 1e-9, 6) + 0.0 AS slope,
                   round(icept + 1e-9, 6) + 0.0 AS intercept,
                   n_points, n_pairs
            FROM resid
        """,
        "retention_survival": """
            WITH ev AS (
                -- floor() mirrors Spark unix_timestamp's truncation
                -- (bare CAST in DuckDB rounds half-even)
                SELECT user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS sec
                FROM events),
            per_subject AS (
                SELECT user_id, event_type,
                       CAST(min(floor(sec / 86400)) AS BIGINT) AS first_day,
                       CAST(max(floor(sec / 86400)) AS BIGINT) AS last_day,
                       max(sec) AS last_sec
                FROM ev GROUP BY user_id, event_type),
            h AS (SELECT max(sec) AS max_sec FROM ev),
            subjects AS (
                SELECT event_type,
                       last_day - first_day AS duration,
                       CASE WHEN last_sec <= max_sec - 259200
                            THEN 1 ELSE 0 END AS e
                FROM per_subject CROSS JOIN h),
            counts AS (
                SELECT event_type, duration,
                       CAST(sum(e) AS BIGINT) AS n_event,
                       CAST(sum(1 - e) AS BIGINT) AS n_censored
                FROM subjects GROUP BY event_type, duration),
            staged AS (
                SELECT *,
                       sum(n_event + n_censored)
                           OVER (PARTITION BY event_type)
                       - coalesce(sum(n_event + n_censored) OVER (
                             PARTITION BY event_type ORDER BY duration
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS n_risk
                FROM counts),
            f AS (
                SELECT *,
                       CASE WHEN n_risk > n_event
                            THEN ln((n_risk - n_event) * 1.0 / n_risk)
                            END AS lnf,
                       CASE WHEN n_risk <= n_event THEN 1 ELSE 0 END
                           AS dead
                FROM staged)
            SELECT event_type, duration,
                   CAST(n_risk AS BIGINT) AS n_risk, n_event, n_censored,
                   round(CASE WHEN max(dead) OVER w = 1 THEN 0.0
                         ELSE exp(coalesce(sum(lnf) OVER w, 0.0))
                         END + 1e-9, 6) + 0.0 AS survival
            FROM f
            WINDOW w AS (PARTITION BY event_type ORDER BY duration
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        """,
        "agg_gini": """
            -- rank identity G = 2*sum(rn*x)/(n*sum(x)) - (n+1)/n.
            -- row_number() without a tiebreaker is fine: equal values
            -- contribute identically under any tie order, so the SUM
            -- is deterministic even though individual ranks are not
            -- (operators/analytics.py:gini_by_group docstring).
            WITH x AS (
                SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS v
                FROM orders WHERE o_totalprice IS NOT NULL),
            r AS (
                SELECT o_orderpriority, v,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY v) AS rn
                FROM x),
            a AS (
                SELECT o_orderpriority,
                       CAST(count(*) AS BIGINT) AS n,
                       sum(v) AS total,
                       sum(rn * v) AS s
                FROM r GROUP BY o_orderpriority)
            -- expose mean, not the raw total: at total's ~7.6e8
            -- magnitude a 6-decimal round cannot absorb the last-ULP
            -- cross-engine sum difference (round-9 verdict).
            SELECT o_orderpriority, n,
                   round(total / n + 1e-9, 6) + 0.0 AS mean,
                   round(CASE WHEN total <> 0
                         THEN 2.0 * s / (n * total) - (n + 1.0) / n
                         END + 1e-9, 6) + 0.0 AS gini
            FROM a
        """,
        "agg_auc": """
            -- Mann-Whitney AUC over the distinct-score grain: each
            -- positive beats every lower-scored negative, half-beats
            -- ties (ops/classifier_eval.py:roc_auc_by_group).
            WITH x AS (
                SELECT event_type AS g,
                       value - floor(value) AS s,
                       CASE WHEN user_id % 2 = 0
                            THEN 1.0 ELSE 0.0 END AS y
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL),
            a AS (
                SELECT g, s, sum(y) AS pos_c, sum(1.0 - y) AS neg_c
                FROM x GROUP BY g, s),
            c AS (
                SELECT g, pos_c, neg_c,
                       coalesce(sum(neg_c) OVER (
                           PARTITION BY g ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS cnb
                FROM a)
            SELECT g AS event_type,
                   CAST(sum(pos_c) AS BIGINT) AS n_pos,
                   CAST(sum(neg_c) AS BIGINT) AS n_neg,
                   round(CASE WHEN sum(pos_c) > 0 AND sum(neg_c) > 0
                         THEN sum(pos_c * (cnb + 0.5 * neg_c))
                              / (sum(pos_c) * sum(neg_c)) END
                         + 1e-9, 6) + 0.0 AS auc
            FROM c GROUP BY g
        """,
        "agg_avg_precision": """
            -- tie-block AP: blocks retrieved together, every positive
            -- scores the precision at its block's end
            -- (ops/classifier_eval.py:average_precision_by_group)
            WITH x AS (
                SELECT event_type AS g,
                       value - floor(value) AS s,
                       CASE WHEN user_id % 2 = 0
                            THEN 1.0 ELSE 0.0 END AS y
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL),
            a AS (
                SELECT g, s, sum(y) AS pos_c,
                       count(*)::DOUBLE AS cnt
                FROM x GROUP BY g, s),
            c AS (
                SELECT g, pos_c,
                       sum(pos_c) OVER (PARTITION BY g ORDER BY s DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cp,
                       sum(cnt) OVER (PARTITION BY g ORDER BY s DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cn,
                       cnt
                FROM a)
            SELECT g AS event_type,
                   CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(pos_c) AS BIGINT) AS n_pos,
                   round(CASE WHEN sum(pos_c) > 0
                         THEN sum(pos_c * (cp / cn)) / sum(pos_c) END
                         + 1e-9, 6) + 0.0 AS avg_precision
            FROM c GROUP BY g
        """,
        "agg_calibration": """
            WITH x AS (
                SELECT event_type AS g,
                       value - floor(value) AS s,
                       CASE WHEN user_id % 2 = 0
                            THEN 1.0 ELSE 0.0 END AS y
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL),
            b AS (
                SELECT g, least(CAST(floor(s * 10) AS INT), 9) AS bin,
                       count(*) AS n_bin, sum(s) AS ss, sum(y) AS sy,
                       sum((s - y) * (s - y)) AS sq
                FROM x GROUP BY g, bin)
            SELECT g AS event_type,
                   CAST(sum(n_bin) AS BIGINT) AS n,
                   round(sum(sq) / sum(n_bin) + 1e-9, 6) + 0.0 AS brier,
                   round(sum(n_bin * abs(ss / n_bin - sy / n_bin))
                         / sum(n_bin) + 1e-9, 6) + 0.0 AS ece,
                   round(sum(sy) / sum(n_bin) + 1e-9, 6) + 0.0
                       AS base_rate
            FROM b GROUP BY g
        """,
        "stream_calibration_matview": """
            -- the batch twin of the incrementally-maintained view:
            -- maintenance must be invisible in the result
            WITH x AS (
                SELECT event_type AS g,
                       value - floor(value) AS s,
                       CASE WHEN user_id % 2 = 0
                            THEN 1.0 ELSE 0.0 END AS y
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL),
            b AS (
                SELECT g, least(CAST(floor(s * 10) AS INT), 9) AS bin,
                       count(*) AS n_bin, sum(s) AS ss, sum(y) AS sy,
                       sum((s - y) * (s - y)) AS sq
                FROM x GROUP BY g, bin)
            SELECT g AS event_type,
                   CAST(sum(n_bin) AS BIGINT) AS n,
                   round(sum(sq) / sum(n_bin) + 1e-9, 6) + 0.0 AS brier,
                   round(sum(n_bin * abs(ss / n_bin - sy / n_bin))
                         / sum(n_bin) + 1e-9, 6) + 0.0 AS ece,
                   round(sum(sy) / sum(n_bin) + 1e-9, 6) + 0.0
                       AS base_rate
            FROM b GROUP BY g
        """,
        "agg_reliability_bins": """
            WITH x AS (
                SELECT event_type AS g,
                       value - floor(value) AS s,
                       CASE WHEN user_id % 2 = 0
                            THEN 1.0 ELSE 0.0 END AS y
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL)
            SELECT g AS event_type,
                   least(CAST(floor(s * 10) AS INT), 9) AS bin,
                   CAST(count(*) AS BIGINT) AS n_bin,
                   round(sum(s) / count(*) + 1e-9, 6) + 0.0 AS confidence,
                   round(sum(y) / count(*) + 1e-9, 6) + 0.0 AS accuracy
            FROM x GROUP BY g, bin
        """,
        "stream_pattern_matview": """
            WITH seq AS (
                SELECT user_id, count(*) AS n_events,
                       string_agg(CASE event_type
                                  WHEN 'view' THEN 'v'
                                  WHEN 'click' THEN 'c'
                                  WHEN 'purchase' THEN 'p'
                                  WHEN 'signup' THEN 's'
                                  WHEN 'error' THEN 'e' END, ''
                                  ORDER BY ts, event_id) AS s
                FROM events GROUP BY user_id)
            SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
                   CAST(len(regexp_extract_all(s, 'vc*p')) AS BIGINT)
                       AS conversions,
                   CAST(len(regexp_extract_all(s, 'e+c')) AS BIGINT)
                       AS error_recoveries,
                   CAST(len(regexp_extract_all(s, 's[^p]*p')) AS BIGINT)
                       AS signup_conversions
            FROM seq
            ORDER BY user_id
        """,
        "stream_heartbeat_matview": """
            -- batch twin: per-key last_seen vs the data's own
            -- high-water mark (not the wall clock)
            WITH s AS (
                SELECT user_id % 200 AS k, max(ts) AS last_seen,
                       CAST(count(*) AS BIGINT) AS n_rows
                FROM events WHERE ts IS NOT NULL GROUP BY 1),
            f AS (SELECT max(last_seen) AS fr FROM s)
            SELECT k,
                   strftime(last_seen, '%Y-%m-%d %H:%M:%S')
                       AS last_seen,
                   n_rows,
                   round((epoch_us(fr) - epoch_us(last_seen))
                         / 1000000.0, 6) AS lag_seconds,
                   (epoch_us(fr) - epoch_us(last_seen)) / 1000000.0
                       > 86400.0 AS is_stale
            FROM s, f ORDER BY k
        """,
        "mm_audio_energy": """
            -- arithmetic twin of the WAV decode: the fixture's
            -- closed-form sample generator re-expressed in SQL; RMS
            -- over int16 squares is integer-exact until one division
            -- and sqrt, so the decode kernel hash-verifies
            WITH d AS (
                SELECT doc_id, 800 + (doc_id % 5) * 400 AS n
                FROM documents),
            s AS (
                SELECT doc_id, unnest(range(n)) AS i FROM d),
            v AS (
                SELECT doc_id, CAST(i // 400 AS INT) AS frame_idx,
                       CASE WHEN (i // 400) % 3 = 2 THEN 0
                            ELSE ((doc_id * 31 + i * 7919) % 65536)
                                 - 32768 END AS sv
                FROM s)
            SELECT doc_id AS media_id, frame_idx,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   round(sqrt(sum(sv * sv) / (count(*) + 0.0))
                         + 1e-9, 6) + 0.0 AS rms,
                   sqrt(sum(sv * sv) / (count(*) + 0.0)) < 1000.0
                       AS is_silence
            FROM v GROUP BY doc_id, frame_idx
            ORDER BY media_id, frame_idx
        """,
        "text_readability": r"""
            WITH b AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text,
                           '[A-Za-z0-9'']+')) AS BIGINT) AS n_words,
                       CAST(greatest(len(regexp_extract_all(text,
                           '[.!?]+')), 1) AS BIGINT) AS n_sentences,
                       CAST(len(regexp_extract_all(lower(text),
                           '[aeiouy]+')) AS BIGINT) AS n_syllables
                FROM documents)
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   round(CASE WHEN n_words > 0 THEN
                       206.835 - 1.015 * (n_words / (n_sentences + 0.0))
                       - 84.6 * (n_syllables / (n_words + 0.0)) END
                       + 1e-9, 6) + 0.0 AS flesch_ease,
                   round(CASE WHEN n_words > 0 THEN
                       0.39 * (n_words / (n_sentences + 0.0))
                       + 11.8 * (n_syllables / (n_words + 0.0))
                       - 15.59 END + 1e-9, 6) + 0.0 AS fk_grade
            FROM b ORDER BY doc_id
        """,
        "ts_gaps": """
            WITH o AS (
                SELECT DISTINCT event_type AS k,
                       CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b
                FROM events WHERE ts IS NOT NULL),
            bounds AS (SELECT k, min(b) AS lo, max(b) AS hi
                       FROM o GROUP BY k),
            grid AS (SELECT k, unnest(range(lo, hi + 1)) AS b
                     FROM bounds),
            miss AS (SELECT g.k, g.b FROM grid g
                     LEFT JOIN o ON g.k = o.k AND g.b = o.b
                     WHERE o.b IS NULL),
            runs AS (SELECT k, b,
                            b - row_number() OVER (PARTITION BY k
                                                   ORDER BY b) AS run
                     FROM miss)
            SELECT k AS event_type,
                   CAST(min(b) * 3600 AS BIGINT) AS gap_start,
                   CAST((max(b) + 1) * 3600 AS BIGINT) AS gap_end,
                   CAST(count(*) AS BIGINT) AS n_missing
            FROM runs GROUP BY k, run
            ORDER BY event_type, gap_start
        """,
        "v14_functional_deps": " UNION ALL ".join(
            f"""
            SELECT '{a}' AS determinant, '{b}' AS dependent,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(coalesce(sum(CASE WHEN nb > 1 THEN 1 ELSE 0
                                     END), 0) AS BIGINT) AS n_violating,
                   coalesce(sum(CASE WHEN nb > 1 THEN 1 ELSE 0
                                END), 0) = 0 AS holds
            FROM (
                SELECT {a} AS k, count(DISTINCT coalesce(
                           CAST({b} AS VARCHAR), '__null')) AS nb
                FROM orders WHERE {a} IS NOT NULL GROUP BY {a})
            """
            for a in ("o_orderkey", "o_custkey", "o_orderpriority")
            for b in ("o_orderkey", "o_custkey", "o_orderpriority")
            if a != b
        ),
        "v15_iqr_outliers": """
            WITH c AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value) AS rn,
                       count(value) OVER (PARTITION BY event_type)
                           AS n
                FROM events WHERE value IS NOT NULL),
            q AS (
                SELECT event_type,
                       min(CASE WHEN rn >= 0.25 * n THEN value END)
                           AS q25,
                       min(CASE WHEN rn >= 0.75 * n THEN value END)
                           AS q75
                FROM c GROUP BY event_type),
            b AS (
                SELECT event_type,
                       round(q25 - 1.5 * (q75 - q25) + 1e-9, 6)
                           + 0.0 AS lo,
                       round(q75 + 1.5 * (q75 - q25) + 1e-9, 6)
                           + 0.0 AS hi
                FROM q)
            SELECT event_id, e.event_type,
                   round(value, 6) AS value,
                   lo + 0.0 AS lo_fence, hi + 0.0 AS hi_fence,
                   CASE WHEN value IS NOT NULL
                        THEN value < lo OR value > hi END AS is_outlier
            FROM events e LEFT JOIN b ON e.event_type = b.event_type
        """,
        "transform_standardize": """
            WITH s AS (
                SELECT event_type,
                       avg(value) AS mu, stddev_samp(value) AS sd
                FROM events GROUP BY event_type)
            SELECT event_id, e.event_type,
                   round(value, 6) AS value,
                   round(CASE WHEN sd > 0
                         THEN (value - mu) / sd END + 1e-9, 6) + 0.0
                       AS zscore
            FROM events e LEFT JOIN s ON e.event_type = s.event_type
        """,
        "transform_winsorize": """
            -- clamp bounds are the operator's own exact type-1
            -- quantiles, rounded the same way before clamping
            WITH c AS (
                SELECT event_id, event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value) AS rn,
                       count(value) OVER (PARTITION BY event_type)
                           AS n
                FROM events WHERE value IS NOT NULL),
            b AS (
                SELECT event_type,
                       round(min(CASE WHEN rn >= 0.05 * n THEN value
                                 END) + 1e-9, 6) + 0.0 AS lo,
                       round(min(CASE WHEN rn >= 0.95 * n THEN value
                                 END) + 1e-9, 6) + 0.0 AS hi
                FROM c GROUP BY event_type)
            SELECT event_id, e.event_type,
                   round(value, 6) AS value,
                   round(CASE WHEN value IS NOT NULL
                         THEN greatest(least(value, hi), lo) END
                         + 1e-9, 6) + 0.0 AS winsorized
            FROM events e LEFT JOIN b ON e.event_type = b.event_type
        """,
        "stream_auc_matview": """
            -- tie-block AUC of scores QUANTIZED to the view's bins
            -- (streaming/matview.py:read_auc_matview contract)
            WITH x AS (
                SELECT event_type AS g,
                       least(CAST(floor((value - floor(value)) * 10)
                                  AS INT), 9) AS s,
                       CASE WHEN user_id % 2 = 0
                            THEN 1.0 ELSE 0.0 END AS y
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL),
            a AS (
                SELECT g, s, sum(y) AS pos_c, sum(1.0 - y) AS neg_c
                FROM x GROUP BY g, s),
            c AS (
                SELECT g, pos_c, neg_c,
                       coalesce(sum(neg_c) OVER (
                           PARTITION BY g ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS cnb
                FROM a)
            SELECT g AS event_type,
                   CAST(sum(pos_c) AS BIGINT) AS n_pos,
                   CAST(sum(neg_c) AS BIGINT) AS n_neg,
                   round(CASE WHEN sum(pos_c) > 0 AND sum(neg_c) > 0
                         THEN sum(pos_c * (cnb + 0.5 * neg_c))
                              / (sum(pos_c) * sum(neg_c)) END
                         + 1e-9, 6) + 0.0 AS auc_binned
            FROM c GROUP BY g
        """,
        "agg_moments": """
            -- two-pass centered power sums, mirroring the operator's
            -- cancellation-safe shape (operators/analytics.py:
            -- moments_by_group)
            WITH x AS (
                SELECT o_orderpriority AS g,
                       CAST(o_totalprice AS DOUBLE) AS v
                FROM orders WHERE o_totalprice IS NOT NULL),
            m AS (SELECT g, count(*) AS n, avg(v) AS mu
                  FROM x GROUP BY g),
            c AS (SELECT x.g, (v - mu) AS d, n, mu
                  FROM x JOIN m ON x.g = m.g),
            a AS (SELECT g, max(n) AS n, max(mu) AS mu,
                         sum(d * d) AS s2, sum(d * d * d) AS s3,
                         sum(d * d * d * d) AS s4
                  FROM c GROUP BY g)
            SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n,
                   round(mu + 1e-9, 6) + 0.0 AS mean,
                   round(sqrt(s2 / (n - 1)) + 1e-9, 6) + 0.0 AS stddev,
                   round((s3 / n) / pow(s2 / n, 1.5) + 1e-9, 6) + 0.0
                       AS skewness,
                   round((s4 / n) / ((s2 / n) * (s2 / n)) - 3
                         + 1e-9, 6) + 0.0 AS excess_kurtosis
            FROM a
        """,
        "text_vocab_overlap": r"""
            WITH v AS (
                SELECT DISTINCT source AS g, t.term
                FROM documents,
                     UNNEST(regexp_split_to_array(lower(text),
                            '[^a-z0-9'']+')) AS t(term)
                WHERE t.term <> ''),
            s AS (SELECT g, count(*) AS sz FROM v GROUP BY g),
            i AS (SELECT a.g AS group_a, b.g AS group_b,
                         count(*) AS n_common
                  FROM v a JOIN v b
                    ON a.term = b.term AND a.g < b.g
                  GROUP BY 1, 2)
            SELECT group_a, group_b,
                   CAST(sa.sz AS BIGINT) AS n_a,
                   CAST(sb.sz AS BIGINT) AS n_b,
                   CAST(n_common AS BIGINT) AS n_common,
                   round(n_common
                         / (sa.sz + sb.sz - n_common + 0.0)
                         + 1e-9, 6) + 0.0 AS jaccard,
                   round(n_common / (least(sa.sz, sb.sz) + 0.0)
                         + 1e-9, 6) + 0.0 AS containment
            FROM i
            JOIN s sa ON i.group_a = sa.g
            JOIN s sb ON i.group_b = sb.g
        """,
        "text_lexical_diversity": r"""
            WITH toks AS (
                SELECT source, t.term
                FROM documents,
                     UNNEST(regexp_split_to_array(lower(text),
                            '[^a-z0-9'']+')) AS t(term)
                WHERE t.term <> ''),
            tc AS (
                SELECT source, term, count(*) AS c
                FROM toks GROUP BY source, term),
            a AS (
                SELECT source,
                       CAST(sum(c) AS BIGINT) AS n_tokens,
                       CAST(count(*) AS BIGINT) AS n_types,
                       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                            AS DOUBLE) AS hapax
                FROM tc GROUP BY source)
            SELECT source, n_tokens, n_types,
                   round(n_types / (n_tokens + 0.0) + 1e-9, 6) + 0.0
                       AS ttr,
                   round(n_types / sqrt(n_tokens + 0.0) + 1e-9, 6) + 0.0
                       AS guiraud,
                   round(hapax / n_types + 1e-9, 6) + 0.0
                       AS hapax_share
            FROM a
        """,
        "sample_group_topk": f"""
            WITH h AS (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY {_h64(
                               "concat('topk_sample', '|', "
                               "CAST(doc_id AS VARCHAR))"
                           )} ASC, doc_id ASC) AS rn
                FROM documents)
            SELECT doc_id, source, n_chars
            FROM h WHERE rn <= 20
        """,
        "transform_rank_normalize": """
            -- Hazen position (midrank - 0.5)/n; midrank = avg of
            -- row_numbers over the tie block
            -- (operators/analytics.py:rank_normalize)
            WITH r1 AS (
                SELECT event_id, event_type, value,
                       CASE WHEN value IS NOT NULL THEN
                           row_number() OVER (
                               PARTITION BY event_type,
                                            value IS NOT NULL
                               ORDER BY value) END AS rn,
                       CASE WHEN value IS NOT NULL THEN
                           count(value) OVER (PARTITION BY event_type)
                           END AS n
                FROM events),
            r2 AS (
                SELECT event_id, event_type, value, n,
                       avg(rn) OVER (PARTITION BY event_type, value)
                           AS mid
                FROM r1)
            SELECT event_id, event_type,
                   round(value, 6) AS value,
                   round(CASE WHEN value IS NOT NULL
                         THEN (mid - 0.5) / n END + 1e-9, 6) + 0.0
                       AS ecdf
            FROM r2
        """,
        "agg_effect_size": """
            WITH s AS (
                SELECT event_type,
                       CASE WHEN user_id % 2 = 0 THEN value END AS va,
                       CASE WHEN user_id % 2 = 1 THEN value END AS vb
                FROM events),
            a AS (
                SELECT event_type,
                       CAST(count(va) AS BIGINT) AS n_a, avg(va) AS ma,
                       var_samp(va) AS sa,
                       CAST(count(vb) AS BIGINT) AS n_b, avg(vb) AS mb,
                       var_samp(vb) AS sb
                FROM s GROUP BY event_type)
            SELECT event_type, n_a, n_b,
                   round((ma - mb) / sqrt(((n_a - 1) * sa
                              + (n_b - 1) * sb) / (n_a + n_b - 2))
                         + 1e-9, 6) + 0.0 AS cohen_d,
                   round((ma - mb) / sqrt(((n_a - 1) * sa
                              + (n_b - 1) * sb) / (n_a + n_b - 2))
                         * (1 - 3.0 / (4 * (n_a + n_b) - 9))
                         + 1e-9, 6) + 0.0 AS hedges_g
            FROM a
        """,
        "agg_spearman": """
            -- midranks = avg of row_numbers over the tie block; rho
            -- from raw sums with the identical formula to Spark
            -- (operators/analytics.py:spearman_by_group).  Rank sums
            -- are exact quarter-integers: bit-identical engines.
            WITH x AS (
                SELECT event_type AS g, value AS xv,
                       value - floor(value) AS yv
                FROM events WHERE value IS NOT NULL),
            r1 AS (
                SELECT g, xv, yv,
                       row_number() OVER (PARTITION BY g ORDER BY xv)
                           AS rnx,
                       row_number() OVER (PARTITION BY g ORDER BY yv)
                           AS rny
                FROM x),
            r2 AS (
                SELECT g,
                       avg(rnx) OVER (PARTITION BY g, xv) AS rx,
                       avg(rny) OVER (PARTITION BY g, yv) AS ry
                FROM r1),
            a AS (
                SELECT g, count(*)::DOUBLE AS n,
                       sum(rx) AS sx, sum(ry) AS sy,
                       sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
                       sum(rx * ry) AS sxy
                FROM r2 GROUP BY g)
            SELECT g AS event_type, CAST(n AS BIGINT) AS n,
                   round(CASE WHEN (n * sxx - sx * sx)
                                   * (n * syy - sy * sy) > 0
                         THEN (n * sxy - sx * sy)
                              / sqrt((n * sxx - sx * sx)
                                     * (n * syy - sy * sy)) END
                         + 1e-9, 6) + 0.0 AS spearman
            FROM a
        """,
        "agg_mutual_info": """
            -- MI and both entropies fold from the CELL grain:
            -- H_a = -sum over cells of (c/n)*log2(ca/n) collapses to
            -- the margin sum exactly (operators/analytics.py:
            -- mutual_info_by_group).  NULL is its own level.
            WITH x AS (
                SELECT event_type AS g,
                       coalesce(CAST(user_id % 5 AS VARCHAR), '__null')
                           AS a,
                       coalesce(CAST(user_id % 10 AS VARCHAR), '__null')
                           AS b
                FROM events),
            cells AS (
                SELECT g, a, b, count(*)::DOUBLE AS c
                FROM x GROUP BY g, a, b),
            s AS (
                SELECT g, c,
                       sum(c) OVER (PARTITION BY g) AS n,
                       sum(c) OVER (PARTITION BY g, a) AS ca,
                       sum(c) OVER (PARTITION BY g, b) AS cb
                FROM cells)
            SELECT g AS event_type,
                   CAST(max(n) AS BIGINT) AS n,
                   round(sum((c / n) * log2(c * n / (ca * cb)))
                         + 1e-9, 6) + 0.0 AS mi_bits,
                   round(CASE WHEN sum(-(c / n) * log2(ca / n))
                                   * sum(-(c / n) * log2(cb / n)) > 0
                         THEN sum((c / n) * log2(c * n / (ca * cb)))
                              / sqrt(sum(-(c / n) * log2(ca / n))
                                     * sum(-(c / n) * log2(cb / n)))
                         END + 1e-9, 6) + 0.0 AS nmi
            FROM s GROUP BY g
        """,
        "agg_kappa": """
            -- kappa = (po - pe) / (1 - pe); pe from per-category
            -- margin products (operators/analytics.py:cohens_kappa)
            WITH x AS (
                SELECT event_type AS g,
                       CAST(user_id % 3 AS VARCHAR) AS a,
                       CAST((user_id + CAST(floor(value) AS BIGINT)) % 3
                            AS VARCHAR) AS b
                FROM events
                WHERE user_id IS NOT NULL AND value IS NOT NULL),
            cells AS (
                SELECT g, a, b, count(*)::DOUBLE AS c
                FROM x GROUP BY g, a, b),
            obs AS (
                SELECT g, CAST(sum(c) AS BIGINT) AS n,
                       sum(CASE WHEN a = b THEN c ELSE 0 END) AS agree
                FROM cells GROUP BY g),
            ma AS (SELECT g, a AS k, sum(c) AS ca FROM cells GROUP BY g, a),
            mb AS (SELECT g, b AS k, sum(c) AS cb FROM cells GROUP BY g, b),
            pe AS (
                SELECT ma.g, sum(ca * cb) AS pe_num
                FROM ma JOIN mb ON ma.g = mb.g AND ma.k = mb.k
                GROUP BY ma.g)
            SELECT obs.g AS event_type, obs.n,
                   round(agree / obs.n + 1e-9, 6) + 0.0 AS p_observed,
                   round(coalesce(pe_num, 0) / (obs.n * obs.n::DOUBLE)
                         + 1e-9, 6) + 0.0 AS p_expected,
                   round(CASE WHEN coalesce(pe_num, 0)
                                   / (obs.n * obs.n::DOUBLE) <> 1
                         THEN (agree / obs.n
                               - coalesce(pe_num, 0)
                                 / (obs.n * obs.n::DOUBLE))
                              / (1 - coalesce(pe_num, 0)
                                     / (obs.n * obs.n::DOUBLE))
                         END + 1e-9, 6) + 0.0 AS kappa
            FROM obs LEFT JOIN pe ON obs.g = pe.g
        """,
        "agg_ab_welch": """
            WITH s AS (
                SELECT event_type,
                       CASE WHEN user_id % 2 = 0 THEN value END AS va,
                       CASE WHEN user_id % 2 = 1 THEN value END AS vb
                FROM events),
            a AS (
                SELECT event_type,
                       CAST(count(va) AS BIGINT) AS n_a, avg(va) AS ma,
                       var_samp(va) AS sa,
                       CAST(count(vb) AS BIGINT) AS n_b, avg(vb) AS mb,
                       var_samp(vb) AS sb
                FROM s GROUP BY event_type)
            SELECT event_type, n_a, n_b,
                   round(ma + 1e-9, 6) + 0.0 AS mean_a,
                   round(mb + 1e-9, 6) + 0.0 AS mean_b,
                   round(CASE WHEN sa / n_a + sb / n_b > 0
                         THEN (ma - mb) / sqrt(sa / n_a + sb / n_b)
                         END + 1e-9, 6) + 0.0 AS t_stat,
                   round(CASE WHEN (sa / n_a) * (sa / n_a) / (n_a - 1)
                                 + (sb / n_b) * (sb / n_b) / (n_b - 1) > 0
                         THEN (sa / n_a + sb / n_b)
                              * (sa / n_a + sb / n_b)
                              / ((sa / n_a) * (sa / n_a) / (n_a - 1)
                                 + (sb / n_b) * (sb / n_b) / (n_b - 1))
                         END + 1e-9, 6) + 0.0 AS df_welch
            FROM a
        """,
        "agg_trimmed_stats": """
            WITH x AS (
                SELECT o_orderpriority AS g,
                       CAST(o_totalprice AS DOUBLE) AS v
                FROM orders WHERE o_totalprice IS NOT NULL),
            r AS (
                SELECT g, v,
                       row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                       count(*) OVER (PARTITION BY g) AS n
                FROM x),
            kk AS (
                SELECT g, v, rn, n,
                       CAST(floor(0.1 * n) AS BIGINT) AS k
                FROM r),
            a AS (
                SELECT g, CAST(max(n) AS BIGINT) AS n, max(k) AS k_trim,
                       sum(v) AS s,
                       sum(CASE WHEN rn > k AND rn <= n - k THEN v END)
                           AS s_mid,
                       max(CASE WHEN rn = k + 1 THEN v END) AS lo,
                       max(CASE WHEN rn = n - k THEN v END) AS hi
                FROM kk GROUP BY g)
            SELECT g AS o_orderpriority, n, k_trim,
                   round(s / n + 1e-9, 6) + 0.0 AS mean,
                   round(CASE WHEN n - 2 * k_trim > 0
                         THEN s_mid / (n - 2 * k_trim)
                         END + 1e-9, 6) + 0.0 AS trimmed_mean,
                   round((s_mid + k_trim * (lo + hi)) / n + 1e-9, 6)
                       + 0.0 AS winsorized_mean,
                   round(lo + 1e-9, 6) + 0.0 AS lo_clamp,
                   round(hi + 1e-9, 6) + 0.0 AS hi_clamp
            FROM a
        """,
        "scd2_history": """
            WITH ev AS (
                -- floor() mirrors Spark unix_timestamp's truncation
                SELECT user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
                FROM events),
            o AS (
                SELECT user_id, event_type, sec, event_id,
                       lag(event_type) OVER w AS prev,
                       (row_number() OVER w = 1) AS first
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
            ch AS (
                SELECT user_id, event_type, sec, event_id
                FROM o WHERE first OR prev IS DISTINCT FROM event_type)
            SELECT user_id, event_type,
                   sec AS valid_from,
                   lead(sec) OVER w2 AS valid_to,
                   CAST(row_number() OVER w2 AS INT) AS version,
                   CASE WHEN lead(sec) OVER w2 IS NULL
                        THEN 1 ELSE 0 END AS is_current
            FROM ch
            WINDOW w2 AS (PARTITION BY user_id ORDER BY sec, event_id)
        """,
        "retrieval_rank_metrics": """
            WITH runs AS (
                SELECT s_nationkey AS q, s_suppkey AS d,
                       CAST(row_number() OVER (
                           PARTITION BY s_nationkey
                           ORDER BY s_acctbal DESC, s_suppkey) AS INT)
                           AS rank
                FROM supplier
                QUALIFY rank <= 10),
            pos AS (
                SELECT s_nationkey AS q, s_suppkey AS d, 1.0 AS rel
                FROM supplier WHERE s_acctbal > 5000),
            scored AS (
                SELECT r.q,
                       sum(coalesce(p.rel, 0.0)
                           / log2(r.rank + 1.0)) AS dcg,
                       CAST(sum(CASE WHEN p.rel > 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_hits,
                       coalesce(max(CASE WHEN p.rel > 0
                                    THEN 1.0 / r.rank END), 0.0) AS mrr
                FROM runs r LEFT JOIN pos p USING (q, d)
                GROUP BY r.q),
            ideal AS (
                SELECT q, sum(rel / log2(ir + 1.0)) AS idcg
                FROM (SELECT q, rel,
                             row_number() OVER (
                                 PARTITION BY q ORDER BY rel DESC) AS ir
                      FROM pos)
                WHERE ir <= 10 GROUP BY q),
            nrel AS (
                SELECT q, CAST(count(*) AS BIGINT) AS n_rel
                FROM pos GROUP BY q)
            SELECT s.q AS query_id, s.n_hits,
                   round(CASE WHEN i.idcg > 0 THEN s.dcg / i.idcg END
                         + 1e-9, 6) + 0.0 AS ndcg,
                   round(s.mrr + 1e-9, 6) + 0.0 AS mrr,
                   round(s.n_hits / 10.0 + 1e-9, 6) + 0.0 AS precision,
                   round(s.n_hits * 1.0 / n.n_rel + 1e-9, 6) + 0.0
                       AS recall
            FROM scored s
            LEFT JOIN ideal i USING (q) LEFT JOIN nrel n ON s.q = n.q
        """,
        "agg_ab_prop_ztest": """
            WITH s AS (
                SELECT event_type,
                       CASE WHEN user_id % 2 = 0 THEN
                            CASE WHEN value IS NULL THEN NULL
                                 WHEN value > 50 THEN 1.0 ELSE 0.0 END
                       END AS sa,
                       CASE WHEN user_id % 2 = 1 THEN
                            CASE WHEN value IS NULL THEN NULL
                                 WHEN value > 50 THEN 1.0 ELSE 0.0 END
                       END AS sb
                FROM events),
            a AS (
                SELECT event_type,
                       CAST(count(sa) AS BIGINT) AS n_a,
                       CAST(sum(sa) AS BIGINT) AS x_a,
                       CAST(count(sb) AS BIGINT) AS n_b,
                       CAST(sum(sb) AS BIGINT) AS x_b
                FROM s GROUP BY event_type)
            SELECT event_type, n_a, x_a, n_b, x_b,
                   round(CASE WHEN n_a > 0 THEN x_a * 1.0 / n_a END
                         + 1e-9, 6) + 0.0 AS rate_a,
                   round(CASE WHEN n_b > 0 THEN x_b * 1.0 / n_b END
                         + 1e-9, 6) + 0.0 AS rate_b,
                   round(CASE WHEN n_a > 0 AND n_b > 0
                              AND (x_a + x_b) * 1.0 / (n_a + n_b) > 0
                              AND (x_a + x_b) * 1.0 / (n_a + n_b) < 1
                         THEN (x_a * 1.0 / n_a - x_b * 1.0 / n_b)
                              / sqrt((x_a + x_b) * 1.0 / (n_a + n_b)
                                     * (1 - (x_a + x_b) * 1.0
                                        / (n_a + n_b))
                                     * (1.0 / n_a + 1.0 / n_b))
                         END + 1e-9, 6) + 0.0 AS z_stat
            FROM a
        """,
        "stream_upsert_matview": """
            WITH ev AS (
                -- floor() mirrors Spark unix_timestamp's truncation
                SELECT event_id, user_id, event_type, value,
                       CAST(floor(epoch(ts)) AS BIGINT) AS sec
                FROM events),
            r AS (
                SELECT *, row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY sec DESC, event_id DESC) AS rn
                FROM ev)
            SELECT user_id, event_id, event_type, value, sec
            FROM r WHERE rn = 1
        """,
        "agg_hhi": """
            WITH cells AS (
                SELECT c_nationkey,
                       coalesce(CAST(c_mktsegment AS VARCHAR), '__null')
                           AS cat,
                       CAST(count(*) AS BIGINT) AS c
                FROM customer GROUP BY 1, 2),
            g AS (
                SELECT c_nationkey,
                       CAST(sum(c) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS k_levels,
                       sum(c * 1.0 * c) AS ss
                FROM cells GROUP BY c_nationkey)
            SELECT c_nationkey, n, k_levels,
                   round(ss / (n * 1.0 * n) + 1e-9, 6) + 0.0 AS hhi,
                   round(CASE WHEN k_levels > 1
                         THEN (ss / (n * 1.0 * n) - 1.0 / k_levels)
                              / (1.0 - 1.0 / k_levels)
                         END + 1e-9, 6) + 0.0 AS hhi_normalized
            FROM g
        """,
        "agg_weighted_quantiles": """
            WITH x AS (
                SELECT l_returnflag AS g,
                       CAST(l_extendedprice AS DOUBLE) AS v,
                       CAST(l_quantity AS DOUBLE) AS w
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                      AND l_quantity IS NOT NULL AND l_quantity > 0),
            c AS (
                SELECT g, v, w,
                       sum(w) OVER (PARTITION BY g ORDER BY v
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cw,
                       sum(w) OVER (PARTITION BY g) AS wt
                FROM x)
            -- w_mean, not the raw weight total: sum-magnitude rule
            -- (the agg_gini round-9 lesson applied by rule)
            SELECT g AS l_returnflag,
                   round(max(wt) / count(*) + 1e-9, 6) + 0.0 AS w_mean,
                   CAST(count(*) AS BIGINT) AS n,
                   round(min(CASE WHEN cw >= 0.25 * wt THEN v END)
                         + 1e-9, 6) + 0.0 AS q25,
                   round(min(CASE WHEN cw >= 0.5 * wt THEN v END)
                         + 1e-9, 6) + 0.0 AS q50,
                   round(min(CASE WHEN cw >= 0.75 * wt THEN v END)
                         + 1e-9, 6) + 0.0 AS q75,
                   round(min(CASE WHEN cw >= 0.9 * wt THEN v END)
                         + 1e-9, 6) + 0.0 AS q90
            FROM c GROUP BY g
        """,
        "retention_cohorts": """
            WITH by_week AS (
                SELECT user_id,
                       CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
                FROM events),
            cohorted AS (
                SELECT user_id, week,
                       min(week) OVER (PARTITION BY user_id) AS cohort_week
                FROM by_week)
            SELECT cohort_week, week - cohort_week AS week_offset,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM (SELECT DISTINCT user_id, cohort_week, week FROM cohorted)
            GROUP BY cohort_week, week_offset
        """,
        "text_repetition": f"""
            WITH {_TOKS_CTE},
            grams_all AS (
                SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
                FROM toks, UNNEST(CASE WHEN len(t) >= 2 THEN range(1, len(t))
                                  ELSE []::BIGINT[] END) AS u(i)),
            gcounts AS (
                SELECT doc_id, g, count(*) AS c
                FROM grams_all GROUP BY doc_id, g),
            gtop AS (
                SELECT doc_id, max(c) AS best, sum(c) AS total
                FROM gcounts GROUP BY doc_id)
            SELECT k.doc_id,
                   round(CASE WHEN len(k.t) > 0
                         THEN 1.0 - len(list_distinct(k.t)) * 1.0 / len(k.t)
                         ELSE 0.0 END, 6) AS dup_word_frac,
                   round(coalesce(g.best * 1.0 / g.total, 0.0), 6)
                       AS top_bigram_frac
            FROM toks k LEFT JOIN gtop g USING (doc_id)
        """,
        "text_zipf": f"""
            WITH {_TOKS_CTE},
            vocab AS (
                SELECT u.w AS term, CAST(count(*) AS BIGINT) AS freq
                FROM toks, UNNEST(t) AS u(w) GROUP BY 1),
            top AS (
                SELECT term, freq,
                       row_number() OVER (
                           ORDER BY freq DESC, term ASC) AS r
                FROM vocab QUALIFY r <= 200),
            l AS (
                SELECT log10(CAST(r AS DOUBLE)) AS x,
                       log10(CAST(freq AS DOUBLE)) AS y
                FROM top)
            SELECT round(regr_slope(y, x), 6) AS slope,
                   round(regr_intercept(y, x), 6) AS intercept,
                   round(regr_r2(y, x), 6) AS r2,
                   regr_count(y, x) AS n_points
            FROM l
        """,
        "text_collocations": f"""
            WITH {_TOKS_CTE},
            bg AS (
                SELECT t[i] AS w1, t[i + 1] AS w2
                FROM toks,
                     UNNEST(CASE WHEN len(t) >= 2 THEN range(1, len(t))
                            ELSE []::BIGINT[] END) AS u(i)),
            bc AS (
                SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab
                FROM bg GROUP BY 1, 2),
            l AS (SELECT w1, sum(n_ab) AS la FROM bc GROUP BY 1),
            r AS (SELECT w2, sum(n_ab) AS rb FROM bc GROUP BY 1),
            tt AS (SELECT sum(n_ab) AS t FROM bc)
            SELECT w1, w2, n_ab,
                   round(log2(n_ab * 1.0 * t / (la * 1.0 * rb))
                         + 1e-9, 6) + 0.0 AS pmi
            FROM bc JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tt
            WHERE n_ab >= 5
        """,
        "text_tfidf": f"""
            WITH {_TOKS_CTE},
            tf AS (SELECT doc_id, u.term, count(*) AS tf
                   FROM toks, UNNEST(t) AS u(term)
                   GROUP BY doc_id, u.term),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term,
                       round(tf.tf * (ln((1.0 + n.n) / (1.0 + dfreq.df))
                                      + 1.0), 6) AS tfidf
                FROM tf JOIN dfreq USING (term) CROSS JOIN n)
            SELECT doc_id, term, CAST(rnk AS INT) AS rnk, tfidf
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY tfidf DESC, term ASC) AS rnk
                  FROM scored)
            WHERE rnk <= 3
        """,
        "text_vocab": f"""
            WITH {_TOKS_CTE}
            SELECT u.token, count(*) AS n_occurrences
            FROM toks, UNNEST(t) AS u(token)
            GROUP BY u.token
            ORDER BY n_occurrences DESC, token ASC
            LIMIT 100
        """,
        "text_pii_redact": r"""
            WITH salted AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id
                            || '@example.com or +1-555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            || ' ip 10.0.' || (doc_id % 256) || '.1' AS t
                FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
                       AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(t,
                       '\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}'))
                       AS BIGINT) AS n_phones,
                   regexp_replace(regexp_replace(regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                       '<IP>', 'g'),
                       '\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}',
                       '<PHONE>', 'g') AS redacted
            FROM salted
        """,
        "decontaminate": f"""
            WITH {_TOKS_CTE}, {_GRAMS3_CTE},
            bench AS (SELECT DISTINCT shingle FROM grams
                      WHERE doc_id % 50 = 0),
            hits AS (SELECT g.doc_id, count(*) AS n_hits
                     FROM grams g JOIN bench b ON g.shingle = b.shingle
                     WHERE g.doc_id % 50 <> 0
                     GROUP BY g.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(CASE WHEN coalesce(h.n_hits, 0) > 0
                        THEN 1 ELSE 0 END AS INT) AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 50 <> 0
        """,
        "emb_kmeans": f"""
            WITH cents AS (
                SELECT vec_id AS cid, embedding AS c
                FROM embeddings WHERE vec_id < 8),
            scored AS (
                SELECT e.vec_id, c.cid,
                       {_dotsql('e.embedding', 'c.c')}
                           / sqrt({_dotsql('c.c', 'c.c')}) AS score
                FROM embeddings e CROSS JOIN cents c),
            assign AS (
                SELECT vec_id, cid FROM scored
                QUALIFY row_number() OVER (
                    PARTITION BY vec_id
                    ORDER BY score DESC, cid ASC) = 1)
            SELECT a.cid, CAST(u.i AS INT) AS dim,
                   round(avg(e.embedding[u.i]::DOUBLE), 6) AS centroid
            FROM assign a
            JOIN embeddings e USING (vec_id), UNNEST(range(1, 65)) AS u(i)
            GROUP BY a.cid, u.i
        """,
        "stream_matview": """
            -- avg, not the raw sum: sum-magnitude rule (agg_gini r9)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
                   round(sum(value) / count(*), 6) AS avg_value
            FROM events GROUP BY event_type
        """,
        "emb_silhouette": f"""
            WITH cents AS (
                SELECT vec_id AS cid, embedding AS c
                FROM embeddings WHERE vec_id < 8),
            scored AS (
                SELECT e.vec_id, c.cid,
                       {_dotsql('e.embedding', 'c.c')}
                           / (sqrt({_dotsql('e.embedding', 'e.embedding')})
                              * sqrt({_dotsql('c.c', 'c.c')})) AS sim
                FROM embeddings e CROSS JOIN cents c),
            top2 AS (
                SELECT vec_id, cid, sim,
                       row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY sim DESC, cid ASC) AS rn
                FROM scored QUALIFY rn <= 2),
            pp AS (
                SELECT vec_id,
                       max(CASE WHEN rn = 1 THEN cid END) AS cid,
                       max(CASE WHEN rn = 1 THEN sim END) AS best,
                       max(CASE WHEN rn = 2 THEN sim END) AS second
                FROM top2 GROUP BY vec_id)
            SELECT cid, CAST(count(*) AS BIGINT) AS n,
                   round(avg(CASE WHEN 1 - second <> 0
                             THEN (best - second) / (1 - second) END)
                         + 1e-9, 6) + 0.0 AS mean_silhouette
            FROM pp GROUP BY cid
        """,
        "dedup_minhash": _minhash_sql(4),
        "dedup_minhash_lsh": _minhash_lsh_sql(16, 4, 0.5),
        "decontam_fuzzy": _fuzzy_decontam_sql(16, 4, 0.25, 5),
        "dedup_clusters": f"""
            WITH RECURSIVE {_TOKS_CTE}, {_GRAMS3_CTE},
            rare AS (SELECT shingle FROM grams
                     GROUP BY shingle HAVING count(*) <= 50),
            g2 AS (SELECT g.doc_id, g.shingle FROM grams g
                   JOIN rare r ON g.shingle = r.shingle),
            sizes AS (SELECT doc_id, count(*) AS set_size
                      FROM g2 GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS n_common
                FROM g2 a JOIN g2 b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
            pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON inter.id_a = sa.doc_id
                JOIN sizes sb ON inter.id_b = sb.doc_id
                WHERE n_common / (sa.set_size + sb.set_size - n_common)
                      >= 0.2),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs),
            reach AS (
                SELECT doc_id AS node, doc_id AS label FROM documents
                UNION
                SELECT e.src AS node, r.label
                FROM reach r JOIN edges e ON e.dst = r.node),
            clusters AS (
                SELECT node, min(label) AS cluster
                FROM reach GROUP BY node)
            SELECT node AS doc_id, cluster FROM clusters
        """,
        # same component fixpoint, then one canonical doc per cluster:
        # longest text, ties -> lowest doc id
        "dedup_canonical": f"""
            WITH RECURSIVE {_TOKS_CTE}, {_GRAMS3_CTE},
            rare AS (SELECT shingle FROM grams
                     GROUP BY shingle HAVING count(*) <= 50),
            g2 AS (SELECT g.doc_id, g.shingle FROM grams g
                   JOIN rare r ON g.shingle = r.shingle),
            sizes AS (SELECT doc_id, count(*) AS set_size
                      FROM g2 GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS n_common
                FROM g2 a JOIN g2 b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
            pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON inter.id_a = sa.doc_id
                JOIN sizes sb ON inter.id_b = sb.doc_id
                WHERE n_common / (sa.set_size + sb.set_size - n_common)
                      >= 0.2),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs),
            reach AS (
                SELECT doc_id AS node, doc_id AS label FROM documents
                UNION
                SELECT e.src AS node, r.label
                FROM reach r JOIN edges e ON e.dst = r.node),
            clusters AS (
                SELECT node, min(label) AS cluster
                FROM reach GROUP BY node),
            labeled AS (
                SELECT d.doc_id, c.cluster, d.n_chars,
                       count(*) OVER (PARTITION BY c.cluster)
                           AS cluster_size,
                       row_number() OVER (
                           PARTITION BY c.cluster
                           ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
                FROM clusters c JOIN documents d ON c.node = d.doc_id)
            SELECT doc_id, cluster, n_chars, cluster_size
            FROM labeled WHERE rn = 1
        """,
        "dedup_simhash": _simhash_sql(16),
        "dedup_jaccard": f"""
            WITH {_TOKS_CTE}, {_GRAMS3_CTE},
            rare AS (SELECT shingle FROM grams
                     GROUP BY shingle HAVING count(*) <= 50),
            g2 AS (SELECT g.doc_id, g.shingle FROM grams g
                   JOIN rare r ON g.shingle = r.shingle),
            sizes AS (SELECT doc_id, count(*) AS set_size
                      FROM g2 GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS n_common
                FROM g2 a JOIN g2 b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
            SELECT id_a, id_b,
                   n_common / (sa.set_size + sb.set_size - n_common)
                       AS jaccard
            FROM inter
            JOIN sizes sa ON inter.id_a = sa.doc_id
            JOIN sizes sb ON inter.id_b = sb.doc_id
            WHERE n_common / (sa.set_size + sb.set_size - n_common) >= 0.2
        """,
        "dedup_embedding": f"""
            WITH b AS (
                SELECT vec_id, embedding,
                       {_lsh_bucket_sql('embedding', num_planes=2)} AS bucket
                FROM embeddings)
            SELECT id_a, id_b, round(c, 6) AS cosine FROM (
                SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                       {_cos('a.embedding', 'b2.embedding')} AS c
                FROM b a JOIN b b2
                  ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
            WHERE c >= 0.45
        """,
        "dedup_embedding_gemm": f"""
            SELECT id_a, id_b, round(c, 6) AS cosine FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       {_cos('a.embedding', 'b.embedding')} AS c
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            WHERE c >= 0.45
        """,
        "dedup_semantic_clusters": f"""
            WITH RECURSIVE b AS (
                SELECT vec_id, embedding,
                       {_lsh_bucket_sql('embedding', num_planes=4)} AS bucket
                FROM embeddings),
            p AS (
                SELECT id_a AS s, id_b AS d FROM (
                    SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                           {_cos('a.embedding', 'b2.embedding')} AS c
                    FROM b a JOIN b b2
                      ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
                WHERE c >= 0.45),
            sym AS (SELECT s, d FROM p UNION SELECT d AS s, s AS d FROM p),
            reach AS (
                SELECT DISTINCT s AS node, s AS m FROM sym
                UNION
                SELECT r.node, sym.d AS m
                FROM reach r JOIN sym ON r.m = sym.s
            )
            SELECT e.vec_id,
                   coalesce(mm.comp, e.vec_id) AS cluster
            FROM embeddings e
            LEFT JOIN (SELECT node, min(m) AS comp
                       FROM reach GROUP BY node) mm
              ON mm.node = e.vec_id
            ORDER BY e.vec_id
        """,
        "dedup_cluster_split": f"""
            -- semantic clusters (identical CTE to
            -- dedup_semantic_clusters) + md5 hash-threshold split at
            -- CLUSTER grain (ops/sampling.py:cluster_split)
            WITH RECURSIVE b AS (
                SELECT vec_id, embedding,
                       {_lsh_bucket_sql('embedding', num_planes=4)} AS bucket
                FROM embeddings),
            p AS (
                SELECT id_a AS s, id_b AS d FROM (
                    SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                           {_cos('a.embedding', 'b2.embedding')} AS c
                    FROM b a JOIN b b2
                      ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
                WHERE c >= 0.45),
            sym AS (SELECT s, d FROM p UNION SELECT d AS s, s AS d FROM p),
            reach AS (
                SELECT DISTINCT s AS node, s AS m FROM sym
                UNION
                SELECT r.node, sym.d AS m
                FROM reach r JOIN sym ON r.m = sym.s
            ),
            cl AS (
                SELECT e.vec_id,
                       coalesce(mm.comp, e.vec_id) AS cluster
                FROM embeddings e
                LEFT JOIN (SELECT node, min(m) AS comp
                           FROM reach GROUP BY node) mm
                  ON mm.node = e.vec_id)
            SELECT vec_id, cluster,
                   CASE WHEN {_h64(
                       "concat('semsplit', '|', CAST(cluster AS VARCHAR))"
                   )} % 10000 < 9000
                        THEN 'train' ELSE 'test' END AS split
            FROM cl
        """,
        "retrieval_hybrid": f"""
            WITH dense AS (
                SELECT query_id, doc_id, rank
                FROM (
                    SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY {_cos('e.embedding', 'q.embedding')}
                                            DESC,
                                        e.vec_id ASC) AS rank
                    FROM embeddings e
                    JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
                      ON e.vec_id != q.vec_id)
                WHERE rank <= 20),
            toks AS (
                SELECT doc_id, t.term
                FROM documents,
                     UNNEST(regexp_split_to_array(lower(text),
                            '[^a-z0-9'']+')) AS t(term)
                WHERE t.term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM toks GROUP BY doc_id, term),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
            qterms AS (
                SELECT DISTINCT d.doc_id AS query_id, t.term
                FROM documents d,
                     UNNEST(regexp_split_to_array(lower(d.text),
                            '[^a-z0-9'']+')) AS t(term)
                WHERE d.doc_id < 3 AND t.term <> ''),
            lex AS (
                SELECT query_id, doc_id, rank
                FROM (
                    SELECT query_id, doc_id,
                           row_number() OVER (
                               PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rank
                    FROM (
                        SELECT qt.query_id, tf.doc_id,
                               round(sum(
                                   ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5))
                                   * (tf.tf * (1.2 + 1.0))
                                   / (tf.tf + 1.2 * (1 - 0.75
                                      + 0.75 * dl.dl / c.avgdl))
                               ), 6) AS score
                        FROM tf
                        JOIN qterms qt USING (term)
                        JOIN dl USING (doc_id)
                        JOIN dfreq d USING (term)
                        CROSS JOIN corpus c
                        GROUP BY qt.query_id, tf.doc_id))
                WHERE rank <= 20),
            u AS (
                SELECT query_id, doc_id, rank FROM dense
                UNION ALL
                SELECT query_id, doc_id, rank FROM lex),
            fused AS (
                SELECT query_id, doc_id,
                       sum(1.0 / (60.0 + rank)) AS s,
                       count(*) AS n_systems
                FROM u GROUP BY query_id, doc_id)
            SELECT query_id, doc_id,
                   round(s + 1e-9, 6) + 0.0 AS rrf_score, n_systems,
                   CAST(rank AS INTEGER) AS rank
            FROM (
                SELECT query_id, doc_id, s, n_systems,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY s DESC, doc_id ASC) AS rank
                FROM fused)
            WHERE rank <= 10
            ORDER BY query_id, rank
        """,
        "text_novelty": f"""
            WITH {_TOKS_CTE}, {_GRAMS3_CTE},
            dfs AS (SELECT shingle, count(*) AS df
                    FROM grams GROUP BY shingle),
            per AS (
                SELECT g.doc_id, count(*) AS n_shingles,
                       round(avg(CASE WHEN d.df = 1 THEN 1.0
                                 ELSE 0.0 END) + 1e-9, 6) + 0.0 AS novelty,
                       round(avg(CASE WHEN d.df >= 5 THEN 1.0
                                 ELSE 0.0 END) + 1e-9, 6) + 0.0 AS boilerplate
                FROM grams g JOIN dfs d USING (shingle)
                GROUP BY g.doc_id)
            SELECT d.doc_id,
                   coalesce(p.n_shingles, 0) AS n_shingles,
                   p.novelty, p.boilerplate
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN per p USING (doc_id)
            ORDER BY d.doc_id
        """,
        "ann_topk": f"""
            SELECT query_vec_id, vec_id, round(c, 6) AS cosine,
                   CAST(rank AS INTEGER) AS rank
            FROM (
                SELECT q.vec_id AS query_vec_id, e.vec_id,
                       {_cos('e.embedding', 'q.embedding')} AS c,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_cos('e.embedding', 'q.embedding')} DESC,
                                    e.vec_id ASC) AS rank
                FROM embeddings e
                JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
                  ON e.vec_id != q.vec_id)
            WHERE rank <= 5
        """,
        "text_stats": r"""
            WITH base AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                                   t -> len(t) > 0) AS toks,
                       CAST(len(regexp_extract_all(text, '[A-Za-z0-9'']+')) AS INT)
                           AS n_tokens,
                       CAST(len(regexp_extract_all(text,
                           '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens,
                       len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                       len(regexp_extract_all(text, '\s')) AS n_space,
                       length(text) AS n_chars
                FROM documents)
            SELECT doc_id, n_tokens, n_bpe_tokens,
                   round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
                   round(n_space / greatest(n_chars, 1), 6) AS space_ratio,
                   round(CASE WHEN n_tokens > 0
                         THEN (n_chars - n_space) / n_tokens
                         ELSE 0.0 END, 6) AS mean_word_len,
                   round(CASE WHEN len(toks) > 0
                         THEN len(list_filter(toks, t -> list_contains(
                             ['the','a','and','of','to','in','is','it','that','for'],
                             t))) / len(toks)
                         ELSE 0.0 END, 6) AS stopword_ratio
            FROM base
        """,
        "text_langid": _langid_sql(),
        "text_quality_filter": f"""
            WITH {_QUALITY_VERDICT_CTES}
            SELECT doc_id, fail_reason IS NULL AS passed, fail_reason
            FROM verdict
        """,
        "doc_fingerprint": f"""
            WITH {_TOKS_CTE}
            SELECT doc_id, coalesce(
                list_min(list_transform(
                    CASE WHEN len(t) >= 8 THEN range(1, len(t)-6)
                         ELSE []::BIGINT[] END,
                    i -> {_h64("array_to_string(t[i:i+7], ' ')")})),
                {_h64("array_to_string(t, ' ')")}) AS fingerprint
            FROM toks
        """,
        "dedup_fingerprint": f"""
            WITH {_TOKS_CTE},
            fp AS (
                SELECT doc_id, coalesce(
                    list_min(list_transform(
                        CASE WHEN len(t) >= 8 THEN range(1, len(t)-6)
                             ELSE []::BIGINT[] END,
                        i -> {_h64("array_to_string(t[i:i+7], ' ')")})),
                    {_h64("array_to_string(t, ' ')")}) AS fingerprint
                FROM toks)
            SELECT min(doc_id) AS doc_id, fingerprint,
                   count(*) AS n_docs
            FROM fp GROUP BY fingerprint
        """,
        "stream_sessionize": """
            WITH g AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR CAST(floor(epoch(ts)) AS BIGINT)
                                    - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                                    > 1800
                            THEN 1 ELSE 0 END AS ns
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (
                SELECT user_id, ts, value,
                       sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
                FROM g)
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 6) AS total_value
            FROM s GROUP BY user_id, sid
        """,
        "stream_window_counts": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                            '%Y-%m-%d %H:%M:%S') AS window_end,
                   event_type, count(*) AS n_events
            FROM events GROUP BY 1, 2, 3
        """,
        "ann_ivf": f"""
            WITH cent AS (
                SELECT vec_id AS cid, embedding AS cvec,
                       sqrt({_dotsql('embedding', 'embedding')}) AS cnorm
                FROM embeddings WHERE vec_id < 8),
            assign AS (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {_dotsql('e.embedding', 'c.cvec')} / c.cnorm
                                    DESC, c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cent c),
            lists AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
            probed AS (
                SELECT qid, qvec, cid FROM (
                    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cid,
                           row_number() OVER (PARTITION BY q.vec_id
                               ORDER BY {_dotsql('q.embedding', 'c.cvec')} / c.cnorm
                                        DESC, c.cid ASC) AS rn
                    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 3)
                WHERE rn <= 2),
            cand AS (
                SELECT p.qid AS query_vec_id, l.vec_id,
                       {_cos('l.embedding', 'p.qvec')} AS c
                FROM probed p
                JOIN lists l ON p.cid = l.cid AND l.vec_id != p.qid)
            SELECT query_vec_id, vec_id, cosine, rank FROM (
                SELECT query_vec_id, vec_id, round(c, 6) AS cosine,
                       CAST(row_number() OVER (PARTITION BY query_vec_id
                           ORDER BY c DESC, vec_id ASC) AS INTEGER) AS rank
                FROM cand)
            WHERE rank <= 5
        """,
        "v3_suite": """
            WITH agg AS (
                SELECT count(*) AS n,
                       CAST(count(*) FILTER (WHERE NOT ((value >= 0 AND value <= 95)
                           OR value IS NULL)) AS BIGINT) AS bad_value,
                       CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT) AS bad_ts,
                       CAST(count(*) FILTER (WHERE NOT (
                           event_type IN ('click','view','purchase','signup')
                           OR event_type IS NULL)) AS BIGINT) AS bad_set,
                       CAST(count(*) FILTER (WHERE NOT (
                           (length(event_type) >= 4 AND length(event_type) <= 7)
                           OR event_type IS NULL)) AS BIGINT) AS bad_len,
                       CAST(count(event_id) AS BIGINT) AS n_eid,
                       CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT)
                           AS bad_eid
                FROM events)
            SELECT 'expect_column_to_exist' AS expectation_type,
                   'props' AS column_name, TRUE AS success,
                   CAST(0 AS BIGINT) AS element_count,
                   CAST(0 AS BIGINT) AS unexpected_count
            UNION ALL
            SELECT 'expect_column_to_exist', 'bogus', FALSE, 0, 0
            UNION ALL
            SELECT 'expect_column_values_to_be_between', 'value',
                   bad_value = 0, n, bad_value FROM agg
            UNION ALL
            SELECT 'expect_column_values_to_not_be_null', 'ts',
                   bad_ts = 0, n, bad_ts FROM agg
            UNION ALL
            SELECT 'expect_column_values_to_be_in_set', 'event_type',
                   bad_set = 0, n, bad_set FROM agg
            UNION ALL
            SELECT 'expect_column_value_lengths_to_be_between', 'event_type',
                   bad_len = 0, n, bad_len FROM agg
            UNION ALL
            SELECT 'expect_column_values_to_be_unique', 'event_id',
                   bad_eid = 0, n_eid, bad_eid FROM agg
            UNION ALL
            SELECT 'expect_table_row_count_to_be_between', NULL,
                   n >= 1 AND n <= 100000000, n, 0 FROM agg
        """,
        "p10_cohort": """
            WITH keyed AS (
                SELECT doc_id,
                       'export/' || CASE
                           WHEN doc_id % 4 = 0 THEN 'adults_v1'
                           WHEN doc_id % 4 = 1 THEN 'pediatric_v1'
                           WHEN doc_id % 4 = 2 THEN 'misc'
                           ELSE 'owner.txt' END
                       || '/f_' || CAST(doc_id AS VARCHAR) AS key
                FROM documents)
            SELECT doc_id, key,
                   CASE WHEN contains(key, 'adults_v1') THEN 'adults_v1'
                        WHEN contains(key, 'pediatric_v1') THEN 'pediatric_v1'
                        ELSE NULL END AS cohort
            FROM keyed WHERE NOT contains(key, 'owner.txt')
        """,
        "a6_union_ledgers": """
            SELECT event_type, count(*) AS record_count, 'READ' AS stage,
                   CAST(NULL AS VARCHAR) AS data_type
            FROM events GROUP BY event_type
            UNION ALL
            SELECT event_type, count(*), 'WRITE', 'events'
            FROM events WHERE value > 5 GROUP BY event_type
        """,
        "p7_flatten": """
            SELECT c_custkey, c_name AS info_name,
                   round(c_acctbal, 2) AS info_acct_bal, c_mktsegment
            FROM customer
        """,
        "s2_schema_drift": """
            SELECT * FROM (VALUES
                ('documents', 'source', 'new_column', 'string',
                 CAST(NULL AS VARCHAR)),
                ('documents', 'n_chars', 'type_changed', 'bigint', 'string'),
                ('documents', 'review_status', 'missing_column',
                 CAST(NULL AS VARCHAR), 'string')
            ) AS t(dataset, "column", kind, observed_type, declared_type)
        """,
        "join_bucketed": """
            SELECT o.o_orderpriority,
                   CAST(count(*) AS BIGINT) AS line_cnt,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                       AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY o.o_orderpriority
            ORDER BY o.o_orderpriority
        """,
        "v7_drift_ks": _ks_oracle_sql(
            ["l_extendedprice", "l_quantity", "l_discount"], "1998-06-01"
        ),
        "v9_drift_ks_series": _ks_series_oracle_sql(
            ["l_extendedprice", "l_quantity"], "1998-06-01", 10
        ),
        "stream_corr_matview": """
            WITH pairs(col_a, col_b) AS (
                VALUES ('l_discount', 'l_discount'),
                       ('l_discount', 'l_extendedprice'),
                       ('l_discount', 'l_quantity'),
                       ('l_extendedprice', 'l_extendedprice'),
                       ('l_extendedprice', 'l_quantity'),
                       ('l_quantity', 'l_quantity')
            ),
            m AS (
                SELECT count(*) AS n,
                       round(corr(l_discount, l_discount) + 1e-9, 6) + 0.0 AS c_dd,
                       round(corr(l_discount, l_extendedprice) + 1e-9, 6) + 0.0 AS c_de,
                       round(corr(l_discount, l_quantity) + 1e-9, 6) + 0.0 AS c_dq,
                       round(corr(l_extendedprice, l_extendedprice) + 1e-9, 6) + 0.0 AS c_ee,
                       round(corr(l_extendedprice, l_quantity) + 1e-9, 6) + 0.0 AS c_eq,
                       round(corr(l_quantity, l_quantity) + 1e-9, 6) + 0.0 AS c_qq,
                       round(sign(covar_samp(l_discount, l_discount)) * log10(1 + abs(covar_samp(l_discount, l_discount))) + 1e-9, 6) + 0.0 AS v_dd,
                       round(sign(covar_samp(l_discount, l_extendedprice)) * log10(1 + abs(covar_samp(l_discount, l_extendedprice))) + 1e-9, 6) + 0.0 AS v_de,
                       round(sign(covar_samp(l_discount, l_quantity)) * log10(1 + abs(covar_samp(l_discount, l_quantity))) + 1e-9, 6) + 0.0 AS v_dq,
                       round(sign(covar_samp(l_extendedprice, l_extendedprice)) * log10(1 + abs(covar_samp(l_extendedprice, l_extendedprice))) + 1e-9, 6) + 0.0 AS v_ee,
                       round(sign(covar_samp(l_extendedprice, l_quantity)) * log10(1 + abs(covar_samp(l_extendedprice, l_quantity))) + 1e-9, 6) + 0.0 AS v_eq,
                       round(sign(covar_samp(l_quantity, l_quantity)) * log10(1 + abs(covar_samp(l_quantity, l_quantity))) + 1e-9, 6) + 0.0 AS v_qq
                FROM lineitem
            )
            SELECT p.col_a, p.col_b, m.n,
                   CASE p.col_a || '|' || p.col_b
                        WHEN 'l_discount|l_discount' THEN c_dd
                        WHEN 'l_discount|l_extendedprice' THEN c_de
                        WHEN 'l_discount|l_quantity' THEN c_dq
                        WHEN 'l_extendedprice|l_extendedprice' THEN c_ee
                        WHEN 'l_extendedprice|l_quantity' THEN c_eq
                        WHEN 'l_quantity|l_quantity' THEN c_qq
                   END AS corr,
                   CASE p.col_a || '|' || p.col_b
                        WHEN 'l_discount|l_discount' THEN v_dd
                        WHEN 'l_discount|l_extendedprice' THEN v_de
                        WHEN 'l_discount|l_quantity' THEN v_dq
                        WHEN 'l_extendedprice|l_extendedprice' THEN v_ee
                        WHEN 'l_extendedprice|l_quantity' THEN v_eq
                        WHEN 'l_quantity|l_quantity' THEN v_qq
                   END AS cov_mag
            FROM pairs p CROSS JOIN m
            ORDER BY p.col_a, p.col_b
        """,
        "agg_corr_matrix": """
            WITH pairs(col_a, col_b) AS (
                VALUES ('l_discount', 'l_discount'),
                       ('l_discount', 'l_extendedprice'),
                       ('l_discount', 'l_quantity'),
                       ('l_discount', 'l_tax'),
                       ('l_extendedprice', 'l_extendedprice'),
                       ('l_extendedprice', 'l_quantity'),
                       ('l_extendedprice', 'l_tax'),
                       ('l_quantity', 'l_quantity'),
                       ('l_quantity', 'l_tax'),
                       ('l_tax', 'l_tax')
            ),
            m AS (
                SELECT round(corr(l_quantity, l_quantity), 6) AS c_q_q,
                       round(corr(l_quantity, l_extendedprice), 6) AS c_q_e,
                       round(corr(l_quantity, l_discount), 6) AS c_q_d,
                       round(corr(l_quantity, l_tax), 6) AS c_q_t,
                       round(corr(l_extendedprice, l_extendedprice), 6)
                           AS c_e_e,
                       round(corr(l_extendedprice, l_discount), 6) AS c_e_d,
                       round(corr(l_extendedprice, l_tax), 6) AS c_e_t,
                       round(corr(l_discount, l_discount), 6) AS c_d_d,
                       round(corr(l_discount, l_tax), 6) AS c_d_t,
                       round(corr(l_tax, l_tax), 6) AS c_t_t,
                       count(*) AS n
                FROM lineitem
            )
            SELECT p.col_a, p.col_b,
                   CASE p.col_a || '|' || p.col_b
                        WHEN 'l_quantity|l_quantity' THEN c_q_q
                        WHEN 'l_extendedprice|l_quantity' THEN c_q_e
                        WHEN 'l_discount|l_quantity' THEN c_q_d
                        WHEN 'l_quantity|l_tax' THEN c_q_t
                        WHEN 'l_extendedprice|l_extendedprice' THEN c_e_e
                        WHEN 'l_discount|l_extendedprice' THEN c_e_d
                        WHEN 'l_extendedprice|l_tax' THEN c_e_t
                        WHEN 'l_discount|l_discount' THEN c_d_d
                        WHEN 'l_discount|l_tax' THEN c_d_t
                        WHEN 'l_tax|l_tax' THEN c_t_t
                   END AS corr,
                   m.n
            FROM pairs p CROSS JOIN m
            ORDER BY p.col_a, p.col_b
        """,
        "v8_ref_integrity": """
            WITH checks AS (
                SELECT 'lineitem_orders' AS check,
                       count(*) AS n_child,
                       CAST(sum(CASE WHEN l_orderkey IS NULL
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_null_keys,
                       CAST(sum(CASE WHEN l_orderkey IS NOT NULL
                                      AND NOT EXISTS (
                                          SELECT 1 FROM orders o
                                          WHERE o.o_orderkey = l.l_orderkey)
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_orphans
                FROM lineitem l
                UNION ALL
                SELECT 'events_customer',
                       count(*),
                       CAST(sum(CASE WHEN user_id IS NULL
                                     THEN 1 ELSE 0 END) AS BIGINT),
                       CAST(sum(CASE WHEN user_id IS NOT NULL
                                      AND NOT EXISTS (
                                          SELECT 1 FROM customer c
                                          WHERE c.c_custkey = e.user_id)
                                     THEN 1 ELSE 0 END) AS BIGINT)
                FROM events e
            )
            SELECT "check", n_child, n_null_keys, n_orphans,
                   round(n_orphans
                         / greatest(CAST(n_child - n_null_keys AS DOUBLE),
                                    1.0), 6) AS orphan_share
            FROM checks ORDER BY "check"
        """,
        "graph_pagerank": _pagerank_oracle_sql(),
        "graph_components": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT user_id AS s, user_id + 3 AS d
                FROM events WHERE event_id % 11 = 0),
            sym AS (SELECT s, d FROM e UNION SELECT d AS s, s AS d FROM e),
            n AS (SELECT DISTINCT s AS node FROM sym),
            reach AS (
                SELECT node, node AS m FROM n
                UNION
                SELECT r.node, sym.d AS m
                FROM reach r JOIN sym ON r.m = sym.s
            )
            SELECT node, min(m) AS component
            FROM reach GROUP BY node ORDER BY node
        """,
        "sample_weighted": """
            WITH scored AS (
                SELECT c_custkey, c_mktsegment,
                       c_acctbal + 1000.0 AS wgt,
                       round(
                           -ln((CAST(concat('0x',
                                substr(md5(concat('wsample', '|',
                                    CAST(c_custkey AS VARCHAR))), 1, 8))
                                AS BIGINT) + 0.5) / 4294967296.0)
                           / (c_acctbal + 1000.0), 12) AS score
                FROM customer
                WHERE c_acctbal + 1000.0 > 0
            ),
            ranked AS (
                SELECT c_custkey, c_mktsegment, wgt,
                       row_number() OVER (PARTITION BY c_mktsegment
                                          ORDER BY score, c_custkey) AS rn
                FROM scored
            )
            SELECT c_custkey, c_mktsegment, wgt
            FROM ranked WHERE rn <= 5
            ORDER BY c_mktsegment, c_custkey
        """,
        "dedup_cosine_probe": """
            WITH toks AS (
                SELECT doc_id, t.term
                FROM documents,
                     UNNEST(regexp_split_to_array(lower(text),
                            '[^a-z0-9'']+')) AS t(term)
                WHERE t.term <> ''
            ),
            tf AS (
                SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
                FROM toks GROUP BY 1, 2
            ),
            nrm AS (
                SELECT doc_id, sqrt(sum(tf*tf)) AS nrm FROM tf GROUP BY 1
            ),
            w AS (
                SELECT tf.doc_id, term, tf/nrm AS w
                FROM tf JOIN nrm USING (doc_id)
            ),
            pairs AS (
                SELECT a.doc_id AS new_id, b.doc_id AS indexed_id,
                       round(sum(a.w*b.w), 6) AS cosine
                FROM w a JOIN w b ON a.term = b.term
                WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
                GROUP BY 1, 2
            )
            SELECT new_id, indexed_id, cosine
            FROM pairs WHERE cosine >= 0.9
            ORDER BY new_id, indexed_id
        """,
        "dedup_cosine_exact": """
            WITH toks AS (
                SELECT doc_id, t.term
                FROM documents,
                     UNNEST(regexp_split_to_array(lower(text),
                            '[^a-z0-9'']+')) AS t(term)
                WHERE t.term <> ''
            ),
            tf AS (
                SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
                FROM toks GROUP BY 1, 2
            ),
            nrm AS (
                SELECT doc_id, sqrt(sum(tf*tf)) AS nrm FROM tf GROUP BY 1
            ),
            w AS (
                SELECT tf.doc_id, term, tf/nrm AS w
                FROM tf JOIN nrm USING (doc_id)
            ),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       round(sum(a.w*b.w), 6) AS cosine
                FROM w a JOIN w b
                  ON a.term = b.term AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, cosine
            FROM pairs WHERE cosine >= 0.9
            ORDER BY doc_a, doc_b
        """,
        "scan_bloommap": """
            SELECT l_orderkey,
                   CAST(count(*) AS BIGINT) AS line_cnt,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem
            WHERE l_orderkey IN (1, 1000, 2000, 3000, 4000, 5000)
            GROUP BY l_orderkey
            ORDER BY l_orderkey
        """,
        "scan_zonemap": """
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS line_cnt,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            WHERE l_orderkey BETWEEN 1000 AND 2999
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "text_bm25": """
            WITH toks AS (
                SELECT doc_id, t.term
                FROM documents,
                     UNNEST(regexp_split_to_array(lower(text),
                            '[^a-z0-9'']+')) AS t(term)
                WHERE t.term <> ''
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term
            ),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
            q(query_id, query_text) AS (VALUES
                ('q_join', 'hash join merge'),
                ('q_scan', 'fast table scan'),
                ('q_stream', 'stream batch window')),
            qterms AS (
                SELECT DISTINCT query_id, t.term
                FROM q,
                     UNNEST(regexp_split_to_array(lower(query_text),
                            '[^a-z0-9'']+')) AS t(term)
                WHERE t.term <> ''
            ),
            scored AS (
                SELECT qt.query_id, tf.doc_id,
                       round(sum(
                           ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5))
                           * (tf.tf * (1.2 + 1.0))
                           / (tf.tf + 1.2 * (1 - 0.75
                              + 0.75 * dl.dl / c.avgdl))
                       ), 6) AS score
                FROM tf
                JOIN qterms qt USING (term)
                JOIN dl USING (doc_id)
                JOIN dfreq d USING (term)
                CROSS JOIN corpus c
                GROUP BY qt.query_id, tf.doc_id
            )
            SELECT query_id, rank, doc_id, score
            FROM (
                SELECT query_id,
                       CAST(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
                       doc_id, score
                FROM scored
            )
            WHERE rank <= 5
        """,
        "sample_importance": """
            WITH toked AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(lower(text),
                                   '[^a-z0-9'']+'), t -> t <> '') AS toks
                FROM documents
            ),
            exploded AS (
                SELECT doc_id, (lang = 'en') AS is_target,
                       toks[i] || ' ' || toks[i + 1] AS feat
                FROM toked,
                     UNNEST(generate_series(1, len(toks) - 1)) AS s(i)
                WHERE len(toks) >= 2
            ),
            counts AS (
                SELECT feat, count(*) AS raw_n,
                       sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tgt_n
                FROM exploded GROUP BY feat
            ),
            vocab AS (
                SELECT * FROM counts ORDER BY raw_n DESC, feat ASC LIMIT 500
            ),
            totals AS (SELECT sum(raw_n) AS r, sum(tgt_n) AS t FROM vocab),
            weights AS (
                SELECT feat,
                       ln((tgt_n + 0.5) / (t + 0.5 * 500.0))
                       - ln((raw_n + 0.5) / (r + 0.5 * 500.0)) AS w
                FROM vocab CROSS JOIN totals
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_feats,
                   round(avg(w), 6) AS importance
            FROM exploded JOIN weights USING (feat)
            GROUP BY doc_id
        """,
        "ts_kalman_smooth": """
            WITH RECURSIVE vals AS (
                SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS z,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS i
                FROM events),
            kal AS (
                SELECT user_id, i, z, z AS x, CAST(4.0 AS DOUBLE) AS P
                FROM vals WHERE i = 1
                UNION ALL
                SELECT v.user_id, v.i, v.z,
                       k.x + ((k.P + 0.5) / (k.P + 0.5 + 4.0))
                           * (v.z - k.x) AS x,
                       (1.0 - (k.P + 0.5) / (k.P + 0.5 + 4.0))
                           * (k.P + 0.5) AS P
                FROM kal k
                JOIN vals v ON v.user_id = k.user_id AND v.i = k.i + 1),
            nmax AS (
                SELECT user_id, max(i) AS n FROM vals GROUP BY user_id),
            smooth AS (
                SELECT k.user_id, k.i, k.x AS xs
                FROM kal k JOIN nmax m
                  ON k.user_id = m.user_id AND k.i = m.n
                UNION ALL
                SELECT f.user_id, f.i,
                       f.x + (f.P / (f.P + 0.5)) * (s.xs - f.x)
                FROM smooth s
                JOIN kal f ON f.user_id = s.user_id AND f.i = s.i - 1)
            SELECT v.user_id,
                   strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   v.event_id, v.z AS value,
                   round(k.x + 1e-9, 6) + 0.0 AS x_filtered,
                   round(s.xs + 1e-9, 6) + 0.0 AS x_smoothed
            FROM vals v
            JOIN kal k ON k.user_id = v.user_id AND k.i = v.i
            JOIN smooth s ON s.user_id = v.user_id AND s.i = v.i
            ORDER BY v.user_id, v.ts, v.event_id
        """,
        "ts_kalman": """
            WITH RECURSIVE vals AS (
                SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS z,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS i
                FROM events),
            kal AS (
                SELECT user_id, i, z, z AS x, CAST(4.0 AS DOUBLE) AS P
                FROM vals WHERE i = 1
                UNION ALL
                SELECT v.user_id, v.i, v.z,
                       k.x + ((k.P + 0.5) / (k.P + 0.5 + 4.0))
                           * (v.z - k.x) AS x,
                       (1.0 - (k.P + 0.5) / (k.P + 0.5 + 4.0))
                           * (k.P + 0.5) AS P
                FROM kal k
                JOIN vals v ON v.user_id = k.user_id AND v.i = k.i + 1)
            SELECT v.user_id,
                   strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   v.event_id, v.z AS value,
                   round(k.x + 1e-9, 6) + 0.0 AS x_filtered
            FROM kal k
            JOIN vals v ON v.user_id = k.user_id AND v.i = k.i
            ORDER BY v.user_id, v.ts, v.event_id
        """,
        "graph_hits": _hits_oracle_sql(6),
        "graph_hierarchy": """
            WITH RECURSIVE h AS (
                SELECT c_custkey AS node,
                       CASE WHEN c_custkey < 7 THEN NULL
                            ELSE c_custkey // 7 END AS parent
                FROM customer),
            walk AS (
                SELECT node, node AS cur,
                       CAST(node AS VARCHAR) AS path, 0 AS depth
                FROM h
                UNION ALL
                SELECT w.node, p.node AS cur,
                       CAST(p.node AS VARCHAR) || '/' || w.path,
                       w.depth + 1
                FROM walk w
                JOIN h c ON w.cur = c.node
                JOIN h p ON c.parent = p.node)
            SELECT w.node, w.cur AS root,
                   CAST(w.depth AS INT) AS depth, w.path
            FROM walk w JOIN h ON w.cur = h.node
            WHERE h.parent IS NULL
            ORDER BY w.node
        """,
        "text_lm_kneser_ney": """
            WITH toked AS (
                SELECT list_filter(regexp_split_to_array(lower(text),
                                   '[^a-z0-9'']+'), t -> t <> '') AS toks
                FROM documents
            ),
            bc AS (
                SELECT toks[i] AS w1, toks[i + 1] AS w2,
                       CAST(count(*) AS BIGINT) AS bigram_count
                FROM toked,
                     UNNEST(generate_series(1, len(toks) - 1)) AS s(i)
                WHERE len(toks) >= 2
                GROUP BY toks[i], toks[i + 1]
            ),
            ctx AS (
                SELECT w1, sum(bigram_count) AS ctx_total,
                       count(*) AS fanout
                FROM bc GROUP BY w1
            ),
            cont AS (
                SELECT w2, count(*) AS n_contexts FROM bc GROUP BY w2
            ),
            total AS (
                SELECT count(*) AS n_distinct_bigrams FROM bc
            )
            SELECT b.w1, b.w2, b.bigram_count,
                   round(greatest(b.bigram_count - 0.75, 0.0)
                             / c.ctx_total
                         + (0.75 * c.fanout / c.ctx_total)
                           * (n.n_contexts * 1.0 / t.n_distinct_bigrams)
                         + 1e-9, 6) + 0.0 AS p_kn
            FROM bc b
            JOIN ctx c ON b.w1 = c.w1
            JOIN cont n ON b.w2 = n.w2
            CROSS JOIN total t
            WHERE b.bigram_count >= 5
            ORDER BY b.w1, b.w2
        """,
        "text_lm_bigram": """
            WITH toked AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(lower(text),
                                   '[^a-z0-9'']+'), t -> t <> '') AS toks
                FROM documents
            ),
            model_uni AS (
                SELECT u.tok AS w, count(*) AS uc
                FROM toked, UNNEST(toks) AS u(tok)
                WHERE lang = 'en'
                GROUP BY u.tok
            ),
            totals AS (SELECT sum(uc) AS n, count(*) AS v FROM model_uni),
            model_bi AS (
                SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS bc
                FROM toked,
                     UNNEST(generate_series(1, len(toks) - 1)) AS s(i)
                WHERE lang = 'en' AND len(toks) >= 2
                GROUP BY toks[i], toks[i + 1]
            ),
            doc_bi AS (
                SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                FROM toked,
                     UNNEST(generate_series(1, len(toks) - 1)) AS s(i)
                WHERE len(toks) >= 2
            ),
            scored AS (
                SELECT d.doc_id,
                       CASE WHEN mb.bc IS NOT NULL
                            THEN ln(mb.bc * 1.0 / u1.uc)
                            ELSE ln(0.4 * (coalesce(u2.uc, 0) + 0.5)
                                    / (t.n + 0.5 * t.v))
                       END AS lp
                FROM doc_bi d
                LEFT JOIN model_bi mb ON d.w1 = mb.w1 AND d.w2 = mb.w2
                LEFT JOIN model_uni u1 ON d.w1 = u1.w
                LEFT JOIN model_uni u2 ON d.w2 = u2.w
                CROSS JOIN totals t
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(lp), 6) AS mean_logprob
            FROM scored
            GROUP BY doc_id
        """,
        "s2_resolve_choice": """
            SELECT doc_id,
                   TRY_CAST(CAST(n_chars AS VARCHAR) AS BIGINT) AS n_chars,
                   TRY_CAST(CASE WHEN doc_id % 2 = 0 THEN '12.5'
                            ELSE 'not-a-number' END AS DOUBLE) AS reading,
                   CAST(NULL AS VARCHAR) AS missing_col
            FROM documents
        """,
        "mm_features": """
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS digest,
                   round(CAST(concat('0x', substr(md5(text), 1, 2)) AS INT)
                         / 127.5 - 1.0, 4) AS f_0,
                   round(CAST(concat('0x', substr(md5(text), 3, 2)) AS INT)
                         / 127.5 - 1.0, 4) AS f_1,
                   round(CAST(concat('0x', substr(md5(text), 5, 2)) AS INT)
                         / 127.5 - 1.0, 4) AS f_2,
                   round(CAST(concat('0x', substr(md5(text), 7, 2)) AS INT)
                         / 127.5 - 1.0, 4) AS f_3
            FROM documents
        """,
        "mm_frames": """
            SELECT doc_id AS media_id,
                   unnest(range(0, (doc_id % 7) * 1500 + 500, 1000))
                       AS frame_ts_ms
            FROM documents
        """,
        "mm_scene_cuts": """
            WITH f AS (
                SELECT doc_id AS media_id, text,
                       unnest(range(0, (doc_id % 7) * 1500 + 500, 1000))
                           AS frame_ts_ms
                FROM documents),
            h AS (
                SELECT media_id, frame_ts_ms,
                       CAST(concat('0x', substr(md5(concat(
                            text, ':', CAST(frame_ts_ms AS VARCHAR))),
                            1, 15)) AS BIGINT) AS fh
                FROM f),
            d AS (
                SELECT media_id, frame_ts_ms,
                       CAST(CASE WHEN lag(fh) OVER w IS NOT NULL
                            THEN bit_count(xor(fh, lag(fh) OVER w))
                            END AS INT) AS hash_distance
                FROM h
                WINDOW w AS (PARTITION BY media_id ORDER BY frame_ts_ms))
            SELECT media_id, frame_ts_ms, hash_distance,
                   CASE WHEN coalesce(hash_distance > 30, false)
                        THEN 1 ELSE 0 END AS is_cut,
                   CAST(sum(CASE WHEN coalesce(hash_distance > 30, false)
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY media_id ORDER BY frame_ts_ms
                              ROWS UNBOUNDED PRECEDING) AS INT)
                       AS scene_idx
            FROM d
        """,
        "mm_audio_chunks": """
            WITH m AS (
                SELECT doc_id AS media_id,
                       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                       CAST((doc_id % 5) * 1300 + 900 AS BIGINT) AS dur
                FROM documents)
            SELECT media_id,
                   CAST(s / 2000 AS INT) AS chunk_idx,
                   s AS chunk_start_ms,
                   least(s + 2000, dur) AS chunk_end_ms,
                   CAST(floor(n_bytes * s / dur) AS BIGINT) AS byte_start,
                   CAST(floor(n_bytes * least(s + 2000, dur) / dur)
                     AS BIGINT) AS byte_end
            FROM m, UNNEST(range(0, dur, 2000)) AS u(s)
        """,
        "join_salted_skew": """
            SELECT e.event_id, e.event_type, d.type_total
            FROM events e
            JOIN (SELECT event_type, count(*) AS type_total
                  FROM events GROUP BY event_type) d
              ON e.event_type = d.event_type
        """,
        "v6_drift_categorical": _psi_cat_oracle_sql(
            ["l_linestatus", "l_returnflag"], "1998-06-01"
        ),
        "sample_epoch_mix": """
            WITH RECURSIVE toks AS (
                SELECT source,
                       CAST(len(list_filter(string_split_regex(lower(text),
                            '[^a-z0-9'']+'), t -> t <> '')) AS BIGINT)
                           AS n_tokens
                FROM documents
                WHERE source IN ('src0','src1','src2','src3','src4')),
            w(source, weight) AS (
                VALUES ('src0', 50), ('src1', 20), ('src2', 15),
                       ('src3', 10), ('src4', 5)),
            base AS (
                SELECT t.source, CAST(sum(t.n_tokens) AS BIGINT) AS avail,
                       w.weight,
                       CAST((sum(t.n_tokens) * 2) // 1 AS BIGINT) AS cap
                FROM toks t JOIN w ON t.source = w.source
                GROUP BY t.source, w.weight),
            fix AS (
                -- one generation per fixpoint round: capped sources
                -- finalize at cap and leave the pool, the remaining
                -- budget re-splits by weight over the open rest; all
                -- integer floor division, bit-exact vs the engine
                SELECT source, avail, weight, cap,
                       CAST(NULL AS BIGINT) AS alloc,
                       CAST(12000 AS BIGINT) AS b_rem,
                       0 AS rnd, 0 AS rnd_final
                FROM base
                UNION ALL
                SELECT source, avail, weight, cap,
                       CASE WHEN alloc IS NOT NULL THEN alloc
                            WHEN any_new AND tent >= cap THEN cap
                            WHEN NOT any_new THEN tent
                            ELSE NULL END AS alloc,
                       CAST(b_rem - coalesce(sum(CASE WHEN alloc IS NULL
                                AND any_new AND tent >= cap THEN cap END)
                                OVER (), 0) AS BIGINT),
                       rnd + 1,
                       CASE WHEN alloc IS NOT NULL THEN rnd_final
                            WHEN (any_new AND tent >= cap) OR NOT any_new
                                THEN rnd + 1
                            ELSE 0 END
                FROM (
                    SELECT *,
                           coalesce(bool_or(alloc IS NULL AND tent >= cap)
                                    OVER (), FALSE) AS any_new,
                           count(CASE WHEN alloc IS NULL THEN 1 END)
                               OVER () AS n_open
                    FROM (
                        SELECT *,
                               CASE WHEN alloc IS NULL
                                    THEN (b_rem * weight) // w_open
                               END AS tent
                        FROM (
                            SELECT *, sum(CASE WHEN alloc IS NULL
                                          THEN weight END) OVER () AS w_open
                            FROM fix) s0) s1) s
                WHERE n_open > 0)
            SELECT source, avail AS available_tokens, weight,
                   cap AS cap_tokens, alloc AS alloc_tokens,
                   round(alloc / avail + 1e-9, 6) + 0.0 AS epochs,
                   alloc = cap AS capped, rnd_final AS round_finalized
            FROM fix
            QUALIFY rnd = max(rnd) OVER ()
            ORDER BY source
        """,
        "sample_epoch_apply": """
            WITH RECURSIVE doc AS (
                SELECT doc_id, source,
                       CAST(len(list_filter(string_split_regex(lower(text),
                            '[^a-z0-9'']+'), t -> t <> '')) AS BIGINT)
                           AS n_tokens,
                       CAST(concat('0x', substr(md5('budget|' || doc_id),
                            1, 15)) AS BIGINT) AS hv
                FROM documents
                WHERE source IN ('src0','src1','src2','src3','src4')),
            w(source, weight) AS (
                VALUES ('src0', 50), ('src1', 20), ('src2', 15),
                       ('src3', 10), ('src4', 5)),
            base AS (
                SELECT d.source, CAST(sum(d.n_tokens) AS BIGINT) AS avail,
                       w.weight,
                       CAST((sum(d.n_tokens) * 2) // 1 AS BIGINT) AS cap
                FROM doc d JOIN w ON d.source = w.source
                GROUP BY d.source, w.weight),
            fix AS (
                SELECT source, avail, weight, cap,
                       CAST(NULL AS BIGINT) AS alloc,
                       CAST(12000 AS BIGINT) AS b_rem,
                       0 AS rnd
                FROM base
                UNION ALL
                SELECT source, avail, weight, cap,
                       CASE WHEN alloc IS NOT NULL THEN alloc
                            WHEN any_new AND tent >= cap THEN cap
                            WHEN NOT any_new THEN tent
                            ELSE NULL END AS alloc,
                       CAST(b_rem - coalesce(sum(CASE WHEN alloc IS NULL
                                AND any_new AND tent >= cap THEN cap END)
                                OVER (), 0) AS BIGINT),
                       rnd + 1
                FROM (
                    SELECT *,
                           coalesce(bool_or(alloc IS NULL AND tent >= cap)
                                    OVER (), FALSE) AS any_new,
                           count(CASE WHEN alloc IS NULL THEN 1 END)
                               OVER () AS n_open
                    FROM (
                        SELECT *,
                               CASE WHEN alloc IS NULL
                                    THEN (b_rem * weight) // w_open
                               END AS tent
                        FROM (
                            SELECT *, sum(CASE WHEN alloc IS NULL
                                          THEN weight END) OVER () AS w_open
                            FROM fix) s0) s1) s
                WHERE n_open > 0),
            plan AS (
                SELECT source, alloc // avail AS n_full,
                       alloc % avail AS rem
                FROM fix
                QUALIFY rnd = max(rnd) OVER ()),
            pre AS (
                SELECT doc_id, source, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           PARTITION BY source ORDER BY hv, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
                           AS tokens_before
                FROM doc)
            SELECT d.doc_id, d.source, d.n_tokens,
                   CAST(p.n_full + CASE WHEN d.tokens_before < p.rem
                                        THEN 1 ELSE 0 END AS INT)
                       AS n_copies
            FROM pre d JOIN plan p USING (source)
            WHERE p.n_full + CASE WHEN d.tokens_before < p.rem
                                  THEN 1 ELSE 0 END > 0
            ORDER BY d.source, d.doc_id
        """,
        "sample_curriculum": """
            WITH toks AS (
                SELECT doc_id,
                       CAST(len(list_filter(string_split_regex(lower(text),
                            '[^a-z0-9'']+'), t -> t <> '')) AS BIGINT)
                           AS difficulty,
                       CAST(concat('0x', substr(md5('curriculum|' ||
                            doc_id), 1, 15)) AS BIGINT) AS hv
                FROM documents),
            r1 AS (
                SELECT *, row_number() OVER (ORDER BY difficulty, doc_id)
                           AS rn,
                       count(*) OVER () AS n
                FROM toks),
            st AS (
                SELECT doc_id, difficulty,
                       CAST(1 + ((rn - 1) * 4) // n AS INT) AS stage, hv
                FROM r1)
            SELECT doc_id, difficulty, stage,
                   CAST(row_number() OVER (ORDER BY stage, hv, doc_id)
                       AS BIGINT) AS curriculum_rank
            FROM st
            ORDER BY curriculum_rank
        """,
        "sample_token_budget": """
            WITH toks AS (
                SELECT doc_id, lang,
                       CAST(len(list_filter(string_split_regex(lower(text),
                            '[^a-z0-9'']+'), t -> t <> '')) AS BIGINT)
                           AS n_tokens,
                       CAST(concat('0x', substr(md5('budget|' || doc_id),
                            1, 15)) AS BIGINT) AS hv
                FROM documents
                WHERE lang IN ('en', 'de', 'fr', 'es')),
            pre AS (
                SELECT doc_id, lang, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           PARTITION BY lang ORDER BY hv, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
                           AS tokens_before
                FROM toks)
            SELECT doc_id, lang, n_tokens, tokens_before
            FROM pre
            WHERE tokens_before < CASE lang WHEN 'en' THEN 4000
                                            ELSE 1500 END
            ORDER BY lang, doc_id
        """,
        "v11_benford": """
            WITH digits AS (
                SELECT col, CAST(floor(v / pow(10.0, floor(log10(v))))
                            AS INT) AS digit
                FROM (
                    SELECT 'l_extendedprice' AS col,
                           abs(CAST(l_extendedprice AS DOUBLE)) AS v
                    FROM lineitem
                    UNION ALL
                    SELECT 'l_quantity' AS col,
                           abs(CAST(l_quantity AS DOUBLE)) AS v
                    FROM lineitem)
                WHERE v IS NOT NULL AND v > 0),
            cells AS (
                SELECT col, digit, count(*) AS o
                FROM digits GROUP BY 1, 2),
            slots AS (
                SELECT c.col, d.digit
                FROM (VALUES ('l_extendedprice'), ('l_quantity')) c(col)
                CROSS JOIN (SELECT unnest(range(1, 10)) AS digit) d),
            j AS (
                SELECT s.col, s.digit, coalesce(c.o, 0) AS o,
                       sum(coalesce(c.o, 0)) OVER (PARTITION BY s.col)
                           AS n
                FROM slots s LEFT JOIN cells c
                  ON s.col = c.col AND s.digit = c.digit),
            folded AS (
                SELECT col,
                       round(sum((CAST(o AS DOUBLE) / n
                                  - log10(1 + 1.0 / digit))
                                 * (CAST(o AS DOUBLE) / n
                                    - log10(1 + 1.0 / digit))
                                 / log10(1 + 1.0 / digit) * n)
                             + 1e-9, 6) + 0.0 AS chi2,
                       round(avg(abs(CAST(o AS DOUBLE) / n
                                     - log10(1 + 1.0 / digit)))
                             + 1e-9, 6) + 0.0 AS digit_mad,
                       round(sum(CASE WHEN digit = 1
                                 THEN CAST(o AS DOUBLE) / n
                                 ELSE 0.0 END) + 1e-9, 6) + 0.0 AS share_d1,
                       CAST(max(n) AS BIGINT) AS n
                FROM j GROUP BY col)
            SELECT col AS "column",
                   round(log10(greatest(chi2, 0) + 1) + 1e-9, 6) + 0.0
                       AS chi2_mag,
                   digit_mad, share_d1, n
            FROM folded
            ORDER BY "column"
        """,
        "ts_anomaly_mad": """
            WITH base AS (
                SELECT event_type, CAST(value AS DOUBLE) AS v
                FROM events WHERE value IS NOT NULL),
            med AS (
                SELECT event_type, round(quantile_cont(v, 0.5), 9) AS m
                FROM base GROUP BY event_type),
            mad AS (
                SELECT b.event_type,
                       round(quantile_cont(abs(b.v - m.m), 0.5), 9) AS d
                FROM base b JOIN med m USING (event_type)
                GROUP BY b.event_type),
            scored AS (
                SELECT b.event_type, b.v AS value,
                       m.m AS key_median, d.d AS key_mad,
                       CASE WHEN d.d IS NOT NULL THEN
                            round(0.6745 * CASE WHEN d.d = 0 THEN NULL
                                  ELSE (b.v - m.m) / d.d END + 1e-9, 6) + 0.0
                       END AS mad_z
                FROM base b
                JOIN med m USING (event_type)
                JOIN mad d USING (event_type))
            SELECT event_type, value, key_median, key_mad, mad_z,
                   CASE WHEN key_mad > 0 THEN abs(mad_z) > 3.5 END
                       AS is_outlier
            FROM scored
            ORDER BY event_type, value
        """,
        "agg_entropy": """
            WITH cells AS (
                SELECT event_type,
                       coalesce(CAST(hour(ts) AS VARCHAR), '__null')
                           AS cat,
                       count(*) AS o
                FROM events GROUP BY 1, 2),
            shares AS (
                SELECT event_type, o,
                       sum(o) OVER (PARTITION BY event_type) AS n
                FROM cells),
            per AS (
                SELECT event_type,
                       round(-sum((CAST(o AS DOUBLE) / n)
                                  * log2(CAST(o AS DOUBLE) / n))
                             + 1e-9, 6) + 0.0 AS entropy_bits,
                       count(*) AS n_levels,
                       CAST(max(n) AS BIGINT) AS n
                FROM shares GROUP BY event_type)
            SELECT event_type,
                   entropy_bits + 0.0 AS entropy_bits,
                   CASE WHEN n_levels > 1 THEN
                        round(entropy_bits
                              / log2(CAST(n_levels AS DOUBLE)) + 1e-9, 6) + 0.0
                   END AS norm_entropy,
                   n_levels, n
            FROM per
            ORDER BY event_type
        """,
        "agg_assoc_matrix": """
            SELECT 'l_returnflag' AS col_a, 'l_linestatus' AS col_b,
                   CASE WHEN least(r, c) <= 1 THEN NULL
                        ELSE round(sqrt(greatest(chi_obs + n, 0)
                                        / (n * CAST(least(r, c) - 1
                                                    AS DOUBLE))) + 1e-9, 6) + 0.0
                   END AS v_cramer,
                   round(log10(greatest(chi_obs + n, 0) + 1.0) + 1e-9, 6) + 0.0
                       AS chi2_mag,
                   round(mi + 1e-9, 6) + 0.0 AS mutual_info,
                   CAST(n AS BIGINT) AS n,
                   r AS r_levels, c AS c_levels
            FROM (
                WITH cells AS (
                    SELECT coalesce(CAST(l_returnflag AS VARCHAR), '__null') AS va,
                           coalesce(CAST(l_linestatus AS VARCHAR), '__null') AS vb,
                           count(*) AS o
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
                m AS (
                    SELECT o,
                           sum(o) OVER (PARTITION BY va) AS ra,
                           sum(o) OVER (PARTITION BY vb) AS cb,
                           sum(o) OVER () AS n,
                           va, vb
                    FROM cells)
                SELECT max(n) AS n,
                       sum((o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           * (o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           AS chi_obs,
                       sum(CAST(o AS DOUBLE) / n
                           * log2(CAST(o AS DOUBLE) * n
                                  / (CAST(ra AS DOUBLE)
                                     * CAST(cb AS DOUBLE)))) AS mi,
                       count(DISTINCT va) AS r, count(DISTINCT vb) AS c
                FROM m) UNION ALL 
            SELECT 'l_returnflag' AS col_a, 'o_orderstatus' AS col_b,
                   CASE WHEN least(r, c) <= 1 THEN NULL
                        ELSE round(sqrt(greatest(chi_obs + n, 0)
                                        / (n * CAST(least(r, c) - 1
                                                    AS DOUBLE))) + 1e-9, 6) + 0.0
                   END AS v_cramer,
                   round(log10(greatest(chi_obs + n, 0) + 1.0) + 1e-9, 6) + 0.0
                       AS chi2_mag,
                   round(mi + 1e-9, 6) + 0.0 AS mutual_info,
                   CAST(n AS BIGINT) AS n,
                   r AS r_levels, c AS c_levels
            FROM (
                WITH cells AS (
                    SELECT coalesce(CAST(l_returnflag AS VARCHAR), '__null') AS va,
                           coalesce(CAST(o_orderstatus AS VARCHAR), '__null') AS vb,
                           count(*) AS o
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
                m AS (
                    SELECT o,
                           sum(o) OVER (PARTITION BY va) AS ra,
                           sum(o) OVER (PARTITION BY vb) AS cb,
                           sum(o) OVER () AS n,
                           va, vb
                    FROM cells)
                SELECT max(n) AS n,
                       sum((o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           * (o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           AS chi_obs,
                       sum(CAST(o AS DOUBLE) / n
                           * log2(CAST(o AS DOUBLE) * n
                                  / (CAST(ra AS DOUBLE)
                                     * CAST(cb AS DOUBLE)))) AS mi,
                       count(DISTINCT va) AS r, count(DISTINCT vb) AS c
                FROM m) UNION ALL 
            SELECT 'l_returnflag' AS col_a, 'o_orderpriority' AS col_b,
                   CASE WHEN least(r, c) <= 1 THEN NULL
                        ELSE round(sqrt(greatest(chi_obs + n, 0)
                                        / (n * CAST(least(r, c) - 1
                                                    AS DOUBLE))) + 1e-9, 6) + 0.0
                   END AS v_cramer,
                   round(log10(greatest(chi_obs + n, 0) + 1.0) + 1e-9, 6) + 0.0
                       AS chi2_mag,
                   round(mi + 1e-9, 6) + 0.0 AS mutual_info,
                   CAST(n AS BIGINT) AS n,
                   r AS r_levels, c AS c_levels
            FROM (
                WITH cells AS (
                    SELECT coalesce(CAST(l_returnflag AS VARCHAR), '__null') AS va,
                           coalesce(CAST(o_orderpriority AS VARCHAR), '__null') AS vb,
                           count(*) AS o
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
                m AS (
                    SELECT o,
                           sum(o) OVER (PARTITION BY va) AS ra,
                           sum(o) OVER (PARTITION BY vb) AS cb,
                           sum(o) OVER () AS n,
                           va, vb
                    FROM cells)
                SELECT max(n) AS n,
                       sum((o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           * (o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           AS chi_obs,
                       sum(CAST(o AS DOUBLE) / n
                           * log2(CAST(o AS DOUBLE) * n
                                  / (CAST(ra AS DOUBLE)
                                     * CAST(cb AS DOUBLE)))) AS mi,
                       count(DISTINCT va) AS r, count(DISTINCT vb) AS c
                FROM m) UNION ALL 
            SELECT 'l_linestatus' AS col_a, 'o_orderstatus' AS col_b,
                   CASE WHEN least(r, c) <= 1 THEN NULL
                        ELSE round(sqrt(greatest(chi_obs + n, 0)
                                        / (n * CAST(least(r, c) - 1
                                                    AS DOUBLE))) + 1e-9, 6) + 0.0
                   END AS v_cramer,
                   round(log10(greatest(chi_obs + n, 0) + 1.0) + 1e-9, 6) + 0.0
                       AS chi2_mag,
                   round(mi + 1e-9, 6) + 0.0 AS mutual_info,
                   CAST(n AS BIGINT) AS n,
                   r AS r_levels, c AS c_levels
            FROM (
                WITH cells AS (
                    SELECT coalesce(CAST(l_linestatus AS VARCHAR), '__null') AS va,
                           coalesce(CAST(o_orderstatus AS VARCHAR), '__null') AS vb,
                           count(*) AS o
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
                m AS (
                    SELECT o,
                           sum(o) OVER (PARTITION BY va) AS ra,
                           sum(o) OVER (PARTITION BY vb) AS cb,
                           sum(o) OVER () AS n,
                           va, vb
                    FROM cells)
                SELECT max(n) AS n,
                       sum((o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           * (o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           AS chi_obs,
                       sum(CAST(o AS DOUBLE) / n
                           * log2(CAST(o AS DOUBLE) * n
                                  / (CAST(ra AS DOUBLE)
                                     * CAST(cb AS DOUBLE)))) AS mi,
                       count(DISTINCT va) AS r, count(DISTINCT vb) AS c
                FROM m) UNION ALL 
            SELECT 'l_linestatus' AS col_a, 'o_orderpriority' AS col_b,
                   CASE WHEN least(r, c) <= 1 THEN NULL
                        ELSE round(sqrt(greatest(chi_obs + n, 0)
                                        / (n * CAST(least(r, c) - 1
                                                    AS DOUBLE))) + 1e-9, 6) + 0.0
                   END AS v_cramer,
                   round(log10(greatest(chi_obs + n, 0) + 1.0) + 1e-9, 6) + 0.0
                       AS chi2_mag,
                   round(mi + 1e-9, 6) + 0.0 AS mutual_info,
                   CAST(n AS BIGINT) AS n,
                   r AS r_levels, c AS c_levels
            FROM (
                WITH cells AS (
                    SELECT coalesce(CAST(l_linestatus AS VARCHAR), '__null') AS va,
                           coalesce(CAST(o_orderpriority AS VARCHAR), '__null') AS vb,
                           count(*) AS o
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
                m AS (
                    SELECT o,
                           sum(o) OVER (PARTITION BY va) AS ra,
                           sum(o) OVER (PARTITION BY vb) AS cb,
                           sum(o) OVER () AS n,
                           va, vb
                    FROM cells)
                SELECT max(n) AS n,
                       sum((o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           * (o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           AS chi_obs,
                       sum(CAST(o AS DOUBLE) / n
                           * log2(CAST(o AS DOUBLE) * n
                                  / (CAST(ra AS DOUBLE)
                                     * CAST(cb AS DOUBLE)))) AS mi,
                       count(DISTINCT va) AS r, count(DISTINCT vb) AS c
                FROM m) UNION ALL 
            SELECT 'o_orderstatus' AS col_a, 'o_orderpriority' AS col_b,
                   CASE WHEN least(r, c) <= 1 THEN NULL
                        ELSE round(sqrt(greatest(chi_obs + n, 0)
                                        / (n * CAST(least(r, c) - 1
                                                    AS DOUBLE))) + 1e-9, 6) + 0.0
                   END AS v_cramer,
                   round(log10(greatest(chi_obs + n, 0) + 1.0) + 1e-9, 6) + 0.0
                       AS chi2_mag,
                   round(mi + 1e-9, 6) + 0.0 AS mutual_info,
                   CAST(n AS BIGINT) AS n,
                   r AS r_levels, c AS c_levels
            FROM (
                WITH cells AS (
                    SELECT coalesce(CAST(o_orderstatus AS VARCHAR), '__null') AS va,
                           coalesce(CAST(o_orderpriority AS VARCHAR), '__null') AS vb,
                           count(*) AS o
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
                m AS (
                    SELECT o,
                           sum(o) OVER (PARTITION BY va) AS ra,
                           sum(o) OVER (PARTITION BY vb) AS cb,
                           sum(o) OVER () AS n,
                           va, vb
                    FROM cells)
                SELECT max(n) AS n,
                       sum((o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           * (o - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / n)
                           AS chi_obs,
                       sum(CAST(o AS DOUBLE) / n
                           * log2(CAST(o AS DOUBLE) * n
                                  / (CAST(ra AS DOUBLE)
                                     * CAST(cb AS DOUBLE)))) AS mi,
                       count(DISTINCT va) AS r, count(DISTINCT vb) AS c
                FROM m)
            ORDER BY col_a, col_b
        """,
        "ts_autocorr": """
            WITH series AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(count(*) AS DOUBLE) AS x
                FROM events GROUP BY 1, 2)
            
            SELECT event_type, 1 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 1) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 2 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 2) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 3 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 3) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 4 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 4) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 5 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 5) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 6 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 6) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 7 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 7) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 8 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 8) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 9 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 9) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 10 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 10) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 11 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 11) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type)) UNION ALL 
            SELECT event_type, 12 AS lag,
                   CASE WHEN denom = 0 THEN NULL
                        ELSE round((pxy - m * (pa + pb) + pc * m * m)
                                   / denom + 1e-9, 6) + 0.0 END AS acf,
                   n
            FROM (
                SELECT event_type, n, s, ss, pxy, pa, pb, pc,
                       s / n AS m, ss - n * (s / n) * (s / n) AS denom
                FROM (
                    SELECT event_type,
                           count(x) AS n, sum(x) AS s, sum(x * x) AS ss,
                           sum(x * lk) AS pxy,
                           sum(CASE WHEN lk IS NOT NULL THEN x END) AS pa,
                           sum(lk) AS pb, count(lk) AS pc
                    FROM (
                        SELECT event_type, x,
                               lag(x, 12) OVER (PARTITION BY event_type
                                                 ORDER BY hour) AS lk
                        FROM series)
                    GROUP BY event_type))
            ORDER BY event_type, lag
        """,
        "ts_cusum": """
            WITH series AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(count(*) AS DOUBLE) AS x
                FROM events GROUP BY 1, 2),
            z AS (
                SELECT event_type, hour, x,
                       CASE WHEN stddev_samp(x) OVER w = 0 THEN NULL
                            ELSE (x - avg(x) OVER w)
                                 / stddev_samp(x) OVER w END AS zv
                FROM series
                WINDOW w AS (PARTITION BY event_type)),
            s AS (
                SELECT event_type, hour, x,
                       sum(zv - 0.5) OVER wo AS s_up,
                       sum(-zv - 0.5) OVER wo AS s_dn
                FROM z
                WINDOW wo AS (PARTITION BY event_type ORDER BY hour
                              ROWS UNBOUNDED PRECEDING)),
            c AS (
                SELECT event_type, hour, x,
                       round(s_up - least(0, min(s_up) OVER wo) + 1e-9, 6) + 0.0
                           AS cusum_pos,
                       round(s_dn - least(0, min(s_dn) OVER wo) + 1e-9, 6) + 0.0
                           AS cusum_neg
                FROM s
                WINDOW wo AS (PARTITION BY event_type ORDER BY hour
                              ROWS UNBOUNDED PRECEDING))
            SELECT event_type,
                   strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
                   x AS n_events, cusum_pos, cusum_neg,
                   CASE WHEN cusum_pos IS NULL THEN NULL
                        ELSE cusum_pos > 4.0 OR cusum_neg > 4.0 END
                       AS is_change
            FROM c
            ORDER BY event_type, hour
        """,
        "ts_changepoint": """
            WITH series AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(count(*) AS DOUBLE) AS x
                FROM events GROUP BY 1, 2),
            pre AS (
                SELECT event_type, hour,
                       sum(x) OVER wr AS s,
                       sum(x * x) OVER wr AS s2,
                       count(*) OVER wr AS i,
                       sum(x) OVER wa AS st,
                       sum(x * x) OVER wa AS st2,
                       count(*) OVER wa AS n
                FROM series
                WINDOW wr AS (PARTITION BY event_type ORDER BY hour
                              ROWS UNBOUNDED PRECEDING),
                       wa AS (PARTITION BY event_type ORDER BY hour
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)),
            cand AS (
                SELECT event_type, hour,
                       round(st2 - st * st / n
                             - (s2 - s * s / i)
                             - ((st2 - s2)
                                - (st - s) * (st - s) / (n - i))
                             + 1e-9, 6) + 0.0 AS gain,
                       CAST(i AS BIGINT) AS n_left,
                       CAST(n - i AS BIGINT) AS n_right,
                       round(s / i + 1e-9, 6) + 0.0 AS mean_left,
                       round((st - s) / (n - i) + 1e-9, 6) + 0.0
                           AS mean_right
                FROM pre WHERE i >= 24 AND n - i >= 24)
            SELECT event_type,
                   strftime(hour, '%Y-%m-%d %H:%M:%S') AS split_hour,
                   gain, n_left, n_right, mean_left, mean_right
            FROM cand
            QUALIFY row_number() OVER (PARTITION BY event_type
                ORDER BY gain DESC, hour ASC) = 1
            ORDER BY event_type
        """,
        "v10_drift_js": _js_oracle_sql(
            ["l_extendedprice", "l_quantity", "l_discount"],
            "1998-06-01", 10,
        ),
        "v13_drift_chi2": _chi2_oracle_sql(
            ["l_extendedprice", "l_quantity", "l_discount"],
            "1998-06-01", 10,
        ),
        "stream_drift_ks": _grid_drift_oracle_sql(
            ["l_extendedprice", "l_quantity"], "1998-06-01", 10,
        ),
        "v12_drift_wasserstein": _wasserstein_oracle_sql(
            ["l_extendedprice", "l_quantity", "l_discount"],
            "1998-06-01", 10,
        ),
        "graph_assortativity": """
            WITH raw AS (
                SELECT DISTINCT concat('o', l_orderkey) AS s,
                                concat('p', l_partkey) AS d
                FROM lineitem),
            und AS (
                SELECT DISTINCT least(s, d) AS s, greatest(s, d) AS d
                FROM raw WHERE s <> d),
            sym AS (
                SELECT s, d FROM und
                UNION ALL
                SELECT d AS s, s AS d FROM und),
            deg AS (
                SELECT s AS n, CAST(count(*) AS BIGINT) AS deg
                FROM sym GROUP BY 1),
            p AS (
                SELECT CAST(a.deg AS DOUBLE) AS ds,
                       CAST(b.deg AS DOUBLE) AS dd
                FROM sym JOIN deg a ON sym.s = a.n
                         JOIN deg b ON sym.d = b.n),
            ns AS (
                SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                       avg(deg) AS ad
                FROM deg)
            SELECT round(CASE WHEN stddev_samp(ds) * stddev_samp(dd) > 0
                         THEN covar_samp(ds, dd)
                              / (stddev_samp(ds) * stddev_samp(dd))
                         END + 1e-9, 6) + 0.0 AS assortativity,
                   CAST(count(*) / 2 AS BIGINT) AS n_edges,
                   max(ns.n_nodes) AS n_nodes,
                   round(max(ns.ad) + 1e-9, 6) + 0.0 AS avg_degree
            FROM p CROSS JOIN ns
        """,
        "v5_drift_psi": _psi_oracle_sql(
            ["l_discount", "l_extendedprice", "l_quantity"], "1998-06-01"
        ),
        "agg_skyline": """
            WITH pts AS (
                SELECT DISTINCT p_retailprice, p_size FROM part
            )
            SELECT p_retailprice, p_size
            FROM pts p
            WHERE NOT EXISTS (
                SELECT 1 FROM pts q
                WHERE q.p_retailprice <= p.p_retailprice
                  AND q.p_size <= p.p_size
                  AND (q.p_retailprice < p.p_retailprice
                       OR q.p_size < p.p_size)
            )
            ORDER BY p_retailprice
        """,
        "ts_holt": _holt_oracle_sql(0.3, 0.2),
        "ts_holt_winters": _holt_winters_oracle_sql(0.3, 0.1, 0.25, 7),
        "ts_holt_winters_damped": _holt_winters_oracle_sql(
            0.3, 0.1, 0.25, 7, phi=0.85
        ),
        "ts_forecast": _holt_winters_forecast_oracle_sql(
            0.3, 0.1, 0.25, 7, horizon=10, phi=0.9
        ),
        "ts_anomaly_seasonal": _hw_recursive_cte(
            0.3, 0.1, 0.25, 7, phi=0.9
        ) + """
            , p AS (
                SELECT user_id, event_id, y,
                       lag(l) OVER w + 0.9 * lag(b) OVER w
                       + coalesce(lag(s, 7) OVER w, 0) AS pred
                FROM hw
                WINDOW w AS (PARTITION BY user_id ORDER BY rn)
            ),
            r AS (SELECT user_id, event_id, y, y - pred AS resid FROM p)
            SELECT user_id, event_id,
                   round(resid + 1e-9, 6) + 0.0 AS resid,
                   round((resid - avg(resid) OVER (PARTITION BY user_id))
                         / (CASE WHEN stddev_samp(resid)
                                      OVER (PARTITION BY user_id)
                                 > 1e-9 * (avg(abs(y))
                                           OVER (PARTITION BY user_id) + 1)
                                 THEN stddev_samp(resid)
                                      OVER (PARTITION BY user_id)
                                 END)
                         + 1e-9, 6) + 0.0 AS z
            FROM r
        """,
        "ts_decompose": _TS_DECOMPOSE_ORACLE,
        "ts_smooth": """
            WITH o AS (
                SELECT user_id, event_id, ts, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS n
                FROM events
            ),
            z AS (
                SELECT *,
                       sum(value * pow(0.7, -n)) OVER (
                           PARTITION BY user_id ORDER BY n) AS cz,
                       first_value(value) OVER (
                           PARTITION BY user_id ORDER BY n) AS y1
                FROM o
            )
            SELECT user_id, event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   round(value, 6) AS value,
                   round(pow(0.7, n) * y1
                         + 0.3 * pow(0.7, n) * cz, 6) AS ewma
            FROM z
        """,
        "join_asof_nearest": """
            WITH m AS (
                SELECT user_id, ts, max(value) AS marker_value
                FROM events WHERE event_id % 19 = 0 GROUP BY user_id, ts),
            b AS (
                SELECT e.event_id, e.user_id, e.ts,
                       m.ts AS bts, m.marker_value AS bm
                FROM events e
                ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts >= m.ts),
            f AS (
                SELECT e.event_id, m.ts AS fts, m.marker_value AS fm
                FROM events e
                ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts <= m.ts),
            j AS (
                SELECT b.event_id, b.user_id, b.ts,
                       CASE WHEN b.bts IS NOT NULL
                                 AND epoch_us(b.ts) - epoch_us(b.bts)
                                     <= CAST(7200 AS BIGINT) * 1000000
                            THEN b.bm END AS bm,
                       CASE WHEN b.bts IS NOT NULL
                                 AND epoch_us(b.ts) - epoch_us(b.bts)
                                     <= CAST(7200 AS BIGINT) * 1000000
                            THEN epoch_us(b.ts) - epoch_us(b.bts) END AS bd,
                       CASE WHEN f.fts IS NOT NULL
                                 AND epoch_us(f.fts) - epoch_us(b.ts)
                                     <= CAST(7200 AS BIGINT) * 1000000
                            THEN f.fm END AS fm,
                       CASE WHEN f.fts IS NOT NULL
                                 AND epoch_us(f.fts) - epoch_us(b.ts)
                                     <= CAST(7200 AS BIGINT) * 1000000
                            THEN epoch_us(f.fts) - epoch_us(b.ts) END AS fd
                FROM b JOIN f USING (event_id))
            SELECT event_id, user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   round(
                       CASE WHEN bd IS NOT NULL
                                 AND (fd IS NULL OR bd <= fd)
                            THEN bm
                            WHEN fd IS NOT NULL THEN fm
                       END, 6) AS marker_value
            FROM j
        """,
        "join_asof": """
            WITH m AS (
                SELECT user_id, ts, max(value) AS marker_value
                FROM events WHERE event_id % 19 = 0 GROUP BY user_id, ts)
            SELECT e.event_id, e.user_id,
                   strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   round(m.marker_value, 6) AS marker_value
            FROM events e
            ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts >= m.ts
        """,
        "join_range": """
            WITH m AS (
                SELECT user_id, ts AS start_ts,
                       ts + INTERVAL 30 MINUTE AS end_ts
                FROM (SELECT user_id, ts, max(value) FROM events
                      WHERE event_id % 19 = 0 GROUP BY user_id, ts))
            SELECT e.event_id, e.user_id,
                   strftime(m.start_ts, '%Y-%m-%d %H:%M:%S') AS interval_start
            FROM events e
            JOIN m ON e.user_id = m.user_id
                  AND e.ts >= m.start_ts AND e.ts < m.end_ts
        """,
        "agg_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n_rows,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
                       AS grouping_id
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "win_moving_avg": """
            SELECT user_id, event_id, round(value, 6) AS value,
                   round(lag(value, 1) OVER w, 6) AS prev_value,
                   round(avg(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
                       AS moving_avg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "win_topk_priority": """
            SELECT o_orderpriority, o_orderkey,
                   round(o_totalprice, 2) AS o_totalprice,
                   CAST(row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey ASC)
                     AS INTEGER) AS rank
            FROM orders
            QUALIFY rank <= 3
        """,
        "agg_distinct_stats": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_user_id,
                   count(*) AS n_rows,
                   round(quantile_cont(value, 0.5), 6) AS p50_value
            FROM events GROUP BY event_type
        """,
        # tolerance-flag pattern (VERDICT r6 #4): exact columns hash,
        # sketch estimates are validated IN-PLAN on the Spark side and
        # surface as booleans the oracle pins to literal TRUE
        "agg_approx_stats": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events,
                   TRUE AS hll_ok,
                   TRUE AS p50_rank_ok
            FROM events GROUP BY event_type
        """,
        "agg_hll_rollup": """
            SELECT event_type,
                   count(*) AS n_rows,
                   count(DISTINCT CAST(ts AS DATE)) AS n_fine_groups,
                   count(DISTINCT user_id) AS n_users,
                   TRUE AS hll_ok
            FROM events GROUP BY event_type
            ORDER BY event_type
        """,
        "agg_quantile_rollup": """
            SELECT event_type,
                   count(*) AS n_rows,
                   count(DISTINCT CAST(ts AS DATE)) AS n_fine_groups,
                   TRUE AS p50_rank_ok,
                   TRUE AS p95_rank_ok,
                   TRUE AS p99_rank_ok
            FROM events GROUP BY event_type
            ORDER BY event_type
        """,
        "agg_distinct_overlap": """
            SELECT 'click' AS segment_a,
                   'purchase' AS segment_b,
                   count(DISTINCT CASE WHEN event_type = 'click'
                                       THEN user_id END) AS n_a,
                   count(DISTINCT CASE WHEN event_type = 'purchase'
                                       THEN user_id END) AS n_b,
                   count(DISTINCT user_id) AS n_union,
                   count(DISTINCT CASE WHEN event_type = 'click'
                                       THEN user_id END)
                   + count(DISTINCT CASE WHEN event_type = 'purchase'
                                         THEN user_id END)
                   - count(DISTINCT user_id) AS n_intersection,
                   TRUE AS ok_a, TRUE AS ok_b,
                   TRUE AS ok_union, TRUE AS ok_intersection
            FROM events
            WHERE event_type IN ('click', 'purchase')
        """,
        "stream_hll_matview": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   TRUE AS hll_ok
            FROM events GROUP BY event_type
            ORDER BY event_type
        """,
        "stream_quantile_matview": """
            SELECT event_type,
                   count(*) AS n_events,
                   TRUE AS p50_rank_ok,
                   TRUE AS p95_rank_ok,
                   TRUE AS p99_rank_ok
            FROM events GROUP BY event_type
            ORDER BY event_type
        """,
        "join_semi_exists": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_quantity > 45)
            GROUP BY o_orderpriority
        """,
        "agg_conditional": """
            SELECT l_linestatus,
                   round(sum(CASE WHEN p.p_type = 'ECONOMY'
                             THEN l.l_extendedprice * (1 - l.l_discount)
                             ELSE 0.0 END) * 100.0
                         / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
                       AS economy_revenue_pct
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY l_linestatus
        """,
        "agg_having": """
            SELECT c.c_custkey, c.c_name, o.o_orderkey,
                   round(o.o_totalprice, 2) AS o_totalprice,
                   round(b.total_qty, 2) AS total_qty
            FROM orders o
            JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum(l_quantity) > 150) b
              ON o.o_orderkey = b.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "sql_interface": _SQL_INTERFACE_QUERY,
        "set_intersect": """
            SELECT user_id FROM events WHERE value > 50
            INTERSECT
            SELECT user_id FROM events WHERE value <= 50
        """,
        "set_except_all": """
            SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 2
            EXCEPT ALL
            SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
        """,
        "sample_split": f"""
            WITH b AS (
                SELECT doc_id,
                       {_h64("concat('split', '|', CAST(doc_id AS VARCHAR))")}
                           % 10000 AS bucket
                FROM documents)
            SELECT doc_id,
                   CASE WHEN bucket < 8000 THEN 'train'
                        WHEN bucket < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "agg_histogram": """
            SELECT event_type,
                   CAST(floor(value / 10.0) AS BIGINT) AS bin,
                   round(floor(value / 10.0) * 10.0, 2) AS bin_start,
                   count(*) AS n
            FROM events GROUP BY 1, 2, 3
        """,
        "agg_pivot": """
            SELECT o_orderpriority,
                   count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
                   count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
                   count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
            FROM orders GROUP BY o_orderpriority
        """,
        "transform_unpivot": """
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                   round(l_quantity, 6) AS value FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount',
                   round(l_discount, 6) FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax',
                   round(l_tax, 6) FROM lineitem
        """,
        "sql_correlated": _SQL_CORRELATED_QUERY,
        "agg_revenue_filter": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount >= 0.02 AND l_discount <= 0.04
              AND l_quantity < 24
        """,
        "agg_shipping_volume": """
            SELECT CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue,
                   count(*) AS n_lines
            FROM lineitem GROUP BY 1, 2
        """,
        "transform_strings": """
            SELECT c_custkey,
                   upper(c_name) AS upper_name,
                   substr(c_name, 1, 8) AS prefix8,
                   replace(c_name, '#', '-') AS dashed,
                   CAST(length(c_name) AS INT) AS name_len,
                   lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
                   reverse(c_name) AS reversed,
                   concat(trim(c_mktsegment), ':', c_name) AS segment_name
            FROM customer
        """,
        "win_range_frame": """
            SELECT user_id, event_id,
                   round(sum(value) OVER w, 6) AS trailing_1h_value,
                   count(*) OVER w AS trailing_1h_events
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING
                                   AND CURRENT ROW)
        """,
        "agg_custdist": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM (
                SELECT c.c_custkey,
                       CAST(count(o.o_orderkey) AS BIGINT) AS c_count
                FROM customer c
                LEFT OUTER JOIN (
                    SELECT * FROM orders
                    WHERE o_orderpriority <> '1-URGENT') o
                  ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey)
            GROUP BY c_count
        """,
        "join_argmin": """
            WITH ranked AS (
                SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
                       row_number() OVER (PARTITION BY s_nationkey
                           ORDER BY s_acctbal ASC, s_suppkey ASC) AS rn
                FROM supplier)
            SELECT r.s_nationkey, n.n_name, r.s_suppkey, r.s_name,
                   round(r.s_acctbal, 2) AS min_acctbal
            FROM ranked r JOIN nation n ON r.s_nationkey = n.n_nationkey
            WHERE r.rn = 1
        """,
        "join_large_orders": """
            SELECT o.o_orderkey, o.o_orderpriority,
                   round(o.o_totalprice, 2) AS o_totalprice,
                   round(b.total_qty, 2) AS total_qty
            FROM orders o
            JOIN (
                SELECT l_orderkey, sum(l_quantity) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING sum(l_quantity) > 200) b
              ON o.o_orderkey = b.l_orderkey
        """,
        "win_lag_lead": """
            SELECT user_id, event_id,
                   round(value - lag(value) OVER w, 6) AS delta_prev,
                   lead(event_type) OVER w AS next_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "emb_quantize": """
            WITH scaled AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                           x -> abs(x::DOUBLE))) AS scale
                FROM embeddings),
            q AS (
                SELECT vec_id, scale,
                       list_transform(embedding, x -> CAST(floor(
                           x::DOUBLE / (CASE WHEN scale > 0 THEN scale
                                        ELSE 1 END) * 127 + 0.5) AS INT))
                           AS qv
                FROM scaled)
            SELECT vec_id, round(scale, 6) AS q_scale,
                   CAST(list_sum(qv) AS BIGINT) AS q_sum,
                   qv[1] AS q_first
            FROM q
        """,
        "pipe_training_data": f"""
            WITH {_QUALITY_VERDICT_CTES},
            {_TOKS_CTE},
            hits AS (SELECT doc_id, {_langid_fragments()[0]} FROM toks),
            lang AS (SELECT doc_id, {_langid_fragments()[1]} AS lang_guess
                     FROM hits),
            kept AS (
                SELECT d.doc_id, d.text FROM documents d
                JOIN verdict v ON d.doc_id = v.doc_id
                 AND v.fail_reason IS NULL
                JOIN lang l ON d.doc_id = l.doc_id
                 AND l.lang_guess = 'en'),
            ded AS (
                SELECT doc_id, text FROM (
                    SELECT doc_id, text, row_number() OVER (
                        PARTITION BY md5(lower(trim(text)))
                        ORDER BY doc_id) AS rn
                    FROM kept) WHERE rn = 1),
            kt AS (SELECT doc_id, list_filter(
                       string_split_regex(lower(text), '[^a-z0-9'']+'),
                       t -> len(t) > 0) AS t
                   FROM ded),
            d2 AS (SELECT doc_id, t, len(t) AS n FROM kt WHERE len(t) > 0),
            st AS (SELECT doc_id, t, n, unnest(range(0, n, 48)) AS start
                   FROM d2)
            SELECT doc_id,
                   CAST(start // 48 AS INT) AS chunk_index,
                   array_to_string(t[start+1:start+64], ' ') AS chunk_text,
                   CAST(least(64, n - start) AS INT) AS chunk_tokens
            FROM st
        """,
        "sample_stratified": f"""
            WITH b AS (
                SELECT event_id, event_type,
                       {_h64("concat('stratified', '|', CAST(event_id AS VARCHAR))")}
                           % 10000 AS bucket
                FROM events)
            SELECT event_id, event_type FROM b
            WHERE bucket < CASE WHEN event_type = 'click' THEN 5000
                                WHEN event_type = 'view' THEN 2500
                                WHEN event_type = 'purchase' THEN 10000
                                ELSE 0 END
        """,
        "pack_sequences": f"""
            WITH {_TOKS_CTE},
            d AS (SELECT doc_id, t, len(t) AS n FROM toks
                  WHERE len(t) > 0),
            s AS (SELECT doc_id, t, n,
                         unnest(range(0, n, 48)) AS start
                  FROM d),
            c AS (SELECT doc_id,
                         CAST(start // 48 AS INT) AS chunk_index,
                         CAST(least(64, n - start) AS INT) AS chunk_tokens
                  FROM s),
            sh AS (SELECT *,
                          {_h64("concat('pack', '|', CAST(doc_id AS VARCHAR))")}
                              % 8 AS shard
                   FROM c),
            p AS (SELECT shard, doc_id, chunk_index, chunk_tokens,
                         CAST(sum(chunk_tokens) OVER (
                             PARTITION BY shard
                             ORDER BY doc_id, chunk_index
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                  FROM sh)
            SELECT shard,
                   CAST(floor((cum - chunk_tokens) / 256) AS BIGINT) AS seq_id,
                   doc_id, chunk_index, chunk_tokens,
                   CAST(cum - chunk_tokens AS BIGINT) AS stream_offset
            FROM p
        """,
        "merge_scd2": """
            WITH cust AS (
                SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
                FROM customer),
            upd AS (
                SELECT c_custkey, c_name,
                       CASE WHEN c_custkey % 7 = 0
                            THEN round(c_acctbal + 100, 2)
                            ELSE c_acctbal END AS c_acctbal
                FROM cust
                WHERE c_custkey % 7 = 0 OR c_custkey % 13 = 0),
            changed AS (
                SELECT c.c_custkey FROM cust c
                JOIN upd u ON c.c_custkey = u.c_custkey
                WHERE c.c_acctbal IS DISTINCT FROM u.c_acctbal)
            SELECT c.c_custkey, c.c_name, c.c_acctbal,
                   '2024-01-01' AS valid_from,
                   CASE WHEN ch.c_custkey IS NOT NULL
                        THEN '2024-06-01' END AS valid_to
            FROM cust c LEFT JOIN changed ch ON c.c_custkey = ch.c_custkey
            UNION ALL
            SELECT u.c_custkey, u.c_name, u.c_acctbal,
                   '2024-06-01', NULL
            FROM upd u JOIN changed ch ON u.c_custkey = ch.c_custkey
        """,
        "stream_interval_join": """
            SELECT l.user_id, l.event_id,
                   strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
                   r.event_id AS click_id_r,
                   strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
            FROM events l JOIN events r ON l.user_id = r.user_id
            WHERE l.event_type = 'purchase' AND r.event_type = 'click'
              AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
        """,
        "agg_mode": """
            WITH counts AS (
                SELECT user_id, event_type, count(*) AS n
                FROM events GROUP BY user_id, event_type)
            SELECT user_id, event_type AS top_event_type, n AS n_events
            FROM counts
            QUALIFY row_number() OVER (
                PARTITION BY user_id
                ORDER BY n DESC, event_type DESC) = 1
        """,
        "win_streaks": """
            WITH days AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
            isl AS (
                SELECT user_id, day,
                       day - CAST(row_number() OVER (
                           PARTITION BY user_id ORDER BY day) AS INT) AS g
                FROM days),
            streaks AS (
                SELECT user_id, g, count(*) AS streak_days,
                       min(day) AS start
                FROM isl GROUP BY user_id, g)
            SELECT user_id, streak_days,
                   strftime(start, '%Y-%m-%d') AS streak_start
            FROM streaks
            QUALIFY row_number() OVER (
                PARTITION BY user_id
                ORDER BY streak_days DESC, start ASC) = 1
        """,
        "text_lm_score": f"""
            WITH {_TOKS_CTE},
            tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
            freq AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok),
            tot AS (SELECT sum(tf) AS N, count(*) AS V FROM freq)
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(ln((tf + 0.5) / (N + 0.5 * V))), 6)
                       AS mean_logprob
            FROM tok JOIN freq USING (tok), tot
            GROUP BY doc_id
        """,
        "agg_pareto": """
            WITH per_cust AS (
                SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
                FROM orders GROUP BY o_custkey),
            tot AS (SELECT sum(revenue) AS total FROM per_cust),
            ranked AS (
                SELECT o_custkey, revenue,
                       row_number() OVER w AS rank,
                       round(sum(revenue) OVER (
                           ORDER BY revenue DESC, o_custkey ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW), 2) AS cum_revenue
                FROM per_cust
                WINDOW w AS (ORDER BY revenue DESC, o_custkey ASC))
            SELECT rank, o_custkey, revenue, cum_revenue,
                   round(cum_revenue / total, 6) AS cum_share
            FROM ranked, tot WHERE rank <= 100
        """,
        "stream_interval_join_outer": """
            WITH l AS (SELECT user_id, event_id, ts FROM events
                       WHERE event_type = 'purchase'),
            r AS (SELECT user_id, event_id, ts FROM events
                  WHERE event_type = 'click')
            SELECT l.user_id, l.event_id,
                   strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
                   r.event_id AS click_id_r,
                   strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
            FROM l LEFT JOIN r
              ON l.user_id = r.user_id
                 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
        """,
        "stream_enrich": """
            SELECT e.user_id, e.event_id, c.c_name, c.c_mktsegment
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        """,
        "ann_lsh": f"""
            WITH b AS (
                SELECT vec_id, embedding,
                       {_lsh_bucket_sql('embedding', num_planes=4)} AS bucket
                FROM embeddings)
            SELECT query_vec_id, vec_id, round(c, 6) AS cosine, rank FROM (
                SELECT q.vec_id AS query_vec_id, e.vec_id,
                       {_cos('e.embedding', 'q.embedding')} AS c,
                       CAST(row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_cos('e.embedding', 'q.embedding')} DESC,
                                    e.vec_id ASC) AS INTEGER) AS rank
                FROM b e
                JOIN (SELECT * FROM b WHERE vec_id < 3) q
                  ON e.bucket = q.bucket AND e.vec_id != q.vec_id)
            WHERE rank <= 5
        """,
        "ann_lsh_multiprobe": f"""
            WITH b AS (
                SELECT vec_id, embedding,
                       {_lsh_bucket_sql('embedding', num_planes=4)} AS bucket
                FROM embeddings)
            SELECT query_vec_id, vec_id, round(c, 6) AS cosine, rank FROM (
                SELECT q.vec_id AS query_vec_id, e.vec_id,
                       {_cos('e.embedding', 'q.embedding')} AS c,
                       CAST(row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_cos('e.embedding', 'q.embedding')} DESC,
                                    e.vec_id ASC) AS INTEGER) AS rank
                FROM b e
                JOIN (SELECT * FROM b WHERE vec_id < 3) q
                  ON (e.bucket = q.bucket OR e.bucket = xor(q.bucket, 1) OR e.bucket = xor(q.bucket, 2) OR e.bucket = xor(q.bucket, 4) OR e.bucket = xor(q.bucket, 8)) AND e.vec_id != q.vec_id)
            WHERE rank <= 5
        """,
        "ann_ivf_quantized": f"""
            WITH cent AS (
                SELECT vec_id AS cid, embedding AS cvec,
                       sqrt({_dotsql('embedding', 'embedding')}) AS cnorm
                FROM embeddings WHERE vec_id < 8),
            assign AS (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {_dotsql('e.embedding', 'c.cvec')} / c.cnorm
                                    DESC, c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cent c),
            lists AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
            probed AS (
                SELECT qid, qvec, cid FROM (
                    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cid,
                           row_number() OVER (PARTITION BY q.vec_id
                               ORDER BY {_dotsql('q.embedding', 'c.cvec')} / c.cnorm
                                        DESC, c.cid ASC) AS rn
                    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 3)
                WHERE rn <= 2),
            lsc AS (SELECT vec_id, cid,
                           list_max(list_transform(embedding,
                               x -> abs(x::DOUBLE))) AS s, embedding
                    FROM lists),
            lq AS (SELECT vec_id, cid,
                          list_transform(embedding, x -> CAST(floor(
                              x::DOUBLE / (CASE WHEN s > 0 THEN s ELSE 1 END)
                              * 127 + 0.5) AS BIGINT)) AS qv
                   FROM lsc),
            psc AS (SELECT qid, cid,
                           list_max(list_transform(qvec,
                               x -> abs(x::DOUBLE))) AS s, qvec
                    FROM probed),
            pq AS (SELECT qid, cid,
                          list_transform(qvec, x -> CAST(floor(
                              x::DOUBLE / (CASE WHEN s > 0 THEN s ELSE 1 END)
                              * 127 + 0.5) AS BIGINT)) AS qq
                   FROM psc),
            cand AS (
                SELECT p.qid AS query_vec_id, l.vec_id,
                       list_sum(list_transform(range(1, 65),
                           i -> l.qv[i] * p.qq[i]))::DOUBLE
                       / (sqrt(list_sum(list_transform(range(1, 65),
                              i -> l.qv[i] * l.qv[i]))::DOUBLE)
                          * sqrt(list_sum(list_transform(range(1, 65),
                              i -> p.qq[i] * p.qq[i]))::DOUBLE)) AS qc
                FROM pq p
                JOIN lq l ON p.cid = l.cid AND l.vec_id != p.qid)
            SELECT query_vec_id, vec_id, round(qc, 6) AS qcosine, rank
            FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_vec_id
                      ORDER BY qc DESC, vec_id ASC) AS INTEGER) AS rank
                  FROM cand)
            WHERE rank <= 5
        """,
        "ann_quantized": f"""
            WITH scaled AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                           x -> abs(x::DOUBLE))) AS scale
                FROM embeddings),
            q AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(floor(
                           x::DOUBLE / (CASE WHEN scale > 0 THEN scale
                                        ELSE 1 END) * 127 + 0.5) AS BIGINT))
                           AS qv
                FROM scaled),
            cand AS (
                SELECT qr.vec_id AS query_vec_id, c.vec_id,
                       list_sum(list_transform(range(1, 65),
                           i -> qr.qv[i] * c.qv[i]))::DOUBLE
                       / (sqrt(list_sum(list_transform(range(1, 65),
                              i -> c.qv[i] * c.qv[i]))::DOUBLE)
                          * sqrt(list_sum(list_transform(range(1, 65),
                              i -> qr.qv[i] * qr.qv[i]))::DOUBLE)) AS qc
                FROM q qr JOIN q c ON c.vec_id <> qr.vec_id
                WHERE qr.vec_id < 3)
            SELECT query_vec_id, vec_id, round(qc, 6) AS qcosine, rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_vec_id
                      ORDER BY qc DESC, vec_id ASC) AS rank FROM cand)
            WHERE rank <= 5
        """,
        "layout_zorder": _zorder_sql(16),
        "win_global_rownum": """
            SELECT l_orderkey, l_linenumber,
                   row_number() OVER (ORDER BY l_orderkey, l_linenumber)
                       AS row_id
            FROM lineitem
        """,
        "path_pattern_match": """
            WITH seq AS (
                SELECT user_id, count(*) AS n_events,
                       string_agg(CASE event_type
                                  WHEN 'view' THEN 'v'
                                  WHEN 'click' THEN 'c'
                                  WHEN 'purchase' THEN 'p'
                                  WHEN 'signup' THEN 's'
                                  WHEN 'error' THEN 'e' END, ''
                                  ORDER BY ts, event_id) AS s
                FROM events GROUP BY user_id)
            SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
                   CAST(len(regexp_extract_all(s, 'vc*p')) AS BIGINT)
                       AS conversions,
                   CAST(len(regexp_extract_all(s, 'e+c')) AS BIGINT)
                       AS error_recoveries,
                   CAST(len(regexp_extract_all(s, 's[^p]*p')) AS BIGINT)
                       AS signup_conversions
            FROM seq
            ORDER BY user_id
        """,
        "path_transitions": """
            WITH steps AS (
                SELECT user_id,
                       lag(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_type,
                       event_type AS next_type
                FROM events),
            counts AS (
                SELECT prev_type, next_type, count(*) AS n
                FROM steps WHERE prev_type IS NOT NULL
                GROUP BY prev_type, next_type)
            SELECT prev_type, next_type, n,
                   round(n / sum(n) OVER (PARTITION BY prev_type), 6)
                       AS share
            FROM counts
        """,
        "mm_phash_dedup": """
            WITH h AS (
                SELECT doc_id AS media_id,
                       CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
                           AS ph
                FROM documents),
            b AS (
                SELECT media_id, ph, i AS band,
                       (ph >> (i * 15)) & 32767 AS bv
                FROM h, UNNEST([0, 1, 2, 3]) AS t(i)),
            cand AS (
                SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b,
                       a.ph AS pa, c.ph AS pb
                FROM b a JOIN b c
                  ON a.band = c.band AND a.bv = c.bv
                     AND a.media_id < c.media_id)
            SELECT id_a, id_b,
                   CAST(bit_count(xor(pa, pb)) AS INT) AS distance
            FROM cand WHERE bit_count(xor(pa, pb)) <= 3
        """,
        "agg_regression": """
            SELECT event_type,
                   round(regr_slope(value, x), 6) AS slope,
                   round(regr_intercept(value, x), 6) AS intercept,
                   round(regr_r2(value, x), 6) AS r2,
                   regr_count(value, x) AS n_points
            FROM (SELECT event_type, value,
                         (epoch_us(ts) / 1e6 - 1704067200.0) / 86400.0 AS x
                  FROM events)
            GROUP BY event_type
        """,
        "join_interval_overlap": """
            WITH l AS (
                SELECT user_id, event_id AS l_id, ts AS ls,
                       ts + INTERVAL 30 MINUTE AS le
                FROM events WHERE event_id % 23 = 0),
            r AS (
                SELECT user_id, event_id AS r_id, ts AS rs,
                       ts + INTERVAL 45 MINUTE AS re
                FROM events WHERE event_id % 29 = 0)
            SELECT l.user_id, l_id, r_id,
                   strftime(ls, '%Y-%m-%d %H:%M:%S') AS l_start,
                   strftime(le, '%Y-%m-%d %H:%M:%S') AS l_end,
                   strftime(rs, '%Y-%m-%d %H:%M:%S') AS r_start,
                   strftime(re, '%Y-%m-%d %H:%M:%S') AS r_end
            FROM l JOIN r
              ON l.user_id = r.user_id AND ls < re AND rs < le
                 AND ls < le AND rs < re
        """,
        "graph_triangles": f"""
            WITH {_TOKS_CTE}, {_GRAMS3_CTE},
            rare AS (SELECT shingle FROM grams
                     GROUP BY shingle HAVING count(*) <= 50),
            g2 AS (SELECT g.doc_id, g.shingle FROM grams g
                   JOIN rare r ON g.shingle = r.shingle),
            sizes AS (SELECT doc_id, count(*) AS set_size
                      FROM g2 GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS n_common
                FROM g2 a JOIN g2 b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
            pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON inter.id_a = sa.doc_id
                JOIN sizes sb ON inter.id_b = sb.doc_id
                WHERE n_common / (sa.set_size + sb.set_size - n_common)
                      >= 0.2)
            SELECT e1.id_a AS t1, e1.id_b AS t2, e2.id_b AS t3
            FROM pairs e1
            JOIN pairs e2 ON e1.id_b = e2.id_a
            JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
        """,
        "graph_clustering_coeff": f"""
            -- naive triangle join (orientation-independent set) +
            -- per-node fold; degree from the distinct edge set
            WITH {_TOKS_CTE}, {_GRAMS3_CTE},
            rare AS (SELECT shingle FROM grams
                     GROUP BY shingle HAVING count(*) <= 50),
            g2 AS (SELECT g.doc_id, g.shingle FROM grams g
                   JOIN rare r ON g.shingle = r.shingle),
            sizes AS (SELECT doc_id, count(*) AS set_size
                      FROM g2 GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS n_common
                FROM g2 a JOIN g2 b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
            pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON inter.id_a = sa.doc_id
                JOIN sizes sb ON inter.id_b = sb.doc_id
                WHERE n_common / (sa.set_size + sb.set_size - n_common)
                      >= 0.2),
            deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS degree
                FROM (SELECT id_a AS node FROM pairs
                      UNION ALL SELECT id_b FROM pairs)
                GROUP BY node),
            tri AS (
                SELECT e1.id_a AS t1, e1.id_b AS t2, e2.id_b AS t3
                FROM pairs e1
                JOIN pairs e2 ON e1.id_b = e2.id_a
                JOIN pairs e3 ON e3.id_a = e1.id_a
                              AND e3.id_b = e2.id_b),
            tn AS (
                SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                FROM (SELECT t1 AS node FROM tri
                      UNION ALL SELECT t2 FROM tri
                      UNION ALL SELECT t3 FROM tri)
                GROUP BY node)
            SELECT deg.node, degree,
                   coalesce(n_triangles, 0) AS n_triangles,
                   round(CASE WHEN degree > 1
                         THEN 2.0 * coalesce(n_triangles, 0)
                              / (degree * (degree - 1.0)) END
                         + 1e-9, 6) + 0.0 AS clustering_coeff
            FROM deg LEFT JOIN tn ON deg.node = tn.node
            ORDER BY deg.node
        """,
        "dedup_cluster_histogram": f"""
            WITH RECURSIVE b AS (
                SELECT vec_id, embedding,
                       {_lsh_bucket_sql('embedding', num_planes=4)} AS bucket
                FROM embeddings),
            p AS (
                SELECT id_a AS s, id_b AS d FROM (
                    SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                           {_cos('a.embedding', 'b2.embedding')} AS c
                    FROM b a JOIN b b2
                      ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
                WHERE c >= 0.45),
            sym AS (SELECT s, d FROM p UNION SELECT d AS s, s AS d FROM p),
            reach AS (
                SELECT DISTINCT s AS node, s AS m FROM sym
                UNION
                SELECT r.node, sym.d AS m
                FROM reach r JOIN sym ON r.m = sym.s
            ),
            cl AS (
                SELECT e.vec_id,
                       coalesce(mm.comp, e.vec_id) AS cluster
                FROM embeddings e
                LEFT JOIN (SELECT node, min(m) AS comp
                           FROM reach GROUP BY node) mm
                  ON mm.node = e.vec_id),
            sz AS (SELECT cluster, count(*) AS s FROM cl GROUP BY cluster)
            SELECT CAST(s AS BIGINT) AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(s * count(*) AS BIGINT) AS n_rows
            FROM sz GROUP BY s ORDER BY cluster_size
        """,
        "sample_split_grouped": f"""
            WITH RECURSIVE {_TOKS_CTE}, {_GRAMS3_CTE},
            rare AS (SELECT shingle FROM grams
                     GROUP BY shingle HAVING count(*) <= 50),
            g2 AS (SELECT g.doc_id, g.shingle FROM grams g
                   JOIN rare r ON g.shingle = r.shingle),
            sizes AS (SELECT doc_id, count(*) AS set_size
                      FROM g2 GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS n_common
                FROM g2 a JOIN g2 b ON a.shingle = b.shingle
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
            pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON inter.id_a = sa.doc_id
                JOIN sizes sb ON inter.id_b = sb.doc_id
                WHERE n_common / (sa.set_size + sb.set_size - n_common)
                      >= 0.2),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs),
            reach AS (
                SELECT doc_id AS node, doc_id AS label FROM documents
                UNION
                SELECT e.src AS node, r.label
                FROM reach r JOIN edges e ON e.dst = r.node),
            clusters AS (
                SELECT node AS doc_id, min(label) AS cluster
                FROM reach GROUP BY node)
            SELECT doc_id, cluster,
                   CASE WHEN {_h64("concat('splitg', '|', CAST(cluster AS VARCHAR))")}
                             % 10000 < 8000 THEN 'train'
                        WHEN {_h64("concat('splitg', '|', CAST(cluster AS VARCHAR))")}
                             % 10000 < 9000 THEN 'valid'
                        ELSE 'test' END AS split
            FROM clusters
        """,
        "link_records": """
            WITH keyed AS (
                SELECT c_custkey AS id, c_name AS name,
                       substring(c_name, 1, length(c_name) - 2) AS block
                FROM customer),
            sized AS (
                SELECT k.* FROM keyed k
                JOIN (SELECT block FROM keyed GROUP BY block
                      HAVING count(*) <= 1000) ok USING (block))
            SELECT a.id AS id_a, b.id AS id_b,
                   a.name AS name_a, b.name AS name_b,
                   levenshtein(a.name, b.name) AS distance
            FROM sized a JOIN sized b
              ON a.block = b.block AND a.id < b.id
            WHERE levenshtein(a.name, b.name) <= 2
        """,
        "text_quality_score": f"""
            WITH {_TOKS_CTE}
            SELECT doc_id,
                   CAST(len(t) AS INT) AS n_tokens,
                   round(1.0 / (1.0 + exp(-(
                       list_reduce(
                           list_prepend(0.0::DOUBLE, list_transform(t, tok ->
                               (({_h64("concat('qweight', '|', CAST(" + _h64("concat('qfeat', '|', tok)") + " % 1024 AS VARCHAR))")} % 2001) - 1000) / 1000.0)),
                           (acc, x) -> acc + x)
                       / greatest(len(t), 1)))), 6) AS quality_score
            FROM toks
        """,
        "sample_temperature": f"""
            WITH c AS (SELECT source, count(*) AS n
                       FROM documents GROUP BY source),
            m AS (SELECT min(n) AS nmin FROM c),
            r AS (SELECT source, round(pow(n / nmin, -0.5), 6) AS rate
                  FROM c, m)
            SELECT d.doc_id, d.source, d.lang
            FROM documents d JOIN r USING (source)
            WHERE {_h64("concat('mix', '|', CAST(d.doc_id AS VARCHAR))")}
                      % 10000
                  < CAST(round(r.rate * 10000, 0) AS BIGINT)
        """,
        "ts_anomaly": """
            WITH w AS (
                SELECT user_id, ts, event_id, value,
                       avg(value) OVER fr AS m,
                       stddev_samp(value) OVER fr AS sd,
                       count(value) OVER fr AS n
                FROM events
                WINDOW fr AS (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
            SELECT user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   event_id, value,
                   round(m, 6) AS baseline_mean,
                   n AS baseline_n,
                   round((value - m) / sd, 6) AS zscore
            FROM w
            WHERE n >= 5 AND sd > 0
              AND abs(round((value - m) / sd, 6)) > 3.0
        """,
        "ts_anomaly_chunked": """
            WITH w AS (
                SELECT user_id, ts, value,
                       avg(value) OVER fr AS m,
                       stddev_samp(value) OVER fr AS sd,
                       count(value) OVER fr AS n
                FROM events
                WINDOW fr AS (PARTITION BY user_id
                              ORDER BY epoch_us(ts)
                              RANGE BETWEEN 3600000000 PRECEDING
                                        AND 1 PRECEDING))
            SELECT user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   value,
                   round(m, 6) AS baseline_mean,
                   n AS baseline_n,
                   round((value - m) / sd, 6) AS zscore
            FROM w
            WHERE n >= 5 AND sd > 0
              AND abs(round((value - m) / sd, 6)) > 3.0
        """,
        "ts_interpolate": """
            WITH b AS (
                SELECT user_id,
                       CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600
                           AS bucket_start,
                       ts, value
                FROM events WHERE event_id % 7 = 0),
            pb AS (
                SELECT user_id, bucket_start, value AS observed
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY user_id, bucket_start
                          ORDER BY ts DESC, value DESC) AS rn FROM b)
                WHERE rn = 1),
            bounds AS (
                SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
                FROM b GROUP BY user_id),
            grid AS (
                SELECT user_id, unnest(range(lo, hi + 3600, 3600))
                    AS bucket_start
                FROM bounds),
            j AS (
                SELECT g.user_id, g.bucket_start, pb.observed
                FROM grid g LEFT JOIN pb
                  ON g.user_id = pb.user_id
                 AND g.bucket_start = pb.bucket_start),
            n AS (
                SELECT user_id, bucket_start, observed,
                       last_value(observed IGNORE NULLS) OVER tr AS prev_v,
                       last_value(CASE WHEN observed IS NOT NULL
                                       THEN bucket_start END IGNORE NULLS)
                           OVER tr AS prev_b,
                       first_value(observed IGNORE NULLS) OVER ld AS next_v,
                       first_value(CASE WHEN observed IS NOT NULL
                                        THEN bucket_start END IGNORE NULLS)
                           OVER ld AS next_b
                FROM j
                WINDOW tr AS (PARTITION BY user_id ORDER BY bucket_start
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW),
                       ld AS (PARTITION BY user_id ORDER BY bucket_start
                              ROWS BETWEEN CURRENT ROW
                                       AND UNBOUNDED FOLLOWING))
            SELECT user_id, bucket_start,
                   round((CASE WHEN observed IS NOT NULL THEN observed
                               WHEN prev_v IS NULL THEN next_v
                               WHEN next_v IS NULL THEN prev_v
                               ELSE prev_v + (next_v - prev_v)
                                    * (bucket_start - prev_b)
                                    / (next_b - prev_b) END) + 1e-9,
                         6) + 0.0 AS value,
                   observed IS NULL AS filled
            FROM n
        """,
        "ts_resample": """
            WITH b AS (
                SELECT user_id,
                       CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600
                           AS bucket_start,
                       ts, value
                FROM events),
            pb AS (
                SELECT user_id, bucket_start, value AS observed
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY user_id, bucket_start
                          ORDER BY ts DESC, value DESC) AS rn FROM b)
                WHERE rn = 1),
            bounds AS (
                SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
                FROM b GROUP BY user_id),
            grid AS (
                SELECT user_id, unnest(range(lo, hi + 3600, 3600))
                    AS bucket_start
                FROM bounds),
            j AS (
                SELECT g.user_id, g.bucket_start, pb.observed
                FROM grid g LEFT JOIN pb
                  ON g.user_id = pb.user_id
                 AND g.bucket_start = pb.bucket_start)
            SELECT user_id, bucket_start,
                   round(last_value(observed IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                       AS value,
                   observed IS NULL AS filled
            FROM j
        """,
        "win_ntile": """
            SELECT event_id, event_type,
                   CAST(ntile(10) OVER (PARTITION BY event_type
                       ORDER BY value, event_id) AS INT) AS decile
            FROM events
        """,
        "agg_cube": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
                       AS gid,
                   round(sum(l_quantity), 2) AS sum_qty,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "join_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l.l_shipdate) AS INT) AS l_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                       AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "join_product_profit": """
            SELECT n.n_name AS nation,
                   CAST(year(o.o_orderdate) AS INT) AS o_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)
                             - 0.6 * p.p_retailprice * l.l_quantity), 2)
                       AS sum_profit
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE p.p_name LIKE '%widget%'
            GROUP BY nation, o_year
        """,
        "agg_important_stock": """
            WITH per_part AS (
                SELECT l.l_partkey,
                       sum(l.l_extendedprice * (1 - l.l_discount)) AS value
                FROM lineitem l
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN nation n ON s.s_nationkey = n.n_nationkey
                WHERE n.n_name = 'NATION_3'
                GROUP BY l.l_partkey)
            SELECT l_partkey, round(value, 2) AS part_value
            FROM per_part
            WHERE value > (SELECT sum(value) * 0.001 FROM per_part)
        """,
        "join_late_shipments": """
            SELECT l.l_linestatus,
                   CAST(sum(CASE WHEN o.o_orderpriority IN
                                      ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(sum(CASE WHEN o.o_orderpriority IN
                                      ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE year(l.l_shipdate) = 1997
              AND date_diff('day', o.o_orderdate, l.l_shipdate) > 90
            GROUP BY l.l_linestatus
        """,
        "join_top_supplier": """
            WITH revenue AS (
                SELECT l_suppkey,
                       sum(l_extendedprice * (1 - l_discount)) AS total
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-07-01'
                GROUP BY l_suppkey)
            SELECT s.s_suppkey, s.s_name, round(r.total, 2) AS total_revenue
            FROM revenue r
            JOIN supplier s ON r.l_suppkey = s.s_suppkey
            WHERE r.total = (SELECT max(total) FROM revenue)
        """,
        "agg_supplier_variety": """
            SELECT p.p_brand, p.p_type, p.p_size,
                   CAST(count(DISTINCT l.l_suppkey) AS BIGINT)
                       AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand <> 'Brand#1'
              AND p.p_type <> 'PROMO'
              AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 36, 45, 50)
              AND l.l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p.p_brand, p.p_type, p.p_size
        """,
        "join_part_promotion": """
            WITH per_pair AS (
                SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
                FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                WHERE year(l.l_shipdate) = 1997 AND p.p_type = 'SMALL'
                GROUP BY l.l_partkey, l.l_suppkey),
            qualifying AS (
                SELECT l_suppkey
                FROM (SELECT l_suppkey, qty,
                             sum(qty) OVER (PARTITION BY l_partkey)
                                 AS part_total
                      FROM per_pair)
                WHERE qty > 0.3 * part_total)
            SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
            FROM qualifying q
            JOIN supplier s ON q.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
        """,
        "join_waiting_suppliers": """
            WITH pairs AS (
                SELECT l.l_orderkey, l.l_suppkey,
                       max(CASE WHEN date_diff('day', o.o_orderdate,
                                               l.l_shipdate) > 60
                                THEN 1 ELSE 0 END) AS is_late
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE o.o_orderstatus = 'F'
                GROUP BY l.l_orderkey, l.l_suppkey),
            flagged AS (
                SELECT l_suppkey, is_late,
                       count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
                       sum(is_late) OVER (PARTITION BY l_orderkey) AS n_late
                FROM pairs)
            SELECT s.s_suppkey, s.s_name,
                   CAST(count(*) AS BIGINT) AS numwait
            FROM flagged f
            JOIN supplier s ON f.l_suppkey = s.s_suppkey
            WHERE f.is_late = 1 AND f.n_supp >= 2 AND f.n_late = 1
            GROUP BY s.s_suppkey, s.s_name
        """,
        "join_market_share": """
            SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                   round(
                       sum(CASE WHEN n1.n_name = 'NATION_1'
                                THEN l.l_extendedprice * (1 - l.l_discount)
                                ELSE 0.0 END)
                       / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
                       AS mkt_share
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'SMALL'
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            JOIN region r ON n2.n_regionkey = r.r_regionkey
                         AND r.r_name = 'EUROPE'
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            GROUP BY o_year
        """,
        "join_returned_items": """
            SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                       AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
            GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
            ORDER BY revenue DESC, c.c_custkey ASC
            LIMIT 20
        """,
        "agg_promo_revenue": """
            SELECT round(
                       100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                   THEN l.l_extendedprice * (1 - l.l_discount)
                                   ELSE 0.0 END)
                       / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS promo_share
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1997-01-01'
        """,
        "agg_small_qty_revenue": """
            WITH brand_li AS (
                SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
                FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                           AND p.p_brand = 'Brand#1'
            ),
            thresh AS (
                SELECT l_partkey AS t_partkey,
                       0.2 * avg(l_quantity) AS qty_thresh
                FROM brand_li GROUP BY l_partkey
            )
            SELECT round(sum(b.l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM brand_li b
            JOIN thresh t ON b.l_partkey = t.t_partkey
            WHERE b.l_quantity < t.qty_thresh
        """,
        "agg_disjunctive": """
            SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                       AS revenue
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
                   AND l.l_quantity BETWEEN 1 AND 20)
               OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20
                   AND l.l_quantity BETWEEN 10 AND 30)
               OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 30
                   AND l.l_quantity BETWEEN 20 AND 40)
        """,
        "agg_sales_opportunity": """
            SELECT c.c_nationkey,
                   CAST(count(*) AS BIGINT) AS numcust,
                   round(sum(c.c_acctbal), 2) AS totacctbal
            FROM customer c
            WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                 WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c.c_nationkey
        """,
        "win_rank_dist": """
            SELECT event_id, event_type,
                   round(percent_rank() OVER (PARTITION BY event_type
                       ORDER BY value, event_id), 9) AS pct_rank,
                   round(cume_dist() OVER (PARTITION BY event_type
                       ORDER BY value, event_id), 9) AS cdist
            FROM events
        """,
        "agg_stats_moments": """
            SELECT l_returnflag,
                   round(stddev_samp(l_quantity), 6) AS sd_qty,
                   round(stddev_samp(l_extendedprice), 6) AS sd_price,
                   round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
                   round(covar_samp(l_extendedprice, l_quantity), 4)
                       AS cov_pq
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "agg_median": """
            SELECT o_orderpriority,
                   round(median(o_totalprice), 4) AS median_price
            FROM orders
            GROUP BY o_orderpriority
        """,
        "text_levenshtein": """
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(substr(a.text, 1, 40),
                                    substr(b.text, 1, 40)) AS INT)
                       AS edit_dist
            FROM documents a
            JOIN documents b ON b.doc_id = a.doc_id + 1
        """,
        "transform_dates": """
            SELECT o_orderkey,
                   strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                       AS month_start,
                   CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
                   CAST(datediff('day', o_orderdate, TIMESTAMP '2001-12-31')
                       AS INT) AS days_to_eoy,
                   strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
                       AS month_end
            FROM orders
        """,
        "win_session_native": """
            WITH g AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w)
                                    >= 1800
                            THEN 1 ELSE 0 END AS ns
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (
                SELECT user_id, ts, value,
                       sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
                FROM g)
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts) + INTERVAL 30 MINUTE,
                            '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 6) AS total_value
            FROM s GROUP BY user_id, sid
        """,
        "sql_grouping_sets": _SQL_GROUPING_SETS_QUERY,
        "transform_arrays": r"""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\s+') AS toks
                FROM documents)
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS n_tokens,
                   CAST(len(list_distinct(toks)) AS INT) AS n_unique,
                   list_sort(list_distinct(toks))[1] AS first_token,
                   toks[-1] AS last_token
            FROM t
        """,
        "transform_regexp": r"""
            SELECT p_partkey,
                   regexp_extract(p_name, '(\d+)', 1) AS first_num,
                   CAST(len(string_split_regex(p_name, '[aeiou]')) AS INT)
                       AS vowel_splits,
                   regexp_replace(p_name, '\s+', '_', 'g') AS snake_name
            FROM part
        """,
        "agg_string_concat": """
            SELECT s_nationkey,
                   string_agg(DISTINCT s_name, ',' ORDER BY s_name)
                       AS supp_names,
                   CAST(count(*) AS BIGINT) AS n_supp
            FROM supplier
            GROUP BY s_nationkey
        """,
        "win_frame_edges": """
            SELECT event_id, user_id,
                   first_value(value) OVER w AS first_val,
                   last_value(value) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING) AS last_val
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "transform_hof": r"""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\s+') AS toks
                FROM documents)
            SELECT doc_id,
                   CAST(len(list_filter(toks, t -> len(t) > 3)) AS INT)
                       AS n_long_tokens,
                   len(list_filter(toks, t -> t = 'the')) > 0 AS has_the,
                   CAST(list_sum(list_transform(toks, t -> len(t)))
                       AS INT) AS total_chars
            FROM t
        """,
        "set_union_distinct": """
            SELECT c_nationkey AS nationkey FROM customer
            WHERE c_acctbal > 5000
            UNION
            SELECT s_nationkey AS nationkey FROM supplier
            WHERE s_acctbal > 5000
        """,
        "text_chunks": f"""
            WITH {_TOKS_CTE},
            d AS (SELECT doc_id, t, len(t) AS n FROM toks
                  WHERE len(t) > 0),
            s AS (SELECT doc_id, t, n,
                         unnest(range(0, n, 48)) AS start
                  FROM d)
            SELECT doc_id,
                   CAST(start // 48 AS INT) AS chunk_index,
                   array_to_string(t[start+1:start+64], ' ') AS chunk_text,
                   CAST(least(64, n - start) AS INT) AS chunk_tokens
            FROM s
        """,
        "emb_centroids": """
            SELECT e.vec_id % 10 AS grp,
                   CAST(g.gs AS INT) AS dim,
                   round(avg(e.embedding[g.gs]), 6) AS centroid
            FROM embeddings e
            CROSS JOIN (SELECT unnest(range(1, 65)) AS gs) g
            GROUP BY grp, dim
        """,
        "dedup_spans": r"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM documents),
            spans AS (
                SELECT doc_id, i AS pos,
                       array_to_string(t[i*10+1 : i*10+10], ' ') AS span
                FROM toks, UNNEST(range(0, CAST(ceil(len(t)/10.0) AS BIGINT)))
                     AS u(i)),
            counts AS (
                SELECT span, count(DISTINCT doc_id) AS nd
                FROM spans GROUP BY span),
            kept AS (
                SELECT s.doc_id, s.pos, s.span
                FROM spans s JOIN counts c ON s.span = c.span
                WHERE c.nd <= 1)
            SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS text,
                   CAST(count(*) AS BIGINT) AS n_spans_kept
            FROM kept GROUP BY doc_id
        """,
        "dedup_cross_spans": f"""
            WITH {_TOKS_CTE},
            sh AS (
                SELECT doc_id, u.p AS pos,
                       {_h64("array_to_string(t[u.p + 1 : u.p + 8], ' ')")}
                           AS sh
                FROM toks, UNNEST(CASE WHEN len(t) >= 8
                                  THEN range(0, len(t) - 8 + 1)
                                  ELSE []::BIGINT[] END) AS u(p)),
            win AS (SELECT sh, min(doc_id) AS winner,
                           count(DISTINCT doc_id) AS nd
                    FROM sh GROUP BY sh),
            red AS (SELECT s.doc_id, s.pos
                    FROM sh s JOIN win w ON s.sh = w.sh
                    WHERE w.nd >= 2 AND s.doc_id <> w.winner),
            g AS (SELECT doc_id, pos,
                         CASE WHEN lag(pos) OVER w IS NULL
                                   OR pos - lag(pos) OVER w > 8
                              THEN 1 ELSE 0 END AS brk
                  FROM red
                  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            isl AS (SELECT doc_id, pos,
                           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                          ROWS UNBOUNDED PRECEDING)
                               AS island
                    FROM g)
            SELECT doc_id,
                   CAST(min(pos) AS INT) AS span_start,
                   CAST(max(pos) + 7 AS INT) AS span_end,
                   CAST(max(pos) + 7 - min(pos) + 1 AS INT)
                       AS n_tokens_removed
            FROM isl GROUP BY doc_id, island
        """,
        "dedup_cross_spans_rewrite": f"""
            WITH {_TOKS_CTE},
            sh AS (
                SELECT doc_id, u.p AS pos,
                       {_h64("array_to_string(t[u.p + 1 : u.p + 8], ' ')")}
                           AS sh
                FROM toks, UNNEST(CASE WHEN len(t) >= 8
                                  THEN range(0, len(t) - 8 + 1)
                                  ELSE []::BIGINT[] END) AS u(p)),
            win AS (SELECT sh, min(doc_id) AS winner,
                           count(DISTINCT doc_id) AS nd
                    FROM sh GROUP BY sh),
            red AS (SELECT s.doc_id, s.pos
                    FROM sh s JOIN win w ON s.sh = w.sh
                    WHERE w.nd >= 2 AND s.doc_id <> w.winner),
            g AS (SELECT doc_id, pos,
                         CASE WHEN lag(pos) OVER w IS NULL
                                   OR pos - lag(pos) OVER w > 8
                              THEN 1 ELSE 0 END AS brk
                  FROM red
                  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            isl AS (SELECT doc_id, pos,
                           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                          ROWS UNBOUNDED PRECEDING)
                               AS island
                    FROM g),
            spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
                      FROM isl GROUP BY doc_id, island),
            tok AS (SELECT doc_id, u.i - 1 AS pos, t[u.i] AS tk
                    FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
            kept AS (
                SELECT k.doc_id,
                       string_agg(k.tk, ' ' ORDER BY k.pos) AS text
                FROM tok k
                WHERE NOT EXISTS (SELECT 1 FROM spans s
                                  WHERE s.doc_id = k.doc_id
                                    AND k.pos BETWEEN s.s AND s.e)
                GROUP BY k.doc_id),
            removed AS (
                SELECT doc_id, CAST(sum(e - s + 1) AS INT) AS n
                FROM spans GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(k.text, '') AS text,
                   coalesce(r.n, 0) AS n_tokens_removed,
                   d.lang, d.source, d.n_chars
            FROM documents d
            LEFT JOIN kept k ON d.doc_id = k.doc_id
            LEFT JOIN removed r ON d.doc_id = r.doc_id
        """,
        "merge_upsert": """
            WITH target AS (
                SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
                       c_mktsegment
                FROM customer),
            upd AS (
                SELECT c_custkey, c_name, round(-c_acctbal, 2) AS c_acctbal,
                       'RECOVERED' AS c_mktsegment,
                       c_mktsegment = 'BUILDING' AS is_deleted
                FROM customer WHERE c_acctbal < 0
                UNION ALL
                SELECT c_custkey + 1000000, 'NEW#' || c_name, 0.0, 'STARTUP',
                       FALSE
                FROM customer WHERE c_custkey < 500),
            j AS (
                SELECT coalesce(t.c_custkey, u.c_custkey) AS c_custkey,
                       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name
                            ELSE t.c_name END AS c_name,
                       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                            ELSE t.c_acctbal END AS c_acctbal,
                       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
                            ELSE t.c_mktsegment END AS c_mktsegment,
                       CASE WHEN u.c_custkey IS NOT NULL
                                 AND t.c_custkey IS NOT NULL THEN 'update'
                            WHEN u.c_custkey IS NOT NULL THEN 'insert'
                            ELSE 'keep' END AS merge_op,
                       coalesce(u.is_deleted, FALSE) AS del
                FROM target t FULL OUTER JOIN upd u
                  ON t.c_custkey = u.c_custkey)
            SELECT c_custkey, c_name, c_acctbal, c_mktsegment, merge_op
            FROM j WHERE NOT del
        """,
        "skew_hitters": """
            WITH g AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
                FROM events GROUP BY user_id),
            r AS (
                SELECT user_id, n_rows,
                       CAST(row_number() OVER (
                           ORDER BY n_rows DESC, user_id ASC) AS INT) AS rank
                FROM g)
            SELECT user_id, n_rows,
                   round(n_rows / (SELECT count(*)::DOUBLE FROM events), 6)
                       AS share,
                   rank
            FROM r WHERE rank <= 10
        """,
        "a9_profile": """
            WITH n AS (SELECT count(*) AS n_rows FROM customer)
            SELECT * FROM (
              SELECT 'c_custkey' AS "column", 'bigint' AS data_type,
                     (SELECT n_rows FROM n) AS n_rows,
                     CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                     round(1.0 - sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) / count(*), 6) AS completeness,
                     CAST(min(c_custkey) AS VARCHAR) AS min_value,
                     CAST(max(c_custkey) AS VARCHAR) AS max_value,
                     round(avg(c_custkey), 6) AS mean_value
              FROM customer
              UNION ALL
              SELECT 'c_name', 'string', (SELECT n_rows FROM n),
                     CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     round(1.0 - sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) / count(*), 6),
                     CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR),
                     CAST(NULL AS DOUBLE)
              FROM customer
              UNION ALL
              SELECT 'c_acctbal', 'double', (SELECT n_rows FROM n),
                     CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     round(1.0 - sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) / count(*), 6),
                     CAST(min(c_acctbal) AS VARCHAR), CAST(max(c_acctbal) AS VARCHAR),
                     round(avg(c_acctbal), 6)
              FROM customer
              UNION ALL
              SELECT 'c_mktsegment', 'string', (SELECT n_rows FROM n),
                     CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     round(1.0 - sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) / count(*), 6),
                     CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR),
                     CAST(NULL AS DOUBLE)
              FROM customer
            )
        """,
        "stream_topk_matview": """
            WITH g AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
                FROM events GROUP BY user_id)
            SELECT user_id, n_rows
            FROM (SELECT user_id, n_rows,
                         row_number() OVER (
                             ORDER BY n_rows DESC, user_id ASC) AS rn
                  FROM g)
            WHERE rn <= 10
        """,
        "skew_hitters_sketch": """
            WITH g AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
                FROM events GROUP BY user_id),
            r AS (
                SELECT user_id, n_rows,
                       CAST(row_number() OVER (
                           ORDER BY n_rows DESC, user_id ASC) AS INT) AS rank
                FROM g)
            SELECT user_id, n_rows,
                   round(n_rows / (SELECT count(*)::DOUBLE FROM events), 6)
                       AS share,
                   rank
            FROM r WHERE rank <= 10
        """,
    }


# ---------------------------------------------------------------------------
# Python oracles for the two queries whose semantics are iterative and
# therefore not SQL-expressible (data-dependent argmax / gradient feedback
# per step).  Each is a fully Spark-independent reimplementation: DuckDB
# supplies the input rows (and, for quality_train, the SAME feature SQL the
# hash-verified quality-gate oracles already use), pure Python runs the
# training loop.  tools/check_correctness.py hash-compares these exactly
# like SQL oracles, retiring the last two rows-only entries (VERDICT r10
# task 5).  The round driver itself only consumes oracle_sql(), so its
# capture remains rows-only for these two by declaration.
# ---------------------------------------------------------------------------


def _py_oracle_bpe_train(con, sf_dir: str):
    """Independent dict-of-words BPE trainer (the tests/test_bpe.py
    reference algorithm, fed from DuckDB): 12 merges, min pair weight 2,
    tie rule weight desc then (left, right) asc — must reproduce
    ops/bpe.py:train_bpe exactly, including early stop."""
    import re
    from collections import Counter

    eow = "</w>"
    texts = [
        r[0] for r in con.execute("SELECT text FROM documents").fetchall()
    ]
    vocab: Counter = Counter()
    for t in texts:
        vocab.update(
            tok
            for tok in re.split(r"[^a-z0-9']+", (t or "").lower())
            if tok
        )
    words = {w: tuple(w) + (eow,) for w in vocab}
    rows = []
    for it in range(12):
        pair_w: Counter = Counter()
        for w, syms in words.items():
            c = vocab[w]
            for a, b in zip(syms, syms[1:]):
                pair_w[(a, b)] += c
        if not pair_w:
            break
        (l, r), wgt = min(
            pair_w.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if wgt < 2:
            break
        rows.append((it, l, r, l + r, wgt))
        merged = l + r
        for w, syms in words.items():
            out, i = [], 0
            n = len(syms)
            while i < n:
                if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = tuple(out)
    return ["iteration", "left", "right", "merged", "weight"], rows


def _py_oracle_unigram_train(con, sf_dir: str):
    """Independent Viterbi-EM unigram trainer (the tests/test_unigram.py
    reference algorithm, fed from DuckDB): vocab_size 120, piece length
    <= 4, 2 EM rounds, min_count 2, seed_cap 8*vocab — must reproduce
    ops/unigram.py:train_unigram bit-exactly, including the split-point-
    ascending strict-improvement Viterbi tie rule, the single-char
    effective-count floor, and the log(eff)-log(total) form."""
    import math as _m
    import re
    from collections import Counter

    vocab_size, max_len, n_iters, min_count = 120, 4, 2, 2
    seed_cap = 8 * vocab_size
    texts = [
        r[0] for r in con.execute("SELECT text FROM documents").fetchall()
    ]
    words: Counter = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9']+", (t or "").lower()):
            if w:
                words[w] += 1
    seed: Counter = Counter()
    for w, c in words.items():
        for i in range(len(w)):
            for ln in range(1, min(max_len, len(w) - i) + 1):
                seed[w[i : i + ln]] += c
    chars = {p for p in seed if len(p) == 1}
    vocab = {p: seed[p] for p in chars}
    vocab.update(
        dict(
            sorted(
                (
                    (p, n)
                    for p, n in seed.items()
                    if len(p) > 1 and n >= min_count
                ),
                key=lambda x: (-x[1], x[0]),
            )[:seed_cap]
        )
    )

    def logprobs(v):
        eff = {
            p: (max(c, 1) if len(p) == 1 else c) for p, c in v.items()
        }
        lt = _m.log(sum(eff.values()))
        return {p: _m.log(e) - lt for p, e in eff.items()}

    def viterbi(word, lp):
        n = len(word)
        score = {0: 0.0}
        prev = {}
        for i in range(1, n + 1):
            for ln in range(min(max_len, i), 0, -1):
                j = i - ln
                if j not in score:
                    continue
                p = lp.get(word[j:i])
                if p is None:
                    continue
                s = score[j] + p
                if i not in score or s > score[i]:
                    score[i] = s
                    prev[i] = j
        if n not in score:
            return list(word)
        out = []
        i = n
        while i:
            j = prev[i]
            out.append(word[j:i])
            i = j
        return out[::-1]

    for it in range(n_iters):
        lp = logprobs(vocab)
        counts: Counter = Counter()
        for w, c in words.items():
            for p in viterbi(w, lp):
                counts[p] += c
        target = (
            vocab_size
            if it == n_iters - 1
            else max(vocab_size, int(_m.ceil(len(vocab) * 0.75)))
        )
        keep = sorted(
            (
                (p, n)
                for p, n in counts.items()
                if len(p) > 1 and n > 0
            ),
            key=lambda x: (-x[1], x[0]),
        )[: max(0, target - len(chars))]
        vocab = {p: counts.get(p, 0) for p in chars}
        vocab.update(dict(keep))
    lp = logprobs(vocab)
    rows = sorted(
        ((p, c, round(lp[p], 8)) for p, c in vocab.items()),
        key=lambda x: (-x[1], x[0]),
    )
    return ["piece", "count", "logprob"], rows


def _py_oracle_quality_train(con, sf_dir: str):
    """Independent full-batch logistic-regression trainer: features and
    labels come from the SAME DuckDB feature SQL the hash-verified
    quality-gate oracles use (_QUALITY_VERDICT_CTES), the gradient loop
    is sequential pure Python replicating ops/classifier.py's update
    rule (standardize, 15 iterations, lr 0.8, raw-space conversion).
    Float sums differ from Spark's partition-order combine only in last
    ulps; the 8-decimal coefficient rounding absorbs that."""
    import math as _m

    feat_sql = f"""
        WITH {_QUALITY_VERDICT_CTES}
        SELECT f.n_tokens::DOUBLE AS n_tokens, f.punct_ratio,
               f.digit_ratio, f.mean_word_len, f.stopword_ratio,
               CASE WHEN v.fail_reason IS NULL THEN 1.0 ELSE 0.0 END
                   AS label
        FROM feat f JOIN verdict v USING (doc_id)
    """
    data = [
        tuple(float(v) for v in row)
        for row in con.execute(feat_sql).fetchall()
    ]
    cols = ["n_tokens", "punct_ratio", "digit_ratio", "mean_word_len",
            "stopword_ratio"]
    k = len(cols)
    n = len(data)
    xs = [row[:k] for row in data]
    ys = [row[k] for row in data]
    means = [sum(x[i] for x in xs) / n for i in range(k)]
    stds = []
    for i in range(k):
        var = sum((x[i] - means[i]) ** 2 for x in xs) / n
        sd = _m.sqrt(var)
        stds.append(sd if sd > 1e-12 else 1.0)
    w = [0.0] * k
    b = 0.0
    lr = 0.8
    for _ in range(15):
        g = [0.0] * k
        gb = 0.0
        for x, y in zip(xs, ys):
            z = b + sum(
                w[i] * ((x[i] - means[i]) / stds[i]) for i in range(k)
            )
            p = 1.0 / (1.0 + _m.exp(-z))
            err = p - y
            for i in range(k):
                g[i] += err * ((x[i] - means[i]) / stds[i])
            gb += err
        for i in range(k):
            w[i] -= lr * (g[i] / n)
        b -= lr * gb / n
    rows = [
        (cols[i], round(w[i] / stds[i], 8), round(means[i], 8))
        for i in range(k)
    ]
    raw_bias = b - sum(w[i] * means[i] / stds[i] for i in range(k))
    rows.append(("__bias__", round(raw_bias, 8), 0.0))
    return ["feature", "coefficient", "mean"], rows


def oracle_py() -> dict:
    """Python oracles for the non-SQL-expressible queries — same
    comparison contract as oracle_sql() (row count, column names,
    order-insensitive value hash), executed by the local battery."""
    return {
        "text_bpe_train": _py_oracle_bpe_train,
        "text_unigram_train": _py_oracle_unigram_train,
        "text_quality_train": _py_oracle_quality_train,
        "ts_dtw": _py_oracle_ts_dtw,
        "agg_isotonic_calibration": _py_oracle_isotonic,
        "stream_isotonic_matview": _py_oracle_stream_isotonic,
    }
