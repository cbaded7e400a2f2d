"""Hybrid retrieval fusion: reciprocal-rank fusion (RRF) of ranked
candidate lists.

The reference has no retrieval surface at all; a training-data /
RAG pipeline runs BOTH a lexical ranker (BM25 over an inverted index,
ops/text_analysis.py:bm25_topk) and a dense ranker (embedding cosine,
ops/similarity.py:brute_force_topk / IVF probes) and must merge them —
the standard, score-scale-free merge is RRF (Cormack et al. 2009):

    rrf(q, d) = sum over systems s ranking d for q of 1 / (k0 + rank_s)

Rank-based fusion needs no score normalization (BM25 scores and
cosines live on incomparable scales), degrades gracefully when a doc
appears in only one list, and is the default hybrid merge in every
production search stack.

Scale shape: the inputs are already top-k candidate lists — (query x
k) rows, never corpus-sized.  Fusion is a unionByName + ONE groupBy
(query, doc) + one query-keyed window for the final top-k; every
exchange moves candidate-list-sized data.  The heavy lifting stays in
the upstream rankers, which keep their own 100 TB contracts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k0: int = 60,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    top_k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Fuse ranked candidate lists into one RRF-ordered top-k.

    Each input frame must carry (query_col, doc_col, rank_col) with
    rank 1-based within each query.  Output: one row per kept (query,
    doc) with ``rrf_score`` (rounded), ``n_systems`` (how many lists
    carried the doc), and the fused ``rank`` — ties broken by doc id
    ascending so the cut is reproducible across engines.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k0 <= 0:
        raise ValueError("k0 must be positive")
    parts = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.col(rank_col).cast("int").alias("rank"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scored = u.groupBy("query_id", "doc_id").agg(
        F.sum(1.0 / (F.lit(float(k0)) + F.col("rank"))).alias("__s"),
        F.count(F.lit(1)).alias("n_systems"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("__s") + F.lit(1e-9), round_digits).alias(
                "rrf_score"
            ),
            "n_systems",
            "rank",
        )
    )


def rank_metrics(
    runs: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    round_digits: int = 6,
) -> DataFrame:
    """Per-query IR evaluation of a ranked run against relevance
    labels: nDCG@k, MRR@k, precision@k, recall@k — the measurement
    half of the retrieval stack (rrf_fuse and the rankers produce
    runs; this scores them), and what a RAG pipeline runs on every
    index/chunking change before shipping it.

    Conventions: graded ``rel_col`` feeds DCG (gain = rel /
    log2(rank + 1), the standard Jarvelin-Kekalainen form); a document
    counts as a hit when rel > 0; ideal DCG sorts the query's
    positive labels by grade (ties among equal grades cannot change
    the sum); MRR is 0 when no relevant document is retrieved;
    queries with no positive labels yield NULL nDCG/recall
    (``try_divide`` contract) rather than a fake perfect score.

    Plan shape: runs and qrels join once on (query, doc) — both
    candidate-list-sized, k rows per query on the run side.  Ideal
    gains come from ONE per-query window over the positive labels
    (bounded by that query's label count, never the corpus), and
    everything downstream is query-grain equi-joins.
    """
    runs_k = runs.filter(F.col(rank_col) <= int(k))
    pos = qrels.filter(F.col(rel_col) > 0).select(
        F.col(query_col).alias("__q"),
        F.col(doc_col).alias("__d"),
        F.col(rel_col).cast("double").alias("__rel"),
    )
    joined = runs_k.select(
        F.col(query_col).alias("__q"),
        F.col(doc_col).alias("__d"),
        F.col(rank_col).cast("int").alias("__rank"),
    ).join(pos, ["__q", "__d"], "left")
    rel = F.coalesce(F.col("__rel"), F.lit(0.0))
    scored = joined.groupBy("__q").agg(
        F.sum(rel / F.log2(F.col("__rank") + F.lit(1.0))).alias("__dcg"),
        F.sum((rel > 0).cast("long")).alias("__hits"),
        F.coalesce(
            F.max(F.when(rel > 0, F.lit(1.0) / F.col("__rank"))),
            F.lit(0.0),
        ).alias("__mrr"),
    )
    iw = Window.partitionBy("__q").orderBy(F.col("__rel").desc())
    ideal = (
        pos.withColumn("__ir", F.row_number().over(iw))
        .filter(F.col("__ir") <= int(k))
        .groupBy("__q")
        .agg(
            F.sum(
                F.col("__rel") / F.log2(F.col("__ir") + F.lit(1.0))
            ).alias("__idcg")
        )
    )
    n_rel = pos.groupBy("__q").agg(F.count(F.lit(1)).alias("__nrel"))
    out = scored.join(ideal, "__q", "left").join(n_rel, "__q", "left")
    return out.select(
        F.col("__q").alias(query_col),
        F.col("__hits").alias("n_hits"),
        F.round(
            F.try_divide(F.col("__dcg"), F.col("__idcg")) + F.lit(1e-9),
            round_digits,
        ).alias("ndcg"),
        F.round(F.col("__mrr") + F.lit(1e-9), round_digits).alias("mrr"),
        F.round(
            F.col("__hits") / F.lit(float(k)) + F.lit(1e-9), round_digits
        ).alias("precision"),
        F.round(
            F.try_divide(
                F.col("__hits").cast("double"), F.col("__nrel")
            )
            + F.lit(1e-9),
            round_digits,
        ).alias("recall"),
    )


def mmr_rerank(
    candidates: DataFrame,
    query_col: str,
    doc_col: str,
    rel_col: str,
    vec_col: str,
    k: int = 5,
    lam: float = 0.7,
    round_digits: int = 6,
    max_candidates: int | None = 100_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the standard diversity-aware final stage after any
    retriever: greedily build a k-item result where each pick
    maximizes

        mmr(d) = lam * rel(d) - (1 - lam) * max_{s in selected} sim(d, s)

    i.e. relevant BUT not redundant with what is already shown — the
    anti-near-duplicate guard for RAG context windows (feeding an LLM
    five near-identical passages wastes four slots).

    Inputs are CANDIDATE LISTS — (query x R) rows with relevance and
    the document vector — never the corpus; the loud ``max_candidates``
    guard enforces it (the brute_force_topk contract).  The greedy
    loop is k - 1 BOUNDED iterations: each step joins the remaining
    candidates to the selected set on the query key (candidate-list-
    sized equi-join), folds max-similarity per candidate, and takes
    the per-query argmax on the ROUNDED score with doc-id ties — so
    the pick sequence is deterministic and engine-reproducible.
    Frames are lazily checkpointed per step to stop lineage doubling
    (the shortest_paths convention).

    Determinism contract: relevance is rounded to ``round_digits``
    up front, the mmr score after the combine; similarity stays
    unrounded (identical IEEE doubles in any engine by the shared
    dot-fold order).  Returns (query, doc, rank, rel, max_sim, mmr)
    — rank 1 is the pure-relevance pick (max_sim/mmr NULL).
    """
    from recover_spark.functions.vectors import cosine_from_norms, l2_norm

    if k < 1:
        raise ValueError("mmr_rerank: k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"mmr_rerank: lam={lam} not in [0, 1]")
    one_minus = 1.0 - float(lam)
    base = candidates.select(
        F.col(query_col).alias("__q"),
        F.col(doc_col).alias("__d"),
        F.round(F.col(rel_col).cast("double") + F.lit(1e-9), round_digits)
        .alias("__rel"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__norm", l2_norm(F.col("__v")))
    # The guard count fills a cache that the checkpoint then reads, so
    # the upstream retriever runs once; the cache is released before
    # a refusal, so an over-cap set is not left pinned.
    if max_candidates is not None:
        cached = base.persist()
        try:
            n_c = cached.count()
            if n_c > max_candidates:
                raise ValueError(
                    f"mmr_rerank candidate side has {n_c} rows "
                    f"(max_candidates={max_candidates}); MMR is a "
                    "re-rank stage over top-R candidate lists — run a "
                    "retriever first, or raise the bound explicitly"
                )
            base = cached.localCheckpoint(eager=True)
        finally:
            cached.unpersist()
    else:
        base = base.localCheckpoint(eager=True)

    w1 = Window.partitionBy("__q").orderBy(
        F.col("__rel").desc(), F.col("__d").asc()
    )
    sel = (
        base.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .select(
            "__q",
            "__d",
            F.lit(1).alias("rank"),
            "__rel",
            F.lit(None).cast("double").alias("__maxsim"),
            F.lit(None).cast("double").alias("__mmr"),
            "__v",
            "__norm",
        )
    ).localCheckpoint(eager=False)
    remaining = base.join(
        sel.select("__q", "__d"), ["__q", "__d"], "left_anti"
    ).localCheckpoint(eager=False)

    for step in range(2, int(k) + 1):
        sims = (
            remaining.join(
                sel.select(
                    "__q",
                    F.col("__v").alias("__sv"),
                    F.col("__norm").alias("__sn"),
                ),
                "__q",
            )
            .select(
                "__q",
                "__d",
                "__rel",
                "__v",
                "__norm",
                cosine_from_norms(
                    F.col("__v"),
                    F.col("__sv"),
                    F.col("__norm"),
                    F.col("__sn"),
                ).alias("__sim"),
            )
            .groupBy("__q", "__d")
            .agg(
                F.max("__rel").alias("__rel"),
                F.max("__sim").alias("__maxsim"),
                # constant per (q, d): carried so no self-referential
                # join back to base is needed for the next step
                F.first("__v").alias("__v"),
                F.first("__norm").alias("__norm"),
            )
        )
        scored = sims.withColumn(
            "__mmr",
            F.round(
                F.lit(float(lam)) * F.col("__rel")
                - F.lit(one_minus) * F.col("__maxsim")
                + F.lit(1e-9),
                round_digits,
            ),
        )
        wp = Window.partitionBy("__q").orderBy(
            F.col("__mmr").desc(), F.col("__d").asc()
        )
        pick = (
            scored.withColumn("__rn", F.row_number().over(wp))
            .filter(F.col("__rn") == 1)
            .select("__q", "__d", F.lit(step).alias("rank"),
                    "__rel", "__maxsim", "__mmr", "__v", "__norm")
        ).localCheckpoint(eager=False)
        sel = sel.select(
            "__q", "__d", "rank", "__rel", "__maxsim", "__mmr",
            "__v", "__norm",
        ).unionByName(
            pick.select(
                "__q", "__d", "rank", "__rel", "__maxsim", "__mmr",
                "__v", "__norm",
            )
        ).localCheckpoint(eager=False)
        remaining = remaining.join(
            pick.select("__q", "__d"), ["__q", "__d"], "left_anti"
        ).localCheckpoint(eager=False)

    return sel.select(
        F.col("__q").alias(query_col),
        F.col("__d").alias(doc_col),
        "rank",
        F.col("__rel").alias("rel"),
        F.round(F.col("__maxsim") + F.lit(1e-9), round_digits).alias(
            "max_sim"
        ),
        F.col("__mmr").alias("mmr"),
    )
