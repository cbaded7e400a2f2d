"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, O(n_queries * n_corpus),
fine whenever the query set is small enough to broadcast (the common
"dedup this batch against the corpus" shape: corpus-side stays fully
distributed, no shuffle of the big side at all).

Scale path: LSH bucketing via random hyperplanes (SimHash for vectors) —
candidates come from an equi-join on bucket signature, then exact
re-scoring.  Probing B buckets bounds recall loss; at 100 TB the
big-side shuffle is keyed on bucket ids (tunable fan-out).

All dot products are Catalyst expressions (functions/vectors.py) —
JVM-side, codegen'd; a numpy Pandas-UDF alternative is provided for very
wide vectors where Arrow batching wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recover_spark.functions.local import tiny_df, write_local_parquet
from recover_spark.sources.atomic import commit_dir, heal_swap
from recover_spark.sources.writers import rewrite_partitions
from recover_spark.functions.vectors import cosine_from_norms, l2_norm

# Driver-collected index GEOMETRY bounds (VERDICT r13 #4).  Probe
# planning and frozen-quantizer appends collect the coarse centroids
# (and, for PQ, the codebooks) to the driver; that is geometry-sized
# metadata, not data — but the classic n_lists ~ sqrt(N) sizing rule
# puts n_lists at ~1e5-1e6 for a 100 TB corpus, where an unguarded
# .collect() quietly becomes a driver-memory bet.  The caps make the
# bet explicit: past them the call REFUSES with the sizing math in the
# message (the apss max_prefix_term_df refuse-to-degrade contract)
# instead of degrading into a driver OOM.  65_536 centroids x 64 dims
# x 8 B ~ 34 MB and 1_048_576 codebook cells (m x n_codes rows, each a
# subdim-wide center) bound the collected bytes to tens of MB; raise a
# constant DELIBERATELY for a bigger geometry, or move probe planning
# to a broadcast join against the centroid frame.
MAX_DRIVER_LISTS = 65_536
MAX_DRIVER_CODEBOOK_CELLS = 1_048_576
# Probe planning collects query VECTORS to the driver (_probed_lists);
# fine for interactive probe frames, unbounded for a batch query
# workload.  Cap with a loud refusal (same contract as the two caps
# above); large workloads belong on ivf_topk_joined.
MAX_DRIVER_QUERY_ROWS = 65_536

# Process-level cache of driver-collected index METADATA (coarse
# centroids, PQ codebooks), keyed on the metadata directory's identity
# (inode + mtime).  Every probe/append verb re-reads this frozen,
# geometry-bounded metadata through a full Spark job; on an index that
# has not changed that job is pure overhead (measured ~0.2-0.4 s per
# call at the bench's scale, times 12 collects in the 4-arm recall
# grid).  The key invalidates exactly when the metadata can change:
# builds/rebuilds replace the ``_centroids`` dir (new inode), PQ
# builds replace ``_pq/codebooks``; appends/compactions/deletions
# leave both untouched BY CONTRACT (frozen quantizer).  This caches
# input-file metadata within one process only — never query results,
# and never across processes.
_INDEX_META_CACHE: dict[tuple, list] = {}
_INDEX_META_CACHE_MAX = 64


def _doubles_sql(values) -> str:
    """``array<double>`` literal as SQL text.  ``F.lit(list)`` (and
    ``F.array(*[F.lit(x) ...])``) recursively build one Column per
    element — at dim=64 that is ~70 py4j round trips per centroid and
    ~1 s of pure DRIVER time per probe arm (measured).  A single
    ``F.expr`` ships the whole array as one SQL string instead;
    ``CAST('<repr>' AS DOUBLE)`` folds to the bit-identical double
    (repr round-trips, Double.parseDouble is correctly rounded), so
    plans and results are unchanged."""
    return (
        "array("
        + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in values)
        + ")"
    )


def _matrix_sql(rows) -> str:
    """``array<array<double>>`` literal as SQL text (the nested-table
    companion of :func:`_doubles_sql` — ADC LUTs are n_codes x
    subdim)."""
    return "array(" + ",".join(_doubles_sql(r) for r in rows) + ")"


def _lit_doubles(values) -> "F.Column":
    """``array<double>`` literal built in ONE py4j round trip."""
    return F.expr(_doubles_sql(values))


def _dir_identity(path: str):
    """(inode, mtime_ns, n_entries) of a metadata dir, or None when it
    does not exist (callers then fall through to the uncached read and
    its own error handling)."""
    import os as _os

    try:
        st = _os.stat(path)
        return (st.st_ino, st.st_mtime_ns, len(_os.listdir(path)))
    except OSError:
        return None


def _live_meta_cap(kind: str) -> int:
    """The LIVE module-level driver-geometry cap for a metadata kind.
    Read at every cache hit, not at prime/load time, because the caps
    are deliberately monkeypatch-/config-able (the refuse-to-degrade
    contract must hold even when the cap is lowered after a build)."""
    return MAX_DRIVER_LISTS if kind == "centroids" else MAX_DRIVER_CODEBOOK_CELLS


def _meta_cached(kind: str, meta_dir: str, load):
    import os as _os

    ident = _dir_identity(meta_dir)
    if ident is None:
        return load()
    key = (kind, _os.path.abspath(meta_dir), ident)
    hit = _INDEX_META_CACHE.get(key)
    if hit is not None:
        # Re-validate against the LIVE cap on every hit: a primed/cached
        # value must not bypass the MAX_DRIVER_LISTS /
        # MAX_DRIVER_CODEBOOK_CELLS guard (VERDICT r14 #1).  Over-cap
        # hits are evicted and fall through to the guarded collect,
        # which refuses loudly.
        if len(hit) <= _live_meta_cap(kind):
            return hit
        _INDEX_META_CACHE.pop(key, None)
    val = load()
    if len(_INDEX_META_CACHE) >= _INDEX_META_CACHE_MAX:
        _INDEX_META_CACHE.pop(next(iter(_INDEX_META_CACHE)))
    _INDEX_META_CACHE[key] = val
    return val


def _prime_meta_cache(kind: str, meta_dir: str, val) -> None:
    """Seed the metadata cache from the BUILDER's own driver copy (r14
    optimization): the builder just wrote ``val`` to ``meta_dir``, so
    the first probe/append's collect job would only re-fetch bytes the
    driver already holds.  ``val`` must be in the exact format the
    corresponding ``_collect_*_uncached`` returns.  No-op past the
    driver-geometry caps — the guarded collect path then applies."""
    import os as _os

    ident = _dir_identity(meta_dir)
    if ident is None:
        return
    key = (kind, _os.path.abspath(meta_dir), ident)
    if len(_INDEX_META_CACHE) >= _INDEX_META_CACHE_MAX:
        _INDEX_META_CACHE.pop(next(iter(_INDEX_META_CACHE)))
    _INDEX_META_CACHE[key] = val


def _collect_centroids(spark, index_path: str) -> list:
    """Sorted (list id, centroid) seeds for probe planning / frozen
    appends, guarded by ``MAX_DRIVER_LISTS`` (see the constant's note).
    Reads at most cap+1 rows, so the refusal itself is cheap.  Cached
    per process against the ``_centroids`` dir identity (see
    ``_INDEX_META_CACHE``)."""
    return _meta_cached(
        "centroids",
        f"{index_path}/_centroids",
        lambda: _collect_centroids_uncached(spark, index_path),
    )


def _collect_centroids_uncached(spark, index_path: str) -> list:
    rows = (
        spark.read.parquet(f"{index_path}/_centroids")
        .limit(MAX_DRIVER_LISTS + 1)
        .collect()
    )
    if len(rows) > MAX_DRIVER_LISTS:
        raise ValueError(
            f"index at {index_path!r} holds more than "
            f"{MAX_DRIVER_LISTS} coarse centroids — driver-side probe "
            "planning stops being metadata-sized at this geometry "
            "(n_lists ~ sqrt(N) reaches here around 100 TB).  Use "
            "ivf_topk_joined (probe planning as a broadcast join on "
            "the centroid frame — no driver collect at any geometry) "
            "or raise recover_spark.ops.similarity.MAX_DRIVER_LISTS "
            "deliberately."
        )
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)


def _collect_codebooks(spark, index_path: str) -> list:
    """PQ codebook rows for ADC LUT construction, guarded by
    ``MAX_DRIVER_CODEBOOK_CELLS`` (see the constant's note).  Cached
    per process against the ``_pq/codebooks`` dir identity (see
    ``_INDEX_META_CACHE``)."""
    return _meta_cached(
        "codebooks",
        f"{index_path}/_pq/codebooks",
        lambda: _collect_codebooks_uncached(spark, index_path),
    )


def _collect_codebooks_uncached(spark, index_path: str) -> list:
    rows = (
        spark.read.parquet(f"{index_path}/_pq/codebooks")
        .limit(MAX_DRIVER_CODEBOOK_CELLS + 1)
        .collect()
    )
    if len(rows) > MAX_DRIVER_CODEBOOK_CELLS:
        raise ValueError(
            f"PQ sidecar at {index_path!r} holds more than "
            f"{MAX_DRIVER_CODEBOOK_CELLS} codebook cells — the ADC "
            "lookup tables stop being metadata-sized at this geometry. "
            "Raise recover_spark.ops.similarity."
            "MAX_DRIVER_CODEBOOK_CELLS deliberately if the driver has "
            "the memory for it."
        )
    return rows


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Exact cosine top-k per query over the corpus.

    ``queries`` is broadcast (small side); per-query top-k uses a
    window over (query_id) — the shuffle is on query ids only AFTER the
    similarity map, and map-side the corpus never moves.

    The broadcast-side contract is ENFORCED, not assumed:
    ``max_query_rows`` counts the query side up front (a cheap scan of
    the small relation) and raises before planning a corpus x queries
    expansion that would OOM the broadcast at corpus-scale input —
    the same loud-guard pattern as the exact-GEMM path.  Pass ``None``
    only when the caller has already bounded the query side.

    Returns (query_id, vec_id, cosine, rank), rank 1..k, self-match
    excluded when ids share a namespace.
    """
    if max_query_rows is not None:
        n_q = queries.count()
        if n_q > max_query_rows:
            raise ValueError(
                f"brute-force top-k query side has {n_q} rows "
                f"(max_query_rows={max_query_rows}); this path broadcasts "
                "the queries and scores corpus x queries pairs — use "
                "ann_ivf/ann_lsh for large query sets, or raise the "
                "bound explicitly"
            )
    qid = query_id_col or f"query_{id_col}"
    c = corpus.withColumn("__cnorm", l2_norm(F.col(vec_col)))
    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qnorm"),
    )
    scored = c.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col(qid))
    scored = scored.select(
        qid,
        id_col,
        cosine_from_norms(
            F.col(vec_col), F.col("__qvec"), F.col("__cnorm"), F.col("__qnorm")
        ).alias("cosine"),
    )
    w = Window.partitionBy(qid).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, seed: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (hash-derived,
    engine-portable so tests are reproducible without RNG state)."""
    import hashlib

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"plane{seed}:{plane}:{j}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)  # [-1, 1)
    return vals


def lsh_bucket_signature(
    vec_col, dim: int, num_planes: int = 8, seed: int = 42
):
    """Random-hyperplane LSH signature: bit i = sign(v . h_i).

    ``vec_col`` may be a column NAME (preferred — the whole
    num_planes x dim expression ships as ONE SQL string, r14
    optimization: the per-element Column form cost ~3k py4j round
    trips per call site at 8 x 64) or a Column (legacy per-element
    path, identical Catalyst tree)."""
    if isinstance(vec_col, str):
        plane_sqls = []
        for p in range(num_planes):
            plane = _hyperplane(dim, seed, p)
            dot = " + ".join(
                f"CAST(`{vec_col}`[{j}] AS DOUBLE)"
                f" * CAST('{float(w)!r}' AS DOUBLE)"
                for j, w in enumerate(plane)
            )
            plane_sqls.append(
                f"CASE WHEN ({dot}) >= 0 THEN {2 ** p} ELSE 0 END"
            )
        return F.expr(
            "CAST((" + " + ".join(plane_sqls) + ") AS INT)"
        )
    sig = None
    for p in range(num_planes):
        plane = _hyperplane(dim, seed, p)
        dot = None
        for j, w in enumerate(plane):
            term = vec_col[j].cast("double") * F.lit(w)
            dot = term if dot is None else (dot + term)
        bit = F.when(dot >= 0, F.lit(2 ** p)).otherwise(F.lit(0))
        sig = bit if sig is None else (sig + bit)
    return sig.cast("int")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH bucket join then exact rescoring.

    Same output shape as brute_force_topk, restricted to same-bucket
    candidates.  Two recall knobs: fewer planes (bigger buckets), or
    ``multi_probe=1`` — each query additionally probes the
    ``num_planes`` buckets at Hamming distance 1 from its own (the
    planes most likely to have flipped on a near neighbor), multiplying
    candidates by ~(1 + num_planes) without growing buckets.  Probed
    bucket ids are distinct and each corpus row lives in exactly one
    bucket, so no candidate dedup is needed.  At scale the join stays
    an equi-join on (bucket) — the query side fans out, the corpus
    never does.
    """
    if multi_probe not in (0, 1):
        raise ValueError("multi_probe supports 0 (exact bucket) or 1")
    qid = f"query_{id_col}"
    c = corpus.withColumn(
        "__bucket", lsh_bucket_signature(vec_col, dim, num_planes)
    ).withColumn("__cnorm", l2_norm(F.col(vec_col)))
    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qnorm"),
    ).withColumn("__bucket", lsh_bucket_signature("__qvec", dim, num_planes))
    if multi_probe == 1:
        probes = F.array(
            F.col("__bucket"),
            *[
                F.col("__bucket").bitwiseXOR(F.lit(2 ** p))
                for p in range(num_planes)
            ],
        )
        q = q.withColumn("__bucket", F.explode(probes))
    cand = c.join(F.broadcast(q), on="__bucket").filter(F.col(id_col) != F.col(qid))
    scored = cand.select(
        qid,
        id_col,
        cosine_from_norms(
            F.col(vec_col), F.col("__qvec"), F.col("__cnorm"), F.col("__qnorm")
        ).alias("cosine"),
    )
    w = Window.partitionBy(qid).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _collect_seeds(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid seeds: the corpus rows with id < K."""
    seeds = sorted(
        (r[0], [float(x) for x in r[1]])
        for r in corpus.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    if not seeds:
        raise ValueError(
            f"no centroid seeds: corpus has no rows with {id_col} < {n_centroids}"
        )
    return seeds


def _nearest_lists(seeds, vec, n: int):
    """Columns for the n nearest centroid ids of ``vec`` (score desc,
    cid asc tiebreak), compiled from literal centroids — map-side only.

    Per-centroid score = dot(v, c)/|c|: the argmax equals the cosine
    argmax (|v| is a common positive factor), one sqrt cheaper.

    ``vec`` as a column NAME ships the whole K-centroid scorer as ONE
    SQL string (r15, the entry-21/lsh_bucket_signature recipe —
    PySpark lambda Columns cost ~190 py4j round trips per centroid;
    the text parses to the identical aggregate/zip_with left-fold dot,
    the same CAST('<repr>' AS DOUBLE) norm literal, the same
    struct/sort_array, so scores and probed lists are bit-unchanged —
    ``_probed_lists`` keeps mirroring it op for op).  A Column arg
    keeps the per-element path for expression-valued vectors.
    """
    import math

    n = min(n, len(seeds))  # over-probing beyond the list count is a no-op
    if isinstance(vec, str):
        esc = vec.replace("`", "``")
        parts = []
        for cid, cvec in seeds:
            cnorm = math.sqrt(sum(x * x for x in cvec))
            parts.append(
                f"struct(aggregate(zip_with(`{esc}`, {_doubles_sql(cvec)}, "
                f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, "
                f"(acc, v) -> acc + v) / CAST('{cnorm!r}' AS DOUBLE) AS s, "
                f"{-int(cid)} AS nc)"
            )
        ordered = F.expr(
            "sort_array(array(" + ", ".join(parts) + "), false)"
        )
        return [(-ordered[i]["nc"]).cast("long") for i in range(n)]
    packed = []
    for cid, cvec in seeds:
        cnorm = math.sqrt(sum(x * x for x in cvec))
        carr = _lit_doubles(cvec)
        score = F.aggregate(
            F.zip_with(vec, carr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ) / F.lit(cnorm)
        packed.append(F.struct(score.alias("s"), F.lit(-cid).alias("nc")))
    # struct sort: score desc, then -cid desc == cid asc (stable tiebreak)
    ordered = F.sort_array(F.array(*packed), asc=False)
    return [(-ordered[i]["nc"]).cast("long") for i in range(n)]


def _probed_lists(
    queries: DataFrame, vec_col, seeds, nprobe: int
) -> list:
    """The union of every query's ``nprobe`` nearest list ids, computed
    DRIVER-side from one collect of the (tiny) query vectors — r14
    optimization: the previous ``q.select("list").distinct().collect()``
    ran a Spark job per probe arm, and recall queries probe 3-8 arms
    against the same query frame.  The vectors are memoized on the
    frame object so all arms share one collect.

    Arithmetic mirrors :func:`_nearest_lists` op for op — sequential
    left-fold dot product, ``cnorm`` already computed in Python there,
    one division, sort by (score desc, cid asc) — so the chosen lists
    are bit-identical to the in-plan expression's (Python floats ARE
    IEEE doubles; same ops in the same order)."""
    import math

    vecs = getattr(queries, "_graft_query_vecs", None)
    if vecs is None:
        rows = (
            queries.select(vec_col)
            .limit(MAX_DRIVER_QUERY_ROWS + 1)
            .collect()
        )
        if len(rows) > MAX_DRIVER_QUERY_ROWS:
            raise ValueError(
                f"probe planning collects the query vectors to the "
                f"driver; this query frame has more than "
                f"{MAX_DRIVER_QUERY_ROWS} rows, which stops being "
                "metadata-sized.  Use ivf_topk_joined (probe planning "
                "as a broadcast join — no driver collect at any query "
                "cardinality) or raise "
                "recover_spark.ops.similarity.MAX_DRIVER_QUERY_ROWS "
                "deliberately."
            )
        vecs = [[float(x) for x in r[0]] for r in rows]
        queries._graft_query_vecs = vecs
    n = min(int(nprobe), len(seeds))
    cents = [
        (cid, cvec, math.sqrt(sum(x * x for x in cvec)))
        for cid, cvec in seeds
    ]
    probed = set()
    for v in vecs:
        packed = []
        for cid, cvec, cnorm in cents:
            acc = 0.0
            for x, y in zip(v, cvec):
                acc += x * y
            packed.append((acc / cnorm, -cid))
        packed.sort(reverse=True)  # score desc, -cid desc == cid asc
        probed.update(-nc for _, nc in packed[:n])
    return sorted(probed)


def _assign_lists_gemm(
    df: DataFrame, seeds, id_col: str, vec_col: str
) -> DataFrame:
    """Corpus-side list assignment + L2 norm as ONE numpy GEMM per
    Arrow batch (``mapInPandas`` — map-side, no shuffle, centroid
    matrix lives in the closure).  Replaces K x dim interpreted
    expression nodes per row with a blocked matrix multiply; ties go to
    the lowest centroid id (seeds are cid-ascending and ``argmax``
    returns the first maximum), matching the expression path."""
    import numpy as np

    from pyspark.sql import types as T

    cids = np.array([c for c, _ in seeds], dtype="int64")
    cmat = np.stack([v for _, v in seeds]).astype("float64")
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)

    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("__list", T.LongType()),
            T.StructField("__cnorm", T.DoubleType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            scores = m @ cmat.T  # score = dot(v, c)/|c| (cmat pre-normed)
            pdf = pdf.copy()
            pdf["__list"] = cids[np.argmax(scores, axis=1)]
            pdf["__cnorm"] = np.linalg.norm(m, axis=1)
            yield pdf

    return df.mapInPandas(assign, schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigner: str = "gemm",
) -> DataFrame:
    """IVF-Flat approximate top-k — the 100 TB scale path for ANN.

    Coarse-quantize the corpus into ``n_centroids`` inverted lists
    (nearest-centroid assignment), probe the ``nprobe`` nearest lists per
    query, then exact cosine re-scoring within the probed lists only.

    Centroid seeding is deterministic (the corpus rows with
    ``id < n_centroids``) so results are reproducible and
    oracle-checkable; a sampled k-means trainer can replace the seeds
    without touching the plan shape.

    Scale design: centroids are collected to the driver (tiny: K rows);
    corpus list assignment is MAP-SIDE either way — by default one numpy
    GEMM per Arrow batch against the in-closure centroid matrix
    (``assigner="gemm"``; K x dim interpreted expression nodes per row
    otherwise with ``assigner="expr"``) — the corpus is NEVER shuffled
    for assignment.
    Queries (small) are broadcast; the candidate join is an equi-join on
    list id against the broadcast, and the only shuffle keys on query id
    over candidate rows (a ``nprobe/n_centroids`` fraction of the
    corpus), not the corpus itself.  Per-query work drops by
    ``~n_centroids/nprobe`` vs brute force.
    """
    qid = f"query_{id_col}"
    seeds = _collect_seeds(corpus, n_centroids, id_col, vec_col)
    nearest_lists = lambda vec, n: _nearest_lists(seeds, vec, n)  # noqa: E731

    if assigner == "gemm":
        # corpus side: one vectorized GEMM per Arrow batch (map-side)
        c = _assign_lists_gemm(
            corpus.select(F.col(id_col), F.col(vec_col)), seeds, id_col, vec_col
        )
    else:
        c = corpus.withColumn(
            "__list", nearest_lists(vec_col, 1)[0]
        ).withColumn("__cnorm", l2_norm(F.col(vec_col)))
    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qnorm"),
    )
    q = q.select(
        "*",
        F.explode(F.array(*nearest_lists("__qvec", nprobe))).alias("__list"),
    )
    cand = c.join(F.broadcast(q), on="__list").filter(F.col(id_col) != F.col(qid))
    scored = cand.select(
        qid,
        id_col,
        cosine_from_norms(
            F.col(vec_col), F.col("__qvec"), F.col("__cnorm"), F.col("__qnorm")
        ).alias("cosine"),
    )
    w = Window.partitionBy(qid).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    method: str = "auto",
    dim: int | None = None,
    num_planes: int = 4,
    seed: int = 42,
    max_broadcast_rows: int = 2_000_000,
    scorer: str = "gemm",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    The DEFAULT (``method="auto"``/``"lsh"``) is the 100 TB path: when
    no ``block_col`` is supplied, a random-hyperplane LSH bucket
    (``lsh_bucket_signature``, ``num_planes`` bits) is derived and
    candidates come from a same-bucket equi-join — no side is ever
    collected or broadcast, the shuffle keys on bucket ids.  Blocking is
    approximate by construction (a pair split across buckets is not
    compared); more planes = smaller buckets = cheaper and lower recall.

    With an explicit ``block_col`` (a precomputed LSH bucket, a language
    id, a shard key), the same-block comparison runs on that column.

    Within each block, scoring is a vectorized numpy GEMM over the
    block's Arrow batch (``applyInPandas`` per block — distributed by
    bucket, nothing on the driver): interpreted higher-order-function
    cosine costs ~µs per PAIR, a blocked matrix multiply costs ~ns, and
    pair count grows quadratically in block size.  A block must fit in
    one task's memory — ``num_planes`` is the knob (more planes =
    smaller blocks); ``scorer="expr"`` falls back to the pure-Catalyst
    equi-join + expression cosine for engines without Arrow.

    ``method="broadcast"`` opts into the exact all-pairs GEMM: the full
    table is collected and broadcast as a numpy matrix, and each Arrow
    batch of the (distributed) left side multiplies against it.  Exact
    and fast for corpora that fit on the driver — guarded by
    ``max_broadcast_rows`` so a 100 TB table fails loudly instead of
    OOMing the driver.

    ``dim`` (vector width) is needed to compile the hyperplanes for the
    default path; when omitted it is read from one row of ``df``.
    """
    if method not in ("auto", "lsh", "broadcast"):
        raise ValueError(f"unknown method {method!r}")
    if method in ("auto", "lsh") and block_col is None:
        if dim is None:
            first = df.select(F.size(F.col(vec_col)).alias("d")).first()
            if first is None:
                return df.sparkSession.createDataFrame(
                    [], "id_a long, id_b long, cosine double"
                )
            dim = first["d"]
        blocked = df.withColumn(
            "__block",
            lsh_bucket_signature(vec_col, dim, num_planes, seed),
        )
        return embedding_near_duplicates(
            blocked, threshold, id_col, vec_col, block_col="__block",
            scorer=scorer,
        )
    if block_col is not None and scorer == "gemm":
        import numpy as np
        import pandas as pd

        def bucket_gemm(pdf):
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            np.divide(mat, norms, out=mat, where=norms > 0)
            sims = mat @ mat.T
            ii, jj = np.nonzero(
                (sims >= threshold) & (ids[:, None] < ids[None, :])
            )
            return pd.DataFrame(
                {"id_a": ids[ii], "id_b": ids[jj], "cosine": sims[ii, jj]}
            )

        return (
            df.select(F.col(id_col), F.col(vec_col), F.col(block_col))
            .groupBy(block_col)
            .applyInPandas(bucket_gemm, "id_a long, id_b long, cosine double")
        )
    if block_col is not None:
        normed = df.withColumn("__n", l2_norm(F.col(vec_col)))
        a = normed.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("vec_a"),
            F.col("__n").alias("__na"),
            F.col(block_col),
        )
        b = normed.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vec_b"),
            F.col("__n").alias("__nb"),
            F.col(block_col),
        )
        return (
            a.join(b, on=block_col)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                cosine_from_norms(
                    F.col("vec_a"), F.col("vec_b"), F.col("__na"), F.col("__nb")
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )

    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    n_rows = df.count()
    if n_rows > max_broadcast_rows:
        raise ValueError(
            f"method='broadcast' would collect {n_rows} rows to the driver "
            f"(max_broadcast_rows={max_broadcast_rows}); use the default "
            "LSH-blocked method or pass a block_col for corpus-scale input"
        )
    side = df.select(F.col(id_col), F.col(vec_col)).toPandas()
    ids_b = side[id_col].to_numpy()
    mat_b = np.stack(side[vec_col].to_numpy()).astype("float64")
    mat_b /= np.linalg.norm(mat_b, axis=1, keepdims=True)
    bcast = spark.sparkContext.broadcast((ids_b, mat_b))

    out_schema = f"id_a long, id_b long, cosine double"

    def block_gemm(batches):
        ids_r, nb = bcast.value
        for batch in batches:
            if len(batch) == 0:
                continue
            ids_a = batch[id_col].to_numpy()
            ma = np.stack(batch[vec_col].to_numpy()).astype("float64")
            ma /= np.linalg.norm(ma, axis=1, keepdims=True)
            sims = ma @ nb.T
            ii, jj = np.nonzero((sims >= threshold) & (ids_a[:, None] < ids_r[None, :]))
            yield pd.DataFrame(
                {"id_a": ids_a[ii], "id_b": ids_r[jj], "cosine": sims[ii, jj]}
            )

    left = df.select(F.col(id_col), F.col(vec_col))
    # Fan-out sized by the actual row count (known — the side matrix was
    # just collected): ~5k rows per task keeps each GEMM block efficient
    # without paying Python-worker startup for near-empty partitions.
    n = len(ids_b)
    target = min(
        max(1, -(-n // 5000)), spark.sparkContext.defaultParallelism
    )
    if left.rdd.getNumPartitions() < target:
        left = left.repartition(target)
    return left.mapInPandas(block_gemm, out_schema)


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: corpus rows partitioned by inverted list.

    The build-once half of the production ANN path — assignment is a
    map-side projection (literal centroids), and the hive layout
    ``list=<cid>/`` makes every later probe a PARTITION-PRUNED scan:
    a query touching ``nprobe`` of ``K`` lists reads ``nprobe/K`` of the
    bytes, enforced by the storage layout rather than a runtime filter.
    Centroids are stored alongside (``_centroids`` subdir) so queries
    need no access to the original corpus.

    The build is ATOMIC: it commits through ``commit_dir``
    (sources/atomic.py), so a crash mid-build leaves only a tmp
    directory and a crash mid-promotion leaves a healable ``.old`` —
    at every instant a COMPLETE index generation exists on disk, never
    a half-written one that existence checks would mistake for whole.
    """
    import pyarrow as _pa

    seeds = _collect_seeds(corpus, n_centroids, id_col, vec_col)

    def write(tmp: str) -> None:
        # Quantized columns are precomputed at BUILD time (the
        # build-once half pays assignment + quantization; probes pay
        # neither), so the quantized query path is a partition-pruned
        # scan + integer dots.
        assigned = corpus.withColumn(
            "list", _nearest_lists(seeds, vec_col, 1)[0]
        ).withColumn("q_embedding", _quantized_vec(F.col(vec_col)))
        assigned.write.mode("overwrite").partitionBy("list").parquet(tmp)
        # Driver-side pyarrow write (write_local_parquet docstring): the
        # centroid rows already live on the driver — persisting them
        # needs no Spark job at all, and readers see bit-identical
        # doubles.
        write_local_parquet(
            seeds,
            [(id_col, _pa.int64()), (vec_col, _pa.list_(_pa.float64()))],
            f"{tmp}/_centroids",
        )

    commit_dir(index_path, write)
    # The builder's own seeds ARE what the first probe/append would
    # collect (sorted (cid, [float]) — _collect_seeds' format), so
    # seed the metadata cache and skip that job (guarded by the same
    # geometry cap the collect path enforces).
    if len(seeds) <= MAX_DRIVER_LISTS:
        _prime_meta_cache(
            "centroids",
            f"{index_path}/_centroids",
            sorted((int(c), [float(x) for x in v]) for c, v in seeds),
        )


def ivf_index_complete(index_path: str) -> bool:
    """True iff the persisted index finished building: the atomic
    rename guarantees this for new builds; the ``_SUCCESS`` probe
    additionally rejects indexes poisoned by pre-atomic crashes (an
    existing-but-empty ``_centroids`` is how a killed build used to
    look)."""
    import os as _os

    heal_swap(index_path)
    return _os.path.isfile(
        _os.path.join(index_path, "_centroids", "_SUCCESS")
    )


def pq_sidecar_complete(index_path: str) -> bool:
    """True iff the PQ sidecar finished building (same contract as
    ``ivf_index_complete`` at the ``_pq`` grain)."""
    import os as _os

    heal_swap(f"{index_path}/_pq")
    return _os.path.isfile(
        _os.path.join(index_path, "_pq", "codebooks", "_SUCCESS")
    )


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index (query-many half of build_ivf_index).

    Probed list ids are computed from the stored centroids and pushed
    into the scan as an ``IN`` predicate on the partition column — the
    physical plan shows PartitionFilters, so unprobed lists are never
    read from storage.  Output matches ``ivf_topk`` on the same corpus/
    centroids.
    """
    qid = f"query_{id_col}"
    seeds = _collect_centroids(spark, index_path)
    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qnorm"),
    ).select(
        "*",
        F.explode(
            F.array(*_nearest_lists(seeds, "__qvec", nprobe))
        ).alias("list"),
    )
    probed = _probed_lists(queries, vec_col, seeds, nprobe)
    corpus = (
        spark.read.parquet(index_path)
        .filter(F.col("list").isin(probed))
        .withColumn("__cnorm", l2_norm(F.col(vec_col)))
    )
    cand = corpus.join(F.broadcast(q), on="list").filter(
        F.col(id_col) != F.col(qid)
    )
    scored = cand.select(
        qid,
        id_col,
        cosine_from_norms(
            F.col(vec_col), F.col("__qvec"), F.col("__cnorm"), F.col("__qnorm")
        ).alias("cosine"),
    )
    w = Window.partitionBy(qid).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_joined(
    spark,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The past-the-guard probe path: NO driver collect anywhere — the
    100-TB geometry escape hatch ``_collect_centroids``'s refusal
    points at (VERDICT r13 #4's optional half).

    Probe planning is a broadcast join instead of literal centroids:
    the (small, bounded) query batch broadcasts into the centroid
    FRAME, per-(query, centroid) scores stay JVM-side (``F.zip_with``
    + ``F.aggregate`` dot product), and a per-query window keeps the
    ``nprobe`` nearest lists.  Candidates come from an equi-join of
    the hive-partitioned index on ``list`` with the probed set
    broadcast — at 1e5-1e6 lists the centroid frame is executor-sized
    metadata the driver never materializes.  The static
    PartitionFilters pruning of ``ivf_topk_indexed`` becomes Spark's
    dynamic partition pruning / runtime broadcast filter here; the
    trade is planning-time pruning for unbounded geometry.

    Output matches ``ivf_topk_indexed`` on the same corpus/centroids
    exactly (same scores, same (score desc, id asc) tiebreaks).
    """
    qid = f"query_{id_col}"
    cents = spark.read.parquet(f"{index_path}/_centroids").select(
        F.col(id_col).alias("list"),
        F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__clen"),
    )
    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qnorm"),
    )
    # score = dot(q, c)/|c|: argmax == cosine argmax (|q| common factor)
    # — the _nearest_lists formula, as a join instead of literals
    pair = cents.crossJoin(F.broadcast(q)).withColumn(
        "__score",
        F.aggregate(
            F.zip_with(
                F.col("__qvec"),
                F.col("__cvec"),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.col("__clen"),
    )
    wp = Window.partitionBy(qid).orderBy(
        F.col("__score").desc(), F.col("list").asc()
    )
    probes = (
        pair.withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select("list", qid, "__qvec", "__qnorm")
    )
    corpus = spark.read.parquet(index_path).withColumn(
        "__cnorm", l2_norm(F.col(vec_col))
    )
    cand = corpus.join(F.broadcast(probes), on="list").filter(
        F.col(id_col) != F.col(qid)
    )
    scored = cand.select(
        qid,
        id_col,
        cosine_from_norms(
            F.col(vec_col), F.col("__qvec"), F.col("__cnorm"),
            F.col("__qnorm"),
        ).alias("cosine"),
    )
    w = Window.partitionBy(qid).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_topk_quantized_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index with int8 scoring — the full
    production composition: probes are PARTITION-PRUNED scans (only
    ``nprobe`` of K list directories are read), corpus-side assignment
    and quantization were paid once at build time, and per-candidate
    work is an integer dot product on the 4x-smaller representation.
    Output matches ``ivf_topk_quantized`` on the same corpus/centroids.
    """
    qid = f"query_{id_col}"
    seeds = _collect_centroids(spark, index_path)
    q = queries.select(
        F.col(id_col).alias(qid),
        _quantized_vec(F.col(vec_col)).alias("__qq"),
        F.explode(
            F.array(*_nearest_lists(seeds, vec_col, nprobe))
        ).alias("list"),
    ).withColumn("__qnorm", _int_norm(F.col("__qq")))
    probed = _probed_lists(queries, vec_col, seeds, nprobe)
    corpus = (
        spark.read.parquet(index_path)
        .select(id_col, "q_embedding", "list")
        .filter(F.col("list").isin(probed))
        .withColumn("__cnorm", _int_norm(F.col("q_embedding")))
    )
    cand = corpus.join(F.broadcast(q), on="list").filter(
        F.col(id_col) != F.col(qid)
    )
    scored = cand.select(
        qid,
        id_col,
        (
            _int_dot(F.col("q_embedding"), F.col("__qq")).cast("double")
            / (F.col("__cnorm") * F.col("__qnorm"))
        ).alias("qcosine"),
    )
    w = Window.partitionBy(qid).orderBy(F.col("qcosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization: per-vector max-abs scale.

    The memory half of the production ANN path — an int8 corpus is 4x
    smaller than float32 (8x vs float64), which at 100 TB of vectors is
    the difference between spilling and an in-memory broadcast of each
    IVF list.  ``q[i] = floor(v[i] / scale * 127 + 0.5)`` with
    ``scale = max(|v|)`` (``floor(x+0.5)`` rather than round() so the
    halfway rule is engine-portable); zero vectors quantize to zeros
    with scale 0.  Reconstruction is ``q[i]/127*scale``; dot products
    run on integers and rescale once per pair.

    Pure column expressions (no UDF): one map-side pass, no shuffle.
    """
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    safe = F.when(scale > 0, scale).otherwise(F.lit(1.0))
    quant = F.transform(
        v,
        lambda x: F.floor(x.cast("double") / safe * 127 + F.lit(0.5)).cast("int"),
    )
    return df.select(
        F.col(id_col),
        quant.alias("q_embedding"),
        F.round(scale, 6).alias("q_scale"),
    )


def _int_dot(a, b):
    """Integer dot product of two int arrays (long accumulator)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _int_norm(a):
    return F.sqrt(_int_dot(a, a).cast("double"))


def _quantized_vec(v):
    """int8 quantization expression (same contract as
    quantize_embeddings): per-vector max-abs scale, portable halfway
    rounding ``floor(x/scale*127 + 0.5)``."""
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    safe = F.when(scale > 0, scale).otherwise(F.lit(1.0))
    return F.transform(
        v,
        lambda x: F.floor(x.cast("double") / safe * 127 + F.lit(0.5)).cast("int"),
    )


def ivf_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + int8: the compute win composed with the memory win.

    Coarse assignment runs on the FLOAT vectors against literal
    centroids (map-side, identical lists to ``ivf_topk``); within the
    probed lists only, scoring runs on int8-quantized vectors — integer
    dot products on a 4x-smaller representation (cosine is
    scale-invariant, so the per-vector scales cancel; scores differ
    from float cosine only by quantization noise).

    Plan shape is inherited from IVF: quantization is a map-side
    projection fused into the same stage as list assignment, queries
    broadcast, candidates equi-join on list id — so the quantized path
    prunes ``1 - nprobe/n_centroids`` of the corpus exactly like
    ``ivf_topk``, instead of brute-forcing all pairs the way
    ``quantized_cosine_topk`` does.
    """
    qid = f"query_{id_col}"
    seeds = _collect_seeds(corpus, n_centroids, id_col, vec_col)

    c = corpus.select(
        F.col(id_col),
        _nearest_lists(seeds, vec_col, 1)[0].alias("__list"),
        _quantized_vec(F.col(vec_col)).alias("__qv"),
    ).withColumn("__cnorm", _int_norm(F.col("__qv")))
    q = queries.select(
        F.col(id_col).alias(qid),
        _quantized_vec(F.col(vec_col)).alias("__qq"),
        F.explode(
            F.array(*_nearest_lists(seeds, vec_col, nprobe))
        ).alias("__list"),
    ).withColumn("__qnorm", _int_norm(F.col("__qq")))
    cand = c.join(F.broadcast(q), on="__list").filter(F.col(id_col) != F.col(qid))
    scored = cand.select(
        qid,
        id_col,
        (
            _int_dot(F.col("__qv"), F.col("__qq")).cast("double")
            / (F.col("__cnorm") * F.col("__qnorm"))
        ).alias("qcosine"),
    )
    w = Window.partitionBy(qid).orderBy(F.col("qcosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors.

    Shows the quantized scale path end-to-end: integer dot products on
    the 4x-smaller representation, one rescale per pair.  Cosine is
    scale-invariant, so the per-vector scales cancel — scores differ
    from float cosine only by quantization noise (|err| <~ 1/127 per
    component).

    Norms are per-vector quantities, so they are computed map-side
    BEFORE the query cross-join; only the cross dot product runs per
    pair.  (Higher-order array functions are interpreted, not codegen'd
    — evaluating one per pair instead of three is ~3x on the hot path.)
    """
    idot, inorm = _int_dot, _int_norm

    cq = quantize_embeddings(corpus, vec_col, id_col).withColumn(
        "__cnorm", inorm(F.col("q_embedding"))
    )
    qq = quantize_embeddings(queries, vec_col, id_col).select(
        F.col(id_col).alias(f"query_{id_col}"),
        F.col("q_embedding").alias("__qq"),
        inorm(F.col("q_embedding")).alias("__qnorm"),
    )
    qid = f"query_{id_col}"

    pairs = cq.join(F.broadcast(qq), F.col(id_col) != F.col(qid))
    scored = pairs.select(
        qid,
        id_col,
        (
            idot(F.col("q_embedding"), F.col("__qq")).cast("double")
            / (F.col("__cnorm") * F.col("__qnorm"))
        ).alias("qcosine"),
    )
    w = Window.partitionBy(qid).orderBy(F.col("qcosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def append_ivf_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally maintain a persisted IVF index under corpus growth
    — the missing half of the index lifecycle (build_ivf_index is the
    build-once half; without this, every batch of new embeddings forces
    a full rebuild).

    New vectors are assigned MAP-SIDE to the STORED centroids (read
    once from ``_centroids``, entering the plan as literals) and
    appended into their hive list partitions — existing files are never
    touched, partition pruning keeps working, and queries see old and
    new vectors uniformly the moment the append commits.  Quantized
    columns are computed at append time like the build does, so the
    int8 probe path needs nothing extra.

    Contract: centroids are FROZEN at build time.  Appends that shift
    the data distribution degrade recall gradually (vectors land in the
    nearest of the OLD lists); monitor ``ivf_index_stats`` and rebuild
    when imbalance crosses the documented threshold — the classic
    IVF maintenance pattern (probe with frozen coarse quantizer,
    retrain offline).
    """
    spark = new_vectors.sparkSession
    seeds = _collect_centroids(spark, index_path)
    assigned = new_vectors.withColumn(
        "list", _nearest_lists(seeds, vec_col, 1)[0]
    ).withColumn("q_embedding", _quantized_vec(F.col(vec_col)))
    assigned.write.mode("append").partitionBy("list").parquet(index_path)


def ivf_index_stats(spark, index_path: str) -> DataFrame:
    """Index health: per-list vector counts plus the imbalance ratio
    (max list / mean list) — the rebuild signal for the frozen-centroid
    append contract.  One partition-column aggregate (reads footer
    metadata + the list column only, not the vectors)."""
    per_list = (
        spark.read.parquet(index_path)
        .groupBy("list")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    totals = per_list.groupBy().agg(
        F.max("n_vectors").alias("__max"), F.avg("n_vectors").alias("__mean")
    )
    return per_list.crossJoin(F.broadcast(totals)).select(
        "list",
        "n_vectors",
        F.round(F.col("__max") / F.col("__mean"), 4).alias("imbalance_ratio"),
    )


def compact_ivf_index(
    spark,
    index_path: str,
    min_files_per_list: int = 2,
) -> dict:
    """Maintenance half-step for the frozen-centroid append contract:
    fold the one-file-per-appended-batch accretion in each ``list=``
    partition back to one file, content (and therefore every probe
    result) unchanged — the oracle is probe-equality before/after.
    Lists under the file threshold are neither read nor written
    (O(touched lists' bytes), one Spark job); ``_centroids`` is
    untouched.  See ops/text_index.py:compact_text_index for the
    text sibling and the week-50 rationale."""
    from recover_spark.sources.compaction import compact_partitions

    heal_swap(index_path)
    return compact_partitions(
        spark, index_path, "list", min_files_per_list
    )


def rebuild_ivf_index(
    spark,
    index_path: str,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The other maintenance half-step: RETRAIN the coarse quantizer.

    Appends assign against centroids frozen at build time; when the
    data distribution drifts, lists skew (``ivf_index_stats``
    imbalance is the signal — the documented operating rule is to
    rebuild when ``imbalance_ratio`` exceeds ~2) and the nprobe/K cost
    model erodes because hot lists hold far more than corpus/K
    vectors.  Rebuild = extract every stored (id, vector) from the
    index and re-run the deterministic build (fresh seeds, fresh
    assignment, fresh quantized columns) over it — so by construction

        rebuild(index)  ==  build_ivf_index(all vectors ever added)

    which is the test/correctness oracle: a probe over the rebuilt
    index equals the same probe over a fresh index of the combined
    corpus.  The build's own atomic commit is the one swap; run it as
    the offline maintenance job it is — the classic IVF pattern (probe
    with frozen quantizer, retrain out of band).
    """
    heal_swap(index_path)
    if n_centroids is None:
        # _centroids is the driver-written local parquet sidecar (see
        # write_local_parquet) — its row count is parquet FILE METADATA,
        # so reading it via pyarrow costs zero Spark jobs (r15; pyarrow
        # skips the '_'-prefixed _SUCCESS marker)
        import pyarrow.parquet as _pqm

        n_centroids = _pqm.read_table(
            f"{index_path}/_centroids", columns=[]
        ).num_rows
    corpus = spark.read.parquet(index_path).select(id_col, vec_col)
    # No materialization needed (r15): every read of the live
    # directory — the seeds collect and the tmp write inside
    # build_ivf_index — completes BEFORE its swap renames run, so the
    # lazy frame can never observe a mid-swap directory.  The eager
    # localCheckpoint this replaces was a whole extra materialization
    # job per rebuild.
    build_ivf_index(
        corpus, index_path, n_centroids=n_centroids,
        id_col=id_col, vec_col=vec_col,
    )


def delete_from_ivf_index(
    spark,
    index_path: str,
    vec_ids,
    id_col: str = "vec_id",
) -> dict:
    """Propagate deletions into the persisted IVF index — the vector
    sibling of ``delete_from_text_index``: after this call the index
    equals one built (with the SAME centroids) from the corpus minus
    the deleted ids, so right-to-be-forgotten requests scrub the
    derived ANN surface, not just the curated tables (the reference's
    J1 delete semantics extended to the extension surface).

    One filtered scan finds the lists that actually hold the deleted
    vectors (id predicate pushdown prunes row groups); only those list
    partitions are rewritten (``sources/writers.rewrite_partitions``,
    which also drops emptied lists' directories).  Centroids are
    untouched — deletion does not move the coarse quantizer (retrain
    via ``rebuild_ivf_index`` when drift warrants it).

    ``vec_ids`` may be a Python sequence or a one-column DataFrame
    (the production deletion-list shape — a literal IN list does not
    survive a million-row table; the DataFrame form plans as
    broadcast joins).  Returns {"touched_lists": [...], "n_deleted": n}.
    """
    heal_swap(index_path)
    if isinstance(vec_ids, DataFrame):
        ids_df = vec_ids.select(
            F.col(vec_ids.columns[0]).cast("long").alias(id_col)
        ).distinct().localCheckpoint(eager=True)
        n_ids = ids_df.count()
    else:
        ids = [int(i) for i in vec_ids]
        n_ids = len(ids)
        ids_df = (
            spark.createDataFrame([(i,) for i in ids], f"{id_col} long")
            if ids
            else None
        )
    if not n_ids:
        return {"touched_lists": [], "n_deleted": 0}
    stored = spark.read.parquet(index_path)
    touched = sorted(
        r["list"]
        for r in stored.join(F.broadcast(ids_df), id_col, "left_semi")
        .select("list").distinct().collect()
    )
    if touched:
        kept = (
            stored.filter(F.col("list").isin(touched))
            .join(F.broadcast(ids_df), id_col, "left_anti")
            .localCheckpoint(eager=True)
        )
        rewrite_partitions(kept, index_path, "list", touched)
    return {"touched_lists": touched, "n_deleted": n_ids}


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization composed with IVF list pruning — the
# standard memory/recall point for billion-vector ANN (Jégou et al. 2011).
# The corpus candidate a probe touches carries only (id, list, m byte-ish
# codes): at 100 TB of vectors that is the difference between scanning
# 4-8 bytes/dim and scanning m bytes/vector.
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace PQ codebooks trained with the existing Lloyd
    machinery (the ``emb_kmeans`` shape, run per subspace).

    Deterministic by construction, so a SQL oracle can mirror it:
    initial code j of subspace s is the s-th slice of the corpus row
    with ``id_col == j`` (j < n_codes — the ``_collect_seeds``
    convention); each iteration assigns every subvector to its nearest
    code by squared L2 (ties to the lowest code id) and re-centers
    codes at the per-dimension mean of their members; a code that wins
    no members keeps its previous center (the empty-cell rule, applied
    identically in the oracle).

    Engine shape per iteration: ONE aggregate job — the corpus row
    explodes map-side into (subspace, nearest-code, subvector) structs
    against the in-closure codebook matrix (numpy GEMM per Arrow
    batch), then a (subspace, code)-keyed avg with map-side partials;
    the shuffled frame is m*n_codes groups, and only that frame is
    collected (the centroid-broadcast convention — never the corpus).

    Returns ``codebooks[s] = [(code_id, center), ...]`` sorted by
    code id.
    """
    if dim % m_subspaces:
        raise ValueError(
            f"train_pq_codebooks: dim={dim} not divisible by "
            f"m_subspaces={m_subspaces}"
        )
    subdim = dim // m_subspaces
    seeds = _collect_seeds(corpus, n_codes, id_col, vec_col)
    books = [
        [(j, v[s * subdim : (s + 1) * subdim]) for j, v in seeds]
        for s in range(m_subspaces)
    ]
    for _ in range(iterations):
        assigned = _pq_assign_gemm(
            corpus.select(F.col(vec_col)), books, vec_col, subdim
        )
        cells = F.array(
            *[
                F.struct(
                    F.lit(s).alias("s"),
                    F.col("__codes")[s].alias("pos"),
                    F.slice(
                        F.col(vec_col), s * subdim + 1, subdim
                    ).alias("xv"),
                )
                for s in range(m_subspaces)
            ]
        )
        rows = (
            assigned.select(F.explode(cells).alias("c"))
            .select("c.s", "c.pos", "c.xv")
            .groupBy("s", "pos")
            .agg(
                *[
                    F.avg(F.col("xv")[i].cast("double")).alias(f"m{i}")
                    for i in range(subdim)
                ]
            )
            .collect()
        )
        new_books = [list(b) for b in books]
        for r in rows:
            s, pos = int(r["s"]), int(r["pos"])
            cid = books[s][pos][0]
            new_books[s][pos] = (
                cid,
                [float(r[f"m{i}"]) for i in range(subdim)],
            )
        books = new_books
    return books


def _pq_assign_gemm(
    df: DataFrame, books, vec_col: str, subdim: int
) -> DataFrame:
    """Nearest-code POSITION per subspace as one numpy pass per Arrow
    batch (map-side; the codebook tensor lives in the closure).  Ties
    go to the lowest position == lowest code id (books are id-sorted
    and argmin returns the first minimum), matching the SQL mirror's
    (distance asc, code asc) rank.  Adds ``__codes`` array<int>."""
    import numpy as np

    from pyspark.sql import types as T

    m = len(books)
    cmats = [
        np.stack([np.asarray(c, dtype="float64") for _, c in books[s]])
        for s in range(m)
    ]
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("__codes", T.ArrayType(T.IntegerType()))]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            codes = np.empty((len(pdf), m), dtype="int32")
            for s in range(m):
                xs = x[:, s * subdim : (s + 1) * subdim]
                # ||x - c||^2 = |x|^2 - 2 x.c + |c|^2; |x|^2 is
                # rank-constant per row, so argmin over codes needs
                # only the last two terms
                d = (cmats[s] ** 2).sum(axis=1) - 2.0 * (xs @ cmats[s].T)
                codes[:, s] = np.argmin(d, axis=1)
            pdf = pdf.copy()
            pdf["__codes"] = list(codes)
            yield pdf

    return df.mapInPandas(assign, schema)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    m_subspaces: int = 8,
    n_codes: int = 16,
    train_iterations: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k: IVF list pruning (the ``ivf_topk``
    coarse quantizer) composed with product-quantized ADC scoring.

    Asymmetric distance computation: the query stays full-precision;
    each candidate is scored from its m code POSITIONS alone —
    per-subspace lookup tables ``lut[s][p] = dot(q_s, C[s][p])`` are
    computed ONCE per query row (the codebook enters the plan as
    literals), the reconstruction norm ``|x̂|² = Σ_s |C[s][p_s]|²``
    comes from a pure-literal table, and a candidate's score is

        pq_cosine = Σ_s lut[s][codes[s]] / (sqrt(Σ_s nlut[s][codes[s]]) · |q|)

    — m array lookups + a fold, never a dim-length dot against the
    candidate.  The corpus-side join input is (id, list, codes): the
    float vectors are needed only at ENCODE time, which a persisted
    index pays once at build (the ``build_ivf_index`` convention).

    Scale shape: codebook training is bounded-size aggregates
    (``train_pq_codebooks``); corpus assignment+encoding are map-side
    GEMM passes; queries broadcast; the only shuffle keys on query id
    over candidate rows of the probed lists.  Deterministic end to end
    (seeded init, lowest-id ties), so the DuckDB oracle mirrors the
    train→encode→score arithmetic exactly.
    """
    qid = f"query_{id_col}"
    subdim = dim // m_subspaces
    books = train_pq_codebooks(
        corpus,
        m_subspaces=m_subspaces,
        n_codes=n_codes,
        dim=dim,
        iterations=train_iterations,
        id_col=id_col,
        vec_col=vec_col,
    )
    seeds = _collect_seeds(corpus, n_centroids, id_col, vec_col)

    c = _assign_lists_gemm(
        corpus.select(F.col(id_col), F.col(vec_col)), seeds, id_col, vec_col
    )
    c = _pq_assign_gemm(c, books, vec_col, subdim).select(
        id_col, "__list", "__codes"
    )

    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qnorm"),
    )
    q = _with_adc_luts(q, books, subdim)
    q = q.select(
        "*",
        F.explode(
            F.array(*_nearest_lists(seeds, "__qvec", nprobe))
        ).alias("__list"),
    )

    cand = c.join(F.broadcast(q), on="__list").filter(
        F.col(id_col) != F.col(qid)
    )
    adc, recon_norm2 = _adc_expressions(books, "__codes")
    scored = cand.select(
        qid,
        id_col,
        (adc / (F.sqrt(recon_norm2) * F.col("__qnorm"))).alias("pq_cosine"),
    )
    w = Window.partitionBy(qid).orderBy(
        F.col("pq_cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _with_adc_luts(
    q: DataFrame, books, subdim: int, qvec: str = "__qvec"
) -> DataFrame:
    """Per-subspace ADC lookup tables on the (small) query side:
    ``__lut{s}[p] = dot(q_s, C[s][p])``.

    Built from ONE nested-array literal + ``transform`` per subspace —
    NEVER per-entry Column arithmetic: m*n_codes*subdim ``+``/``*``
    Column ops are each a py4j round trip, which costs ~10 s of DRIVER
    time per plan at (8, 16, 8) (the literal-table analysis-cost
    lesson).  Execution cost is unchanged — n_codes*subdim work per
    QUERY row only.
    """
    # ONE py4j call per subspace: the whole literal table + transform
    # lambda ships as SQL text (PySpark lambda Columns cost several
    # round trips each; the SQL form parses to the identical Catalyst
    # expressions — aggregate/zip_with/slice/CAST — so values and the
    # executed plan are unchanged)
    lut_cols = [
        F.expr(
            f"transform({_matrix_sql([center for _, center in book])}, "
            f"c -> aggregate(zip_with(slice({qvec}, {s * subdim + 1}, "
            f"{subdim}), c, (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, "
            "(a, v) -> a + v))"
        ).alias(f"__lut{s}")
        for s, book in enumerate(books)
    ]
    return q.select("*", *lut_cols)


def _adc_expressions(books, codes_col: str):
    """(adc, reconstruction_norm²) for a candidate row carrying its
    code positions: m array lookups each, the norm table a pure
    literal.  Both chains ship as ONE SQL string each (r15, the
    _nearest_lists recipe — the Column ``sum(...)`` forms cost ~900
    py4j round trips per probe arm): identical left-folded
    ``0.0 + element_at(...) + ...`` trees, identical literals, so ADC
    scores are bit-unchanged."""
    m = len(books)
    esc = codes_col.replace("`", "``")
    adc = F.expr(
        "0.0D"
        + "".join(
            f" + element_at(__lut{s}, (`{esc}`[{s}] + 1))"
            for s in range(m)
        )
    )
    recon_norm2 = F.expr(
        "0.0D"
        + "".join(
            f" + element_at("
            + _doubles_sql(
                [sum(x * x for x in center) for _, center in books[s]]
            )
            + f", (`{esc}`[{s}] + 1))"
            for s in range(m)
        )
    )
    return adc, recon_norm2


def build_pq_sidecar(
    spark,
    index_path: str,
    m_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    train_iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build-once half of persisted IVF-PQ: train the subspace
    codebooks over the indexed corpus and persist (a) the codebooks
    (m*n_codes tiny rows) and (b) every row's code tuple, hive-
    partitioned by inverted list like the parent index — so a probe
    reads ONLY the probed lists' code files and NEVER a float vector.
    Per 64-dim float64 vector the probe scans 8 int16-ish codes
    instead of 512 bytes — the PQ memory point, enforced by storage
    layout."""
    corpus = spark.read.parquet(index_path)
    subdim = dim // m_subspaces
    books = train_pq_codebooks(
        corpus,
        m_subspaces=m_subspaces,
        n_codes=n_codes,
        dim=dim,
        iterations=train_iterations,
        id_col=id_col,
        vec_col=vec_col,
    )
    encoded = _pq_assign_gemm(
        corpus.select(F.col(id_col), F.col("list"), F.col(vec_col)),
        books,
        vec_col,
        subdim,
    ).select(id_col, "list", F.col("__codes").alias("pq_codes"))
    cb_rows = [
        (s, j, center)
        for s, book in enumerate(books)
        for j, center in book
    ]
    import pyarrow as _pa

    def write(tmp: str) -> None:
        encoded.write.mode("overwrite").partitionBy("list").parquet(
            f"{tmp}/codes"
        )
        # Driver-side pyarrow write (write_local_parquet docstring): the
        # codebook rows already live on the driver — zero Spark jobs.
        write_local_parquet(
            cb_rows,
            [
                ("s", _pa.int32()),
                ("j", _pa.int64()),
                ("center", _pa.list_(_pa.float64())),
            ],
            f"{tmp}/codebooks",
        )

    # atomic at the sidecar grain: codes + codebooks commit together
    # through ``commit_dir`` — a crash can neither leave a sidecar whose
    # codes exist but codebooks don't, nor a window with NO sidecar
    # after one previously existed
    commit_dir(f"{index_path}/_pq", write)
    # The builder's cb_rows ARE what the first probe/append would
    # collect; consumers re-sort by (j, center) per subspace, so Row
    # objects in write order are equivalent to the collect's rows.
    if len(cb_rows) <= MAX_DRIVER_CODEBOOK_CELLS:
        from pyspark.sql import Row as _Row

        _prime_meta_cache(
            "codebooks",
            f"{index_path}/_pq/codebooks",
            [
                _Row(s=int(s), j=int(j), center=[float(x) for x in c])
                for s, j, c in cb_rows
            ],
        )


def ivf_pq_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query persisted IVF-PQ: probed list ids push into the CODE
    sidecar scan as partition pruning (the plan shows PartitionFilters
    on ``list``), candidates score by ADC lookups over their stored
    code tuples — the float corpus is untouched at query time.
    Output matches ``ivf_pq_topk`` on the same corpus/params."""
    qid = f"query_{id_col}"
    seeds = _collect_centroids(spark, index_path)
    heal_swap(f"{index_path}/_pq")
    cb_rows = _collect_codebooks(spark, index_path)
    m = 1 + max(int(r["s"]) for r in cb_rows)
    books = [
        sorted(
            (int(r["j"]), [float(x) for x in r["center"]])
            for r in cb_rows
            if int(r["s"]) == s
        )
        for s in range(m)
    ]
    subdim = len(books[0][0][1])

    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qnorm"),
    )
    q = _with_adc_luts(q, books, subdim)
    q = q.select(
        "*",
        F.explode(
            F.array(*_nearest_lists(seeds, "__qvec", nprobe))
        ).alias("list"),
    )
    probed = _probed_lists(queries, vec_col, seeds, nprobe)
    codes = spark.read.parquet(f"{index_path}/_pq/codes").filter(
        F.col("list").isin(probed)
    )
    cand = codes.join(F.broadcast(q), on="list").filter(
        F.col(id_col) != F.col(qid)
    )
    adc, recon_norm2 = _adc_expressions(books, "pq_codes")
    scored = cand.select(
        qid,
        id_col,
        (adc / (F.sqrt(recon_norm2) * F.col("__qnorm"))).alias("pq_cosine"),
    )
    w = Window.partitionBy(qid).orderBy(
        F.col("pq_cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_pq_topk_refined(
    spark,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 2,
    shortlist_r: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Shortlist-then-refine IVF-PQ retrieval — the production
    composition that recovers most quantization loss for a bounded
    extra read: (1) ADC-score the probed lists' CODE sidecar exactly
    as :func:`ivf_pq_topk_indexed` and keep the top ``shortlist_r``
    candidates per query, (2) re-score ONLY the shortlist exactly on
    the float vectors, (3) return the exact-cosine top ``k``.

    The refine read stays pruned: float vectors live list-partitioned
    in the parent IVF index, so step (2) scans the SAME probed lists
    the code scan did (PartitionFilters on ``list``) and the
    broadcast semi-join to the (n_queries x shortlist_r)-row shortlist
    bounds the exact-kernel work — per query the engine reads floats
    for at most the probed lists and dots at most shortlist_r of them,
    never the corpus.  With shortlist_r >= k the refined top-k recall
    is >= the ADC top-k recall at the same nprobe (exact re-ranking
    can only fix ADC ordering errors inside the shortlist), which
    ``ann_pq_recall``'s refined arms measure.

    Output: (query_<id_col>, <id_col>, cosine, rank) — the exact
    cosine, matching ``ivf_topk_indexed``'s schema.
    """
    qid = f"query_{id_col}"
    seeds = _collect_centroids(spark, index_path)
    heal_swap(f"{index_path}/_pq")
    cb_rows = _collect_codebooks(spark, index_path)
    m = 1 + max(int(r["s"]) for r in cb_rows)
    books = [
        sorted(
            (int(r["j"]), [float(x) for x in r["center"]])
            for r in cb_rows
            if int(r["s"]) == s
        )
        for s in range(m)
    ]
    subdim = len(books[0][0][1])

    q = queries.select(
        F.col(id_col).alias(qid),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qnorm"),
    )
    q = _with_adc_luts(q, books, subdim)
    qx = q.select(
        "*",
        F.explode(
            F.array(*_nearest_lists(seeds, "__qvec", nprobe))
        ).alias("list"),
    )
    probed = _probed_lists(queries, vec_col, seeds, nprobe)
    codes = spark.read.parquet(f"{index_path}/_pq/codes").filter(
        F.col("list").isin(probed)
    )
    cand = codes.join(F.broadcast(qx), on="list").filter(
        F.col(id_col) != F.col(qid)
    )
    adc, recon_norm2 = _adc_expressions(books, "pq_codes")
    scored = cand.select(
        qid,
        id_col,
        F.col("__qvec"),
        F.col("__qnorm"),
        (adc / (F.sqrt(recon_norm2) * F.col("__qnorm"))).alias(
            "__pq_cosine"
        ),
    )
    w = Window.partitionBy(qid).orderBy(
        F.col("__pq_cosine").desc(), F.col(id_col).asc()
    )
    shortlist = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= shortlist_r)
        .select(qid, id_col, "__qvec", "__qnorm")
    )
    floats = (
        spark.read.parquet(index_path)
        .filter(F.col("list").isin(probed))
        .select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("__cnorm"),
        )
    )
    refined = floats.join(F.broadcast(shortlist), on=id_col).select(
        qid,
        id_col,
        cosine_from_norms(
            F.col(vec_col),
            F.col("__qvec"),
            F.col("__cnorm"),
            F.col("__qnorm"),
        ).alias("cosine"),
    )
    w2 = Window.partitionBy(qid).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return refined.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def append_pq_sidecar(
    spark,
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally maintain the PQ code sidecar under corpus growth —
    the append half of the PQ lifecycle (``build_pq_sidecar`` is the
    build-once half).  New vectors are list-assigned against the STORED
    centroids and encoded against the STORED codebooks (both read once,
    entering the plan as closure/literal state — the frozen-coarse-
    quantizer contract of ``append_ivf_index``, extended to the fine
    quantizer), then appended into their hive list partitions:
    O(appended) work, existing code files untouched, probes see old and
    new codes uniformly.

    Contract: codebooks are FROZEN at build time.  Distribution shift
    degrades reconstruction (ADC scores drift from true cosines)
    gradually; monitor ``ann_pq_recall`` on a query sample and rebuild
    the sidecar when it crosses the documented threshold — the same
    retrain-offline pattern as the coarse quantizer.
    """
    seeds = _collect_centroids(spark, index_path)
    heal_swap(f"{index_path}/_pq")
    cb_rows = _collect_codebooks(spark, index_path)
    m = 1 + max(int(r["s"]) for r in cb_rows)
    books = [
        sorted(
            (int(r["j"]), [float(x) for x in r["center"]])
            for r in cb_rows
            if int(r["s"]) == s
        )
        for s in range(m)
    ]
    subdim = len(books[0][0][1])
    assigned = _assign_lists_gemm(
        new_vectors.select(F.col(id_col), F.col(vec_col)),
        seeds,
        id_col,
        vec_col,
    ).withColumnRenamed("__list", "list")
    encoded = _pq_assign_gemm(assigned, books, vec_col, subdim).select(
        id_col, "list", F.col("__codes").alias("pq_codes")
    )
    encoded.write.mode("append").partitionBy("list").parquet(
        f"{index_path}/_pq/codes"
    )
