"""Persisted inverted text index + exact cosine probe — incremental
near-duplicate detection against a stored corpus.

The batch AP-SS join (ops/apss.py) answers "which pairs inside THIS
corpus are near-duplicates".  A training pipeline's recurring question
is different: a new export lands weekly and must be checked against
everything already ingested — and re-running the all-pairs join over
old∪new re-pays the whole corpus every week.  This module is the text
sibling of the IVF vector index (ops/similarity.py:build_ivf_index):
pay one indexing pass, then each probe costs O(batch), never
O(corpus).

Index layout under ``path`` (plain parquet, engine-portable):

- ``postings/``  (term, doc_id, w) — tf-L2-normalized weights, hive-
  partitioned by ``tb = pmod(xxhash64(term), num_buckets)`` so a probe
  reads ONLY the buckets its own terms hash into (PartitionFilters,
  the same pruning contract as the IVF list partitions);
- ``df/``        (term, df) — document frequencies, used only to ORDER
  probe prefixes (rare terms first); correctness never depends on it;
- ``_text_index.json`` — num_buckets + doc count.

Exactness with a ONE-SIDED prefix: for unit vectors, if a new
document shares no term with its own prefix (the positions where the
suffix norm is still >= t), every shared term lies in its suffix and
``dot <= ||suffix|| < t``.  So candidates = (new-doc prefix terms)
equi-joined against the FULL stored postings — no prefix is needed on
the indexed side, which is what makes the index append-only: stored
postings never need re-ordering when df drifts.  (Contrast the
symmetric two-sided prefix of the batch join, which is why THAT
operator recomputes df per run.)

Scale shape per probe batch: one (doc, term) shuffle for the batch,
bucket-pruned scans of the postings, candidate equi-join keyed on
term, verification as two more equi-joins (candidates x stored
postings on doc, then on (new_doc, term)), one pair aggregate.  The
hot-term hazard is the same as the batch join and carries the same
loud guard.

``append_text_index`` adds a new batch's postings into their bucket
partitions without touching existing files (immutable-once-written,
like the IVF append) and re-derives ``df/`` from a bucket-local
aggregate of the combined postings.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recover_spark.functions.text import tokens
from recover_spark.sources.atomic import write_text_atomic
from recover_spark.sources.writers import rewrite_partitions

META_NAME = "_text_index.json"


_INTEGRAL_ID_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _require_integral_ids(docs: DataFrame, id_col: str, op: str) -> None:
    """The persisted index pins ``doc_id long`` (_POSTINGS_SCHEMA /
    _VECTORS_SCHEMA), so every entry point validates the caller's id
    column instead of letting a string id silently coerce (or die deep
    inside an Arrow conversion on the dense path — ADVICE r5)."""
    dt = docs.schema[id_col].dataType.simpleString()
    if dt not in _INTEGRAL_ID_TYPES:
        raise TypeError(
            f"{op} requires an integral id column (index schema stores "
            f"doc_id as bigint); got {id_col!r}: {dt}. Map string ids "
            "to a surrogate bigint (e.g. xxhash64) before indexing."
        )


def _batch_postings(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc, term, w) with tf L2-normalized per doc — no df needed."""
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = exploded.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    w_doc = Window.partitionBy("doc_id")
    return tf.withColumn(
        "w", F.col("tf") / F.sqrt(F.sum(F.col("tf") ** 2).over(w_doc))
    ).select("doc_id", "term", "w")


def _bucket(col, num_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(num_buckets)).cast("int")


def _write_vectors(
    postings: DataFrame, path: str, num_buckets: int, mode: str
) -> None:
    """Per-doc sparse vectors (entries array<struct<term, w>>), hive-
    partitioned by a doc-id bucket — the dense probe's scan target."""
    vectors = postings.groupBy("doc_id").agg(
        F.collect_list(F.struct("term", "w")).alias("entries")
    ).withColumn("vb", _bucket(F.col("doc_id"), num_buckets))
    vectors.write.mode(mode).partitionBy("vb").parquet(
        os.path.join(path, "vectors")
    )


def build_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 32,
) -> dict:
    """Index a corpus: postings hive-partitioned by term bucket, the
    df table, and per-doc sparse vectors partitioned by doc bucket
    (the dense probe's scan target).  One (doc, term) shuffle; the
    partitioned writes are the only extra cost over computing weights
    at all."""
    _require_integral_ids(docs, id_col, "build_text_index")
    postings = _batch_postings(docs, id_col, text_col).localCheckpoint(
        eager=False
    )
    postings.withColumn("tb", _bucket(F.col("term"), num_buckets)) \
        .write.mode("overwrite").partitionBy("tb") \
        .parquet(os.path.join(path, "postings"))
    _write_vectors(postings, path, num_buckets, "overwrite")
    # df / n_docs from the PINNED postings frame (r14 optimization):
    # a fresh build's stored postings ARE this frame row for row, so
    # re-reading the just-written parquet paid two extra full scans
    # (listing + footer + decode) for identical aggregates.
    postings.groupBy("term").agg(F.count(F.lit(1)).alias("df")) \
        .write.mode("overwrite").parquet(os.path.join(path, "df"))
    n_docs = postings.select("doc_id").distinct().count()
    # vectors_cover_corpus: vectors/ holds EVERY indexed doc (it was
    # written alongside the postings from the same frame).  Appends
    # and deletes take their O(touched)/doc-grained shortcuts only
    # under this flag — an index that predates vectors/ must never
    # grow a partial vectors/ dir and then treat it as authoritative
    # for n_docs or term discovery (ADVICE r14).
    meta = {
        "num_buckets": num_buckets,
        "n_docs": n_docs,
        "vectors_cover_corpus": True,
    }
    write_text_atomic(
        os.path.join(path, META_NAME), json.dumps(meta, sort_keys=True)
    )
    return meta


def append_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Append a batch into the index: new postings and vectors land in
    their bucket partitions (dynamic partition overwrite is NOT used —
    plain append leaves existing files untouched), df re-aggregates
    from the combined postings (vocab-sized job), doc count updates."""
    _require_integral_ids(docs, id_col, "append_text_index")
    spark = docs.sparkSession
    meta = _read_meta(path)
    # The doc-grained shortcuts below require vectors/ to cover the
    # WHOLE corpus, which only the build guarantees (flag in meta).
    # A legacy pre-vectors index keeps the full-postings paths and —
    # crucially — never writes a partial vectors/ dir that a later
    # append would mistake for full coverage (ADVICE r14: that
    # undercounted n_docs from the second append on).
    covered = bool(meta.get("vectors_cover_corpus"))
    postings = _batch_postings(docs, id_col, text_col).localCheckpoint(
        eager=False
    )
    postings.withColumn(
        "tb", _bucket(F.col("term"), meta["num_buckets"])
    ).write.mode("append").partitionBy("tb").parquet(
        os.path.join(path, "postings")
    )
    if covered:
        _write_vectors(postings, path, meta["num_buckets"], "append")
    # df: old table + this batch's counts (r14 optimization).  The
    # append only ADDS posting rows, and df counts rows per term, so
    # the sum over the two disjoint row sets IS the re-aggregation of
    # the combined postings — at O(vocab + batch) instead of a full
    # O(index) re-scan per append (the delete path's decrement-join
    # convention, in the other direction).
    df_path = os.path.join(path, "df")
    old_df = _read_or_empty(spark, df_path, _DF_SCHEMA)
    batch_df = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("__bdf")
    )
    new_df = (
        old_df.join(batch_df, "term", "full")
        .select(
            "term",
            (
                F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("__bdf"), F.lit(0))
            ).cast("long").alias("df"),
        )
        .localCheckpoint(eager=True)  # df_path is both input and output
    )
    new_df.write.mode("overwrite").parquet(df_path)
    # n_docs: distinct over the doc-grained vectors layout (one row
    # per doc per batch — the same doc set as the postings, far fewer
    # rows).  Indexes predating vectors/ keep the full-postings scan.
    if covered:
        meta["n_docs"] = (
            spark.read.parquet(os.path.join(path, "vectors"))
            .select("doc_id").distinct().count()
        )
    else:
        stored = _read_or_empty(
            spark, os.path.join(path, "postings"), _POSTINGS_SCHEMA
        )
        meta["n_docs"] = stored.select("doc_id").distinct().count()
    write_text_atomic(
        os.path.join(path, META_NAME), json.dumps(meta, sort_keys=True)
    )
    return meta


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, META_NAME)) as fh:
        return json.load(fh)


_POSTINGS_SCHEMA = "doc_id long, term string, w double, tb int"
_VECTORS_SCHEMA = (
    "doc_id long, entries array<struct<term: string, w: double>>, vb int"
)
_DF_SCHEMA = "term string, df long"


def _read_or_empty(spark: SparkSession, p: str, schema: str) -> DataFrame:
    """Read a parquet dataset that may legitimately hold ZERO files —
    a corpus whose every document tokenized to nothing writes only
    `_SUCCESS`, and a plain read then fails schema inference.  An
    empty index is a valid index (probes simply match nothing)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(p)
    except AnalysisException:
        return spark.createDataFrame([], schema)


def delete_from_text_index(
    spark: SparkSession,
    path: str,
    doc_ids: Sequence[int] | DataFrame,
) -> dict:
    """Propagate deletions INTO the index — the right-to-be-forgotten
    half of the lifecycle.  The reference's pipeline applies deletes to
    the curated tables (J1 left-anti, ``operators/deletes.py``); a
    health-data platform must also scrub derived surfaces, and an
    inverted index retains the deleted document's full term
    multiset.  After this call the index is IDENTICAL to one built
    from the corpus without those documents (the test oracle):

    - discovery: the deleted docs' term sets are read from THEIR OWN
      ``vectors/`` partitions (``vb = bucket(doc_id)`` is computed
      from the ids, so only those partitions are opened) — the
      touched ``tb`` values and the per-term df decrements both fall
      out of that one bounded read, and NO untouched bucket is read
      anywhere in the operation (VERDICT r6 #2: the old df/n_docs
      re-derivation scanned the whole remaining index per deletion
      batch);
    - ``postings/``: ``rewrite_partitions`` of the touched ``tb``
      buckets only (emptied buckets removed);
    - ``vectors/``: same, over the computed ``vb`` values;
    - ``df/``: the old table joined against the decrement counts
      (vocab-sized map join, zero-df terms dropped — identical to a
      fresh re-aggregation because postings are (doc, term)-unique);
    - ``n_docs``: decremented by the number of deleted ids actually
      present, no distinct scan.

    ``doc_ids`` may be a Python sequence (ad-hoc scrubs) or a one-
    column DataFrame (the reference's delete lists are parquet
    datasets — J1's input shape — and a literal IN list does not
    survive a million-row deletion table; the DataFrame form plans as
    broadcast joins instead).

    Cost: O(touched buckets' bytes + deleted docs' vector bytes) +
    one vocab-sized df join.  An index predating ``vectors/`` falls
    back to a content-scan discovery (the only O(index) path left,
    and only for that legacy layout).  Returns the updated meta dict
    plus ``n_deleted``.
    """
    if isinstance(doc_ids, DataFrame):
        ids_df = doc_ids.select(
            F.col(doc_ids.columns[0]).cast("long").alias("doc_id")
        ).distinct().localCheckpoint(eager=True)
        n_ids = ids_df.count()
    else:
        ids = [int(i) for i in doc_ids]
        n_ids = len(ids)
        ids_df = (
            spark.createDataFrame([(i,) for i in ids], "doc_id long")
            if ids
            else None
        )
    meta = _read_meta(path)
    if not n_ids:
        meta["n_deleted"] = 0
        return meta
    nb = meta["num_buckets"]
    postings_path = os.path.join(path, "postings")
    vectors_path = os.path.join(path, "vectors")
    stored = _read_or_empty(spark, postings_path, _POSTINGS_SCHEMA)
    touched_vb = sorted(
        {
            int(r["vb"])
            for r in ids_df.select(
                _bucket(F.col("doc_id"), nb).alias("vb")
            )
            .distinct()
            .collect()
        }
    )
    if meta.get("vectors_cover_corpus") and os.path.isdir(vectors_path):
        # O(touched) discovery: the deleted docs' term sets live in
        # their own vb partitions — explode them to recover exactly
        # the (doc_id, term, tb) postings being removed, without
        # reading any postings bucket.  Gated on the coverage flag:
        # a partial vectors/ dir would silently miss legacy docs'
        # terms and under-decrement df (ADVICE r14).
        deleted_postings = (
            spark.read.parquet(vectors_path)
            .filter(F.col("vb").isin(touched_vb))
            .join(F.broadcast(ids_df), "doc_id", "left_semi")
            .select("doc_id", F.explode("entries").alias("__e"))
            .select(
                "doc_id",
                F.col("__e.term").alias("term"),
                _bucket(F.col("__e.term"), nb).alias("tb"),
            )
            .localCheckpoint(eager=True)  # capture before any overwrite
        )
    else:
        # legacy pre-vectors layout: content-scan fallback (O(index)
        # discovery, the only remaining full-scan path)
        deleted_postings = (
            stored.join(F.broadcast(ids_df), "doc_id", "left_semi")
            .select("doc_id", "term", "tb")
            .localCheckpoint(eager=True)
        )
    touched_tb = [
        r["tb"] for r in deleted_postings.select("tb").distinct().collect()
    ]
    n_present = deleted_postings.select("doc_id").distinct().count()
    if touched_tb:
        kept = (
            stored.filter(F.col("tb").isin(touched_tb))
            .join(F.broadcast(ids_df), "doc_id", "left_anti")
            .localCheckpoint(eager=True)  # never read what we replace
        )
        rewrite_partitions(kept, postings_path, "tb", touched_tb)
    if os.path.isdir(vectors_path) and touched_vb:
        vecs = spark.read.parquet(vectors_path)
        kept_v = (
            vecs.filter(F.col("vb").isin(touched_vb))
            .join(F.broadcast(ids_df), "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        rewrite_partitions(kept_v, vectors_path, "vb", touched_vb)
    # df decrement from the deleted postings themselves — equal to a
    # re-aggregation over the remaining index because postings are
    # (doc, term)-unique, at O(vocab + deleted postings) instead of
    # O(index)
    df_path = os.path.join(path, "df")
    old_df = _read_or_empty(spark, df_path, _DF_SCHEMA)
    dec = deleted_postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("__ddf")
    )
    new_df = (
        old_df.join(dec, "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("__ddf"), F.lit(0)))
            .cast("long")
            .alias("df"),
        )
        .filter(F.col("df") > 0)
        .localCheckpoint(eager=True)  # df_path is both input and output
    )
    new_df.write.mode("overwrite").parquet(df_path)
    meta["n_docs"] = int(meta["n_docs"]) - int(n_present)
    meta["n_deleted"] = n_ids
    write_text_atomic(
        os.path.join(path, META_NAME),
        json.dumps(
            {k: v for k, v in meta.items() if k != "n_deleted"},
            sort_keys=True,
        ),
    )
    return meta


def compact_text_index(
    spark: SparkSession,
    path: str,
    min_files_per_bucket: int = 2,
) -> dict:
    """Maintenance pass for the append-only index: fold the parquet
    files each ``append_text_index`` left behind — one per batch per
    touched bucket — back into one file per bucket partition, for both
    the postings (``tb=``) and vector (``vb=``) layouts.  Content is
    unchanged (probe-equality is the oracle); only the file count
    drops, restoring probe open/footer costs after months of weekly
    appends (the week-50 failure; the reference's re-crawl pass plays
    this role, templates/glue-workflow.j2:147-166).  ``df/`` needs no
    rewrite: appends already re-derive it as a whole-table aggregate.

    Cost: O(touched buckets' bytes), one Spark job per layout; buckets
    under ``min_files_per_bucket`` files are neither read nor written.
    Returns {"postings": report, "vectors": report}.
    """
    from recover_spark.sources.compaction import compact_partitions

    _read_meta(path)  # validates this is an index
    return {
        "postings": compact_partitions(
            spark, os.path.join(path, "postings"), "tb",
            min_files_per_bucket,
        ),
        "vectors": compact_partitions(
            spark, os.path.join(path, "vectors"), "vb",
            min_files_per_bucket,
        ),
    }


def probe_text_index(
    new_docs: DataFrame,
    path: str,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
    strategy: str = "auto",
    max_prefix_term_df: int | None = 100_000,
    max_dense_vocab: int = 4096,
) -> DataFrame:
    """EXACT cosine matches of ``new_docs`` against the indexed corpus:
    (new_id, indexed_id, cosine) for every cross pair with rounded
    cosine >= ``threshold``.

    Two exact physical strategies, the incremental twins of the batch
    AP-SS pair (ops/apss.py), picked by ``strategy`` ("auto" probes
    the stored vocabulary size):

    - ``"prefix"`` (open vocabularies): candidates come from the new
      docs' PREFIX terms only (one-sided prefix guarantee — module
      docstring); the candidate join and the verification read ONLY
      the postings buckets the batch's own terms hash into
      (PartitionFilters on ``tb``, driver-computed from the batch
      vocabulary — the IVF pruned-probe contract).  Cost O(batch x
      matched postings).
    - ``"dense"`` (bounded vocabularies, where every term is hot and
      candidates degenerate to ~the corpus): the stored VECTORS are
      scanned once at GEMM rate — the small batch replicates to every
      doc bucket, each bucket is one ``applyInPandas`` cross-GEMM
      tile, and the corpus is never shuffled, joined, collected, or
      broadcast.  Cost one corpus vector scan per probe — on a corpus
      this dense that IS the candidate set, and the tile runs it at
      matrix-multiply rate instead of a row-explosion join.  Needs the
      ``vectors_cover_corpus`` meta flag: on an index built before it,
      ``"auto"`` picks ``"prefix"`` and ``"dense"`` raises.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if strategy not in ("auto", "prefix", "dense"):
        raise ValueError(f"unknown strategy {strategy!r}")
    _require_integral_ids(new_docs, id_col, "probe_text_index")
    spark = new_docs.sparkSession
    meta = _read_meta(path)
    nb = meta["num_buckets"]

    batch = _batch_postings(new_docs, id_col, text_col).localCheckpoint(
        eager=False
    )
    # dense scans vectors/, which only an index carrying the coverage
    # flag keeps whole: appends to an older index skip vectors/
    covered = bool(meta.get("vectors_cover_corpus"))
    if strategy == "auto":
        strategy = "prefix"
        if covered and _read_or_empty(
            spark, os.path.join(path, "df"), _DF_SCHEMA
        ).count() <= max_dense_vocab:
            strategy = "dense"
    if strategy == "dense":
        if not covered:
            raise ValueError(
                f"dense probe needs vectors_cover_corpus in {META_NAME}; "
                "this index predates it, so vectors/ may miss appended "
                "documents — use strategy='prefix'"
            )
        return _probe_dense(
            spark, batch, path, nb, threshold, round_digits
        )

    # prefix per new doc, ordered by INDEX df (rare first — order is an
    # efficiency choice only; the cutoff rule alone carries correctness)
    dfreq = _read_or_empty(spark, os.path.join(path, "df"), _DF_SCHEMA)
    ordered = batch.join(dfreq, "term", "left").withColumn(
        "__df", F.coalesce(F.col("df"), F.lit(0))
    )
    w_suffix = (
        Window.partitionBy("doc_id")
        .orderBy(F.asc("__df"), F.asc("term"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prefix = (
        ordered.withColumn(
            "__sn", F.sqrt(F.sum(F.col("w") ** 2).over(w_suffix))
        )
        .filter(F.col("__sn") >= F.lit(float(threshold)) - F.lit(1e-9))
        .select("doc_id", "term")
    )

    # bucket pruning: the batch vocabulary is bounded; its bucket list
    # is a driver-side metadata read (same contract as IVF probes)
    buckets = [
        r["tb"]
        for r in batch.select(
            _bucket(F.col("term"), nb).alias("tb")
        ).distinct().collect()
    ]
    stored = _read_or_empty(
        spark, os.path.join(path, "postings"), _POSTINGS_SCHEMA
    ).filter(
        F.col("tb").isin(buckets)
    )

    if max_prefix_term_df is not None:
        hot = (
            prefix.join(dfreq, "term")
            .filter(F.col("df") > max_prefix_term_df)
            .limit(1)
            .collect()
        )
        if hot:
            raise ValueError(
                f"prefix term {hot[0]['term']!r} has stored df "
                f"{hot[0]['df']} (> max_prefix_term_df="
                f"{max_prefix_term_df}); the candidate join would "
                "explode on it. Raise the threshold or pre-clean the "
                "batch."
            )

    candidates = (
        prefix.join(
            stored.select(F.col("term"), F.col("doc_id").alias("__idx")),
            "term",
        )
        .select(F.col("doc_id").alias("__new"), "__idx")
        .distinct()
    )

    verify = (
        candidates.join(
            stored.select(
                F.col("doc_id").alias("__idx"), "term",
                F.col("w").alias("w_idx"),
            ),
            "__idx",
        )
        .join(
            batch.select(
                F.col("doc_id").alias("__new"), "term",
                F.col("w").alias("w_new"),
            ),
            ["__new", "term"],
        )
        .groupBy("__new", "__idx")
        .agg(
            F.round(F.sum(F.col("w_new") * F.col("w_idx")), round_digits)
            .alias("cosine")
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )
    return verify.select(
        F.col("__new").alias("new_id"),
        F.col("__idx").alias("indexed_id"),
        "cosine",
    )


def _probe_dense(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    num_buckets: int,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Dense probe: one cross-GEMM tile per stored doc bucket.

    The batch's sparse vectors replicate to every bucket (batch is the
    small side by contract — the arriving export); stored vectors stay
    in their own partition.  Each tile builds a local term dictionary
    from the union of its rows and multiplies batch x stored — numpy
    rate, no corpus shuffle/collect/broadcast, pairs emitted only at
    or above the (rounding-slack) threshold.
    """
    import numpy as np
    import pandas as pd

    b_vecs = batch.groupBy("doc_id").agg(
        F.collect_list(F.struct("term", "w")).alias("entries")
    )
    fanned = b_vecs.select(
        "doc_id", "entries",
        F.explode(
            F.sequence(F.lit(0), F.lit(num_buckets - 1))
        ).alias("vb"),
        F.lit(1).alias("__is_batch"),
    )
    stored = _read_or_empty(
        spark, os.path.join(path, "vectors"), _VECTORS_SCHEMA
    ).select(
        "doc_id", "entries", F.col("vb").cast("int").alias("vb"),
        F.lit(0).alias("__is_batch"),
    )
    unioned = fanned.unionByName(stored)

    thr = float(threshold) - 10.0 ** (-round_digits) / 2

    def tile(key, pdf):
        b = pdf[pdf["__is_batch"] == 1]
        s = pdf[pdf["__is_batch"] == 0]
        if len(b) == 0 or len(s) == 0:
            return pd.DataFrame(
                {"new_id": [], "indexed_id": [], "cosine": []}
            )
        terms = {}
        for es in pdf["entries"]:
            for e in es:
                t = e["term"]
                if t not in terms:
                    terms[t] = len(terms)

        def dense(rows):
            ids = rows["doc_id"].to_numpy()
            mat = np.zeros((len(rows), len(terms)))
            for r, es in enumerate(rows["entries"]):
                for e in es:
                    mat[r, terms[e["term"]]] = e["w"]
            return ids, mat

        ids_b, mb = dense(b)
        ids_s, ms = dense(s)
        sims = mb @ ms.T
        ii, jj = np.nonzero(sims >= thr)
        return pd.DataFrame(
            {
                "new_id": ids_b[ii],
                "indexed_id": ids_s[jj],
                "cosine": sims[ii, jj],
            }
        )

    raw = unioned.groupBy("vb").applyInPandas(
        tile, "new_id long, indexed_id long, cosine double"
    )
    return raw.select(
        "new_id", "indexed_id",
        F.round("cosine", round_digits).alias("cosine"),
    ).filter(F.col("cosine") >= F.lit(float(threshold)))
