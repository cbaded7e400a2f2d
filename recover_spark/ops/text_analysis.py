"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All pure Catalyst expressions over the ``documents`` table shape
(doc_id, text, lang, source, n_chars) — no UDFs in the hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from recover_spark.functions.hashing import portable_hash64
from recover_spark.functions.text import (
    quality_features,
    tokens,
    word_ngrams_of,
)

# Tiny per-language function-word profiles for the n-gram-free heuristic.
# (A real deployment swaps in fastText/CLD3 behind the same signature —
# see ops/multimodal.py for the stub pattern.)
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "que", "de", "los", "una", "por", "con"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour"],
}


def language_scores(text_col: Column | str) -> Column:
    """Struct of per-language marker-hit ratios."""
    return language_scores_from_tokens(tokens(text_col))


def language_scores_from_tokens(toks: Column) -> Column:
    """``language_scores`` over a MATERIALIZED token array — pipelines
    that tokenize once (the right shape at scale: tokenization is the
    dominant map cost in a text pipeline, and higher-order functions
    are interpreted with no common-subexpression elimination, so every
    ``tokens(text)`` mention re-pays it) pass their token column here."""
    n = F.greatest(F.size(toks), F.lit(1))
    fields = []
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        fields.append((hits / n).alias(lang))
    return F.struct(*fields)


def language_id(text_col: Column | str, default: str = "unknown") -> Column:
    """Pick the language with the highest marker ratio; 'unknown' if none
    hit.  Deterministic tie-break: language name ascending."""
    return language_id_from_tokens(tokens(text_col), default)


def language_id_from_tokens(toks: Column, default: str = "unknown") -> Column:
    """``language_id`` over a materialized token array (tokenize-once
    pipelines)."""
    scores = language_scores_from_tokens(toks)
    langs = sorted(_LANG_MARKERS)
    pairs = F.array(
        *[F.struct(scores[l].alias("score"), F.lit(l).alias("lang")) for l in langs]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["score"] > 0))
    return F.coalesce(best["lang"], F.lit(default))


def fingerprint_of(toks: Column, window: int = 8) -> Column:
    """Winnowing-style fingerprint from a MATERIALIZED token-array
    column: min rolling-hash over token windows (whole-doc hash for
    short docs).  Equal fingerprints => near-certain duplicates.

    ``toks`` must be a column reference (see word_ngrams_of for why —
    inline expressions re-evaluate per element_at access).
    """
    from recover_spark.functions.text import _window_starts

    window_hashes = F.transform(
        _window_starts(F.size(toks), window),
        lambda i: portable_hash64(
            F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(window)])
        ),
    )
    whole = portable_hash64(F.concat_ws(" ", toks))
    return F.coalesce(F.array_min(window_hashes), whole)


def document_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Per-document winnowing fingerprint: (id, fingerprint)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    return toked.select(
        F.col(id_col), fingerprint_of(F.col("__toks"), window).alias("fingerprint")
    )


# C4-style heuristic rules: (name, predicate-on-features builder).
# Order matters — the FIRST failing rule names the fail_reason.
def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_punct_ratio: float = 0.25,
    max_digit_ratio: float = 0.30,
    max_mean_word_len: float = 12.0,
    min_stopword_ratio: float = 0.05,
) -> DataFrame:
    """C4-style document quality gate: composite heuristic filter with a
    named first-failed-rule verdict per document.

    Pure Catalyst expressions (one projection, no shuffle, no UDF) —
    at 100 TB this is a map-only pass that fuses into the scan via
    whole-stage codegen; thresholds apply to the UNrounded features so
    downstream consumers can re-derive the verdict.

    Returns (id, passed, fail_reason); ``fail_reason`` is null iff
    ``passed``.
    """
    reason = quality_fail_reason(
        text_col,
        min_tokens=min_tokens,
        max_punct_ratio=max_punct_ratio,
        max_digit_ratio=max_digit_ratio,
        max_mean_word_len=max_mean_word_len,
        min_stopword_ratio=min_stopword_ratio,
    )
    return df.select(
        F.col(id_col),
        reason.isNull().alias("passed"),
        reason.alias("fail_reason"),
    )


def quality_fail_reason(
    text_col: Column | str,
    min_tokens: int = 20,
    max_punct_ratio: float = 0.25,
    max_digit_ratio: float = 0.30,
    max_mean_word_len: float = 12.0,
    min_stopword_ratio: float = 0.05,
    tokens_col: Column | None = None,
) -> Column:
    """First-failed-rule verdict as a bare column expression (null =
    passed) — usable directly in a filter without a self-join back to
    the text, which is what pipeline compositions need at scale.
    ``tokens_col``: materialized token array for tokenize-once callers."""
    text_col = F.col(text_col) if isinstance(text_col, str) else text_col
    q = quality_features(text_col, tokens_col=tokens_col)
    return (
        F.when(q["n_tokens"] < min_tokens, F.lit("too_few_tokens"))
        .when(q["punct_ratio"] > max_punct_ratio, F.lit("high_punct_ratio"))
        .when(q["digit_ratio"] > max_digit_ratio, F.lit("high_digit_ratio"))
        .when(q["mean_word_len"] > max_mean_word_len, F.lit("long_words"))
        .when(q["stopword_ratio"] < min_stopword_ratio, F.lit("low_stopword_ratio"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    training-data step that turns variable-length documents into
    fixed-budget model inputs.

    Windows start every ``chunk_size - overlap`` tokens and carry up to
    ``chunk_size`` tokens, so consecutive chunks share ``overlap``
    tokens of context.  Empty documents yield no chunks; a final
    partial window is kept (its real length is in ``chunk_tokens``).

    Plan shape: tokenize -> sequence/explode of start offsets ->
    slice + join, all native array expressions in ONE map-side pass —
    no shuffle, no UDF, and the explode fan-out is rows x
    ceil(n_tokens/step), which at 100 TB distributes with the scan
    instead of concentrating anywhere.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    # tokenize-once pipelines pass their materialized token column
    src = (
        F.col(tokens_col) if tokens_col is not None else tokens(text_col)
    )
    d = df.select(F.col(id_col), src.alias("__toks"))
    d = d.withColumn("__n", F.size("__toks")).filter(F.col("__n") > 0)
    d = d.withColumn(
        "__start",
        F.explode(F.sequence(F.lit(0), F.col("__n") - 1, F.lit(step))),
    )
    return d.select(
        F.col(id_col),
        (F.col("__start") / step).cast("int").alias("chunk_index"),
        F.array_join(
            F.slice("__toks", F.col("__start") + 1, F.lit(chunk_size)), " "
        ).alias("chunk_text"),
        F.least(F.lit(chunk_size), F.col("__n") - F.col("__start")).alias(
            "chunk_tokens"
        ),
    )


def pack_sequences(
    chunks: DataFrame,
    budget: int = 512,
    num_shards: int = 8,
    id_col: str = "doc_id",
    index_col: str = "chunk_index",
    token_col: str = "chunk_tokens",
    salt: str = "pack",
) -> DataFrame:
    """Pack chunks into fixed token-budget training sequences (the
    chunk -> batch-row step after ``chunk_documents``).

    Greedy sequential packing, sharded for parallelism: each document's
    chunks hash to one of ``num_shards`` shards (a doc never splits
    across shards), and within a shard — ordered by (doc, chunk) — a
    chunk joins sequence ``floor(tokens_before_it / budget)``.  This is
    the streaming-concatenation packing LLM pipelines use (sequences
    fill to ~budget, a boundary-straddling chunk starts the next);
    exact first-fit bin packing is inherently sequential and buys a few
    percent fill at best.

    One shuffle, keyed on the shard (``num_shards`` is the parallelism
    knob — at 100 TB use O(cluster cores) shards); the window sum is a
    single running aggregate per shard.  Deterministic and
    engine-portable via the md5 shard hash.

    Output: (shard, sequence id unique within shard, doc, chunk index,
    chunk tokens, position of the chunk's first token in the packed
    stream).
    """
    from pyspark.sql import Window

    shard = F.pmod(
        portable_hash64(F.col(id_col), salt=salt), F.lit(num_shards)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col, index_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    return chunks.withColumn("shard", shard).select(
        "shard",
        F.floor((cum - F.col(token_col)) / F.lit(budget)).alias("seq_id"),
        F.col(id_col),
        F.col(index_col),
        F.col(token_col),
        (cum - F.col(token_col)).alias("stream_offset"),
    )


# ---------------------------------------------------------------------------
# Repetition analysis (Gopher-style quality rules)
# ---------------------------------------------------------------------------

def dup_token_fraction(toks: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token —
    1 - distinct/total.  Pure map-side column expression (no shuffle):
    the Gopher 'duplicate word fraction' repetition gate."""
    total = F.size(toks)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)) / total,
    ).otherwise(F.lit(0.0))


def top_ngram_fraction(toks: Column, n: int = 2) -> Column:
    """Fraction of all word n-grams taken by the single most frequent
    one (Gopher's 'top n-gram fraction') — computed WITHOUT a shuffle:
    the per-document mode of the n-gram multiset equals the longest
    equal-run of the SORTED n-gram array, found by one linear
    ``aggregate`` pass.  The alternative (explode + groupBy(doc, gram))
    shuffles ~tokens x rows for a document-local statistic; this stays
    in the scan stage at any corpus size."""
    from recover_spark.functions.text import word_ngrams_all_of

    grams = word_ngrams_all_of(toks, n)
    sorted_g = F.array_sort(grams)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    best = F.aggregate(sorted_g, init, step, lambda acc: acc["best"])
    return F.when(F.size(grams) > 0, best / F.size(grams)).otherwise(
        F.lit(0.0)
    )


# ---------------------------------------------------------------------------
# TF-IDF / vocabulary (corpus-level term statistics)
# ---------------------------------------------------------------------------

def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "__toks",
    k: int = 3,
    materialize_tf: bool = True,
) -> DataFrame:
    """Top-k TF-IDF terms per document (smoothed sklearn-style idf:
    ln((1+N)/(1+df)) + 1).

    Plan shape (the canonical distributed TF-IDF): one shuffle on
    (doc, term) builds term frequencies with map-side partial counts;
    document frequency and the score probe both consume THAT aggregate.
    The tf table is a DIAMOND (two consumers), and Spark will NOT reuse
    the exchange between them — column pruning makes the two subtrees
    canonically different, so without intervention the corpus is
    tokenized, exploded, and shuffled twice (measured: both branches
    re-scan).  ``materialize_tf`` (default) pins tf with a lazy
    localCheckpoint: ONE corpus pass, both consumers read the
    materialized partitions — the aggregated tf is vocabulary-dense and
    far smaller than the raw corpus, which is exactly the artifact a
    100 TB pipeline wants to pay for once.  Skew note: df comes from a
    groupBy (map-side partials), NEVER a window over ``term`` — a
    Zipfian hot term would make one window partition corpus-sized.

    N is a one-row broadcast, never a driver collect.  The idf join key
    is ``term`` — left to Catalyst/AQE, which broadcasts while the
    vocabulary is small and shuffles when it is not (a forced broadcast
    would OOM on an open-vocab corpus).  Scores are ROUNDED before
    ranking so the (score desc, term asc) order — and therefore top-k
    membership — is reproducible across engines regardless of libm ulp
    differences in ``ln``.
    """
    from pyspark.sql import Window

    exploded = docs.select(id_col, F.explode(tokens_col).alias("term"))
    tf = exploded.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if materialize_tf:
        tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        (F.log((1.0 + F.col("__n")) / (1.0 + F.col("df"))) + 1.0).alias(
            "idf"
        ),
    )
    scored = tf.join(idf, "term").select(
        id_col,
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", F.col("rnk").cast("int").alias("rnk"), "tfidf")
    )


def vocabulary_topk(
    docs: DataFrame,
    tokens_col: str = "__toks",
    k: int = 100,
) -> DataFrame:
    """Corpus vocabulary: the k most frequent tokens with deterministic
    (count desc, token asc) tie-breaking.  One shuffle with map-side
    partial counts; the top-k is a TakeOrdered (no global sort)."""
    return (
        docs.select(F.explode(tokens_col).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (map-only, codegen-friendly)
# ---------------------------------------------------------------------------

# Portable across Java regex and RE2 (no lookaround, ASCII \b only).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}",
}

_PII_TAGS = {"email": "<EMAIL>", "ip": "<IP>", "phone": "<PHONE>"}


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrence count of one PII pattern (bigint)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PII_PATTERNS[kind])).cast("long")


def redact_pii(col: Column | str) -> Column:
    """Replace emails, IPs, then phone numbers with typed tags.

    Order matters (emails contain dots that the IP pattern could
    otherwise chew on); each pass is a global regexp_replace — a single
    projection in the scan stage, no UDF, no shuffle.
    """
    c = F.col(col) if isinstance(col, str) else col
    for kind in ("email", "ip", "phone"):  # order is load-bearing
        c = F.regexp_replace(c, PII_PATTERNS[kind], _PII_TAGS[kind])
    return c


def hashed_feature_score(
    toks: Column,
    buckets: int = 1024,
    feature_salt: str = "qfeat",
    weight_salt: str = "qweight",
) -> Column:
    """Hashing-trick linear quality score over a MATERIALIZED token
    array: each token hashes into one of ``buckets`` feature slots, the
    slot's model coefficient is applied, and the mean contribution goes
    through a sigmoid -> (0, 1).

    This is the plumbing of a fastText-style linear quality classifier
    expressed as pure Catalyst (hash -> coefficient -> aggregate ->
    sigmoid): map-only, no shuffle, no UDF, no model file to ship to
    executors.  The COEFFICIENTS are a deterministic stand-in — slot b
    gets ``(hash(b) mod 2001 - 1000)/1000`` in [-1, 1] — standing where
    a trained model's weight vector would be loaded; swapping in real
    weights means replacing ``_slot_weight`` with a literal array
    lookup (``F.element_at(weights_lit, slot+1)``), same plan shape.
    Hashes are the engine-portable md5 scheme so an external oracle
    reproduces scores bit-for-bit (after rounding to 6 decimals:
    ``exp`` differs in the last ulp across libm implementations).
    """

    def _slot_weight(t: Column) -> Column:
        slot = F.pmod(
            portable_hash64(t, salt=feature_salt), F.lit(int(buckets))
        )
        raw = F.pmod(
            portable_hash64(slot.cast("string"), salt=weight_salt),
            F.lit(2001),
        )
        return (raw - F.lit(1000)) / F.lit(1000.0)

    n = F.greatest(F.size(toks), F.lit(1))
    mean_w = (
        F.aggregate(
            toks,
            F.lit(0.0),
            lambda acc, t: acc + _slot_weight(t),
        )
        / n
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean_w)), 6)


def quality_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """Model-based quality scoring pass: (id, token count, score).

    Tokenizes ONCE into a materialized column (higher-order lambdas are
    interpreted with no common-subexpression elimination) and scores in
    the same projection — a single map-only stage on the scan, the
    shape a classifier sweep over a 100 TB corpus must have.
    """
    return (
        df.select(
            id_col, tokens(F.col(text_col)).alias("__toks")
        )
        .select(
            id_col,
            F.size("__toks").alias("n_tokens"),
            hashed_feature_score(F.col("__toks"), buckets=buckets).alias(
                "quality_score"
            ),
        )
    )


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """Corpus-LM fluency score: each document's mean log probability of
    its tokens under the corpus's own (add-k smoothed) unigram model —
    the cheap language-model quality signal (gibberish and boilerplate
    sit in the tails; no external model needed because the corpus IS
    the model).

    Two aggregate passes over the exploded token stream, both
    map-side-combinable: (1) global unigram counts (vocabulary-sized
    output), (2) per-doc mean of ``log((count + k) / (N + k*V))`` via a
    token->frequency equi-join and a doc-keyed re-aggregation.  The
    frequency table shuffles at vocabulary size, not corpus size; the
    scalar (N, V) pair rides a one-row broadcast.  Nothing here is a
    UDF; log/round are JVM intrinsics.

    Output: (id, n_tokens, mean_logprob rounded to 6 — the summation
    order across engines differs in the last ulp).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # ONE corpus shuffle into the doc-token aggregate, pinned: it
    # feeds both the frequency fit and the scoring pass (Spark does
    # not reuse exchanges across differently-pruned branches — an
    # unpinned diamond re-tokenizes the corpus per consumer)
    dtf = (
        toks.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    freq = (
        dtf.groupBy("tok")
        .agg(F.sum("__c").alias("tf"))
        .localCheckpoint(eager=False)  # vocab-sized, 2 consumers
    )
    totals = freq.groupBy().agg(
        F.sum("tf").alias("N"), F.count(F.lit(1)).alias("V")
    )
    scored = (
        dtf.join(freq, "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            "__c",
            (
                F.log(
                    (F.col("tf") + F.lit(float(smoothing)))
                    / (F.col("N") + F.lit(float(smoothing)) * F.col("V"))
                )
            ).alias("__lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        # occurrence-weighted mean == avg over the exploded stream
        F.round(F.sum(F.col("__c") * F.col("__lp")) / F.sum("__c"), 6).alias(
            "mean_logprob"
        ),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 5,
    max_query_terms: int = 100_000,
    materialize_tf: bool = True,
) -> DataFrame:
    """Okapi BM25 retrieval: top-k documents per query with the
    Lucene-style non-negative idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``.

    The 100 TB shape is an inverted-index join, never a scan per query:
    - ONE (doc, term) shuffle builds term frequencies with map-side
      partial counts; document length REUSES that aggregate (sum of tf
      per doc) and document frequency reuses it too (count per term) —
      the raw corpus is tokenized and shuffled exactly once.
    - the query side is exploded to distinct (query, term) pairs and
      BROADCAST into the postings, so only postings of query terms ever
      leave the map side; corpus-sized postings for non-query terms are
      filtered before any further exchange.
    - (N, avgdl) ride a one-row broadcast; scoring is pure JVM
      arithmetic; the final per-query top-k is a query-keyed window
      over the already-tiny (query x matched-doc) score table.

    The broadcast contract is loud, not silent: more distinct query
    terms than ``max_query_terms`` raises (batch huge query sets
    through several calls) — same pattern as ops/similarity.py's exact
    paths.  Scores are rounded to 6 before ranking so top-k membership
    is reproducible across engines (ties break on doc id asc).
    """
    from pyspark.sql import Window

    qterms = queries.select(
        F.col(query_id_col),
        F.explode(tokens(F.col(query_text_col))).alias("term"),
    ).distinct()
    n_qterms = qterms.count()
    if n_qterms > max_query_terms:
        raise ValueError(
            f"bm25_topk: {n_qterms} distinct (query, term) pairs exceed "
            f"max_query_terms={max_query_terms}; the query side is "
            "broadcast by contract — batch the query set instead"
        )

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if materialize_tf:
        # tf feeds THREE consumers (doclen, df, postings); exchange
        # reuse does not fire across the pruned branches, so pin the
        # vocabulary-dense aggregate once instead of re-shuffling the
        # corpus three times (same diamond as tfidf_top_terms)
        tf = tf.localCheckpoint(eager=False)
    doclen = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = doclen.groupBy().agg(
        F.count(F.lit(1)).alias("N"), F.avg("dl").alias("avgdl")
    )

    postings = tf.join(F.broadcast(qterms), "term")
    scored = (
        postings.join(doclen, id_col)
        .join(dfreq.join(F.broadcast(qterms.select("term").distinct()), "term"), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            query_id_col,
            id_col,
            (
                F.log(
                    1.0
                    + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("__contrib"),
        )
    )
    per_doc = scored.groupBy(query_id_col, id_col).agg(
        F.round(F.sum("__contrib"), 6).alias("score")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("rank").cast("int").alias("rank"),
            id_col,
            "score",
        )
    )


def prf_expand_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 5,
    fb_docs: int = 3,
    fb_terms: int = 5,
    alpha: float = 0.6,
    k1: float = 1.2,
    b: float = 0.75,
    max_query_terms: int = 100_000,
) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (RM3-style two-pass BM25,
    Lavrenko & Croft's relevance models as deployed in Anserini/Indri):
    retrieve ``fb_docs`` per query with plain BM25, mine ``fb_terms``
    expansion terms from those feedback docs (weight = the length-
    normalized term mass sum tf/dl, the RM1 estimate under uniform
    feedback-doc priors), then re-score with the interpolated query
    model alpha * original + (1 - alpha) * normalized expansion.

    Everything deterministic for the cross-engine oracle: feedback
    membership uses pass-1's rounded-score ranking (doc-id tiebreak),
    expansion-term ranking rounds the raw weight to 9 (term-asc
    tiebreak), final scores round to 6 — the bm25_topk conventions.

    Scale shape: the (doc, term) aggregate is built ONCE and pinned
    (lazy localCheckpoint) — pass 1, term mining, and pass 2 all read
    it; both scoring passes broadcast only the tiny (query, term[,
    weight]) set into the postings, so non-query-term postings never
    leave the map side; feedback-doc term mining is an equi-join of
    the fb_docs * queries id set against that pinned aggregate.  The
    query side stays bounded by the same loud ``max_query_terms``
    contract as bm25_topk.
    """
    from pyspark.sql import Window

    qterms = queries.select(
        F.col(query_id_col),
        F.explode(tokens(F.col(query_text_col))).alias("term"),
    ).distinct()
    n_qterms = qterms.count()
    if n_qterms > max_query_terms:
        raise ValueError(
            f"prf_expand_topk: {n_qterms} distinct (query, term) pairs "
            f"exceed max_query_terms={max_query_terms}; the query side "
            "is broadcast by contract — batch the query set instead"
        )
    qterms = qterms.localCheckpoint(eager=False)

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    doclen = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = doclen.groupBy().agg(
        F.count(F.lit(1)).alias("N"), F.avg("dl").alias("avgdl")
    )

    def _contrib():
        return (
            F.log(
                1.0 + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        )

    def _score(weighted_terms: DataFrame, weight_col) -> DataFrame:
        return (
            tf.join(F.broadcast(weighted_terms), "term")
            .join(doclen, id_col)
            .join(dfreq, "term")
            .crossJoin(F.broadcast(corpus))
            .groupBy(query_id_col, id_col)
            .agg(F.round(F.sum(weight_col * _contrib()), 6).alias("score"))
        )

    w_rank = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    pass1 = _score(qterms, F.lit(1.0))
    fb = (
        pass1.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= fb_docs)
        .select(query_id_col, id_col)
    )

    # RM1 term mass over the feedback docs, original terms excluded
    fb_weights = (
        fb.join(tf, id_col)
        .join(doclen, id_col)
        .join(qterms, [query_id_col, "term"], "left_anti")
        .groupBy(query_id_col, "term")
        .agg(F.round(F.sum(F.col("tf") / F.col("dl")), 9).alias("w_raw"))
    )
    w_term = Window.partitionBy(query_id_col).orderBy(
        F.desc("w_raw"), F.asc("term")
    )
    expterms = fb_weights.withColumn(
        "trank", F.row_number().over(w_term)
    ).filter(F.col("trank") <= fb_terms)
    w_norm = Window.partitionBy(query_id_col)
    expterms = expterms.withColumn(
        "w", (1.0 - alpha) * F.col("w_raw") / F.sum("w_raw").over(w_norm)
    ).select(query_id_col, "term", "w")

    nq = qterms.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("nq"))
    orig = qterms.join(nq, query_id_col).select(
        query_id_col, "term", (F.lit(alpha) / F.col("nq")).alias("w")
    )
    # a term in both models accumulates both masses (RM3 interpolation)
    model = (
        orig.unionByName(expterms)
        .groupBy(query_id_col, "term")
        .agg(F.round(F.sum("w"), 9).alias("w"))
    )

    pass2 = _score(model, F.col("w"))
    return (
        pass2.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("rank").cast("int").alias("rank"),
            id_col,
            "score",
        )
    )


def bigram_logprob_scores(
    df: DataFrame,
    model_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-document mean log-probability under a bigram model with
    Stupid Backoff (Brants et al. 2007, "Large Language Models in
    Machine Translation"): score(w2|w1) = c(w1 w2)/c(w1) when the
    model saw the bigram, else alpha * p_add-k(w2) — the web-scale
    backoff that skips discount estimation entirely.  A sharper
    fluency signal than the unigram score (unigram_logprob_scores):
    scrambled word salad keeps its unigram score but collapses under
    the bigram model.

    ``model_docs`` is the corpus the model is FIT on (defaults to
    ``df`` itself — self-scoring, where backoff never fires because
    every scored bigram was counted).  Passing a held-out/trusted
    slice gives the domain-shift scorer: bigrams the model corpus
    never saw fall through to the add-k smoothed unigram backoff
    (never -inf, even for fully out-of-vocabulary words).

    Plan shape: bigrams build map-side (zip of the token array with
    its own 1-shift); the model's bigram and unigram tables shuffle at
    VOCABULARY size with map-side partials; scoring LEFT-joins the doc
    bigram stream against those tables on term keys (Catalyst/AQE
    broadcasts them while small) and re-aggregates per doc; the
    (N, V) scalars ride a one-row broadcast.  No UDFs anywhere.

    Output: (id, n_bigrams, mean_logprob rounded to 6).  Documents
    with fewer than two tokens are absent (no bigram evidence).
    """

    def _doc_bigrams(frame: DataFrame, with_id: bool) -> DataFrame:
        from recover_spark.functions.transforms import materialize_columns

        # Generate barrier: the zip references __t four times; without
        # it Catalyst substitutes tokens(text) into every reference
        toked = materialize_columns(
            frame.select(
                *([F.col(id_col)] if with_id else []), F.col(text_col)
            ),
            {"__t": tokens(F.col(text_col))},
        )
        return toked.select(
            *([id_col] if with_id else []),
            F.explode(
                F.expr(
                    "zip_with("
                    " slice(__t, 1, greatest(0, size(__t) - 1)),"
                    " slice(__t, 2, greatest(0, size(__t) - 1)),"
                    " (a, b) -> named_struct('w1', a, 'w2', b))"
                )
            ).alias("bg"),
        ).select(
            *([id_col] if with_id else []),
            F.col("bg.w1").alias("w1"),
            F.col("bg.w2").alias("w2"),
        )

    model = model_docs if model_docs is not None else df
    ucounts = (
        model.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("uc"))
        # vocab-sized with THREE consumers (totals, u1, u2) — pinned so
        # the model corpus is not re-tokenized per consumer
        .localCheckpoint(eager=False)
    )
    totals = ucounts.groupBy().agg(
        F.sum("uc").alias("N"), F.count(F.lit(1)).alias("V")
    )
    bcounts = _doc_bigrams(model, with_id=False).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("bc")
    )
    k = float(smoothing)
    scored = (
        _doc_bigrams(df, with_id=True)
        .join(bcounts, ["w1", "w2"], "left")
        .join(
            ucounts.select(F.col("w").alias("w1"), F.col("uc").alias("uc1")),
            "w1",
            "left",
        )
        .join(
            ucounts.select(F.col("w").alias("w2"), F.col("uc").alias("uc2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.when(
                F.col("bc").isNotNull(),
                F.log(F.col("bc") / F.col("uc1")),
            )
            .otherwise(
                F.log(
                    F.lit(float(alpha))
                    * (F.coalesce(F.col("uc2"), F.lit(0)) + F.lit(k))
                    / (F.col("N") + F.lit(k) * F.col("V"))
                )
            )
            .alias("__lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("__lp"), 6).alias("mean_logprob"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    boilerplate_df: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document cross-corpus n-gram novelty: over a document's
    DISTINCT ``shingle_size``-gram shingles, the fraction appearing in
    NO other document (``novelty``) and the fraction appearing in at
    least ``boilerplate_df`` documents (``boilerplate``) — the
    corpus-level complement to pair dedup: near-dup pairs find copies
    of whole documents, while a LOW novelty + HIGH boilerplate score
    flags templated/spun text whose pairwise similarity never crosses
    a dedup threshold (each page shares its shingles with hundreds of
    others, no single pair is close).

    Engine shape: one distinct (doc, shingle) pass, one shingle-keyed
    aggregate for document frequencies, one 1:1 equi-join back (each
    (doc, shingle) row meets exactly ONE df row — no stop-shingle
    quadratic blowup, unlike a pair join), one doc-keyed fold.  Docs
    too short to shingle surface with ``n_shingles = 0`` and NULL
    scores rather than vanishing.
    """
    shingled = (
        df.select(
            F.col(id_col), tokens(F.col(text_col)).alias("__toks")
        )
        .select(
            F.col(id_col),
            F.explode(
                word_ngrams_of(F.col("__toks"), shingle_size)
            ).alias("shingle"),
        )
        .distinct()
    )
    dfs = shingled.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df")
    )
    per_doc = (
        shingled.join(dfs, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.avg(F.when(F.col("__df") == 1, 1.0).otherwise(0.0))
                + F.lit(1e-9),
                round_digits,
            ).alias("novelty"),
            F.round(
                F.avg(
                    F.when(
                        F.col("__df") >= int(boilerplate_df), 1.0
                    ).otherwise(0.0)
                )
                + F.lit(1e-9),
                round_digits,
            ).alias("boilerplate"),
        )
    )
    spine = df.select(F.col(id_col)).distinct()
    return spine.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        "novelty",
        "boilerplate",
    )


def collocation_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_pair_count: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Corpus-level collocation extraction: adjacent word pairs scored
    by pointwise mutual information, PMI = log2(p(a,b) / (p_l(a) *
    p_r(b))) over the bigram-position model — the standard
    phrase-candidate miner (Church & Hanks 1990) a pipeline runs
    before building a phrase vocabulary or a tokenizer merge list,
    and the corpus-wide complement to ``basket_lift`` (which scores
    co-occurrence within unordered baskets; this scores ORDERED
    adjacency in text).

    Margins are bigram-position margins: p_l(a) = (bigrams starting
    with a) / T and p_r(b) = (bigrams ending with b) / T, so PMI = 0
    is exact independence under the positional model and the three
    probability tables share one denominator.

    Plan shape: bigrams build map-side (the token array zipped with
    its own 1-shift — same kernel as ``bigram_logprob_scores``), ONE
    fact shuffle counts distinct pairs, and both margins + the total
    derive FROM that count table (aggregate-sized group-bys of it),
    never from a second pass over the corpus.  The count table is
    checkpoint-pinned because four consumers hang off it (the
    aggregate-diamond lesson).  ``min_pair_count`` prunes the noise
    tail AFTER margins are taken, so rare pairs don't distort the
    denominator.  The count products run in double (int64 products
    of two corpus-scale counts overflow past ~3e9 — the KS lesson).
    """
    from recover_spark.functions.transforms import materialize_columns

    toked = materialize_columns(
        df.select(F.col(text_col)), {"__t": tokens(F.col(text_col))}
    )
    bigrams = toked.select(
        F.explode(
            F.expr(
                "zip_with("
                " slice(__t, 1, greatest(0, size(__t) - 1)),"
                " slice(__t, 2, greatest(0, size(__t) - 1)),"
                " (a, b) -> named_struct('w1', a, 'w2', b))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bcounts = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .localCheckpoint(eager=False)
    )
    left = bcounts.groupBy("w1").agg(F.sum("n_ab").alias("__la"))
    right = bcounts.groupBy("w2").agg(F.sum("n_ab").alias("__rb"))
    total = bcounts.groupBy().agg(F.sum("n_ab").alias("__t"))
    pmi = F.log2(
        F.col("n_ab").cast("double")
        * F.col("__t").cast("double")
        / (F.col("__la").cast("double") * F.col("__rb").cast("double"))
    )
    return (
        bcounts.filter(F.col("n_ab") >= int(min_pair_count))
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(pmi + F.lit(1e-9), round_digits).alias("pmi"),
        )
    )


def lexical_diversity(
    df: DataFrame,
    group_cols: Sequence[str],
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Per-group lexical diversity of the token stream: type count,
    type-token ratio, Guiraud's root-TTR (types / sqrt(tokens) — the
    length-robust form, since raw TTR collapses as documents grow),
    and the hapax share (fraction of TYPES occurring exactly once) —
    the vocabulary-richness screens that separate natural prose from
    template spam and looped generation, complementing the
    per-document repetition gates (``dup_token_fraction``) with a
    distribution-level view.  Group at ``doc_id`` grain for per-doc
    scores or at ``source`` grain for corpus-level diversity.

    Engine shape: tokens explode into ONE (group, term) count
    aggregate with map-side combine (the TF-IDF first stage); every
    statistic folds from that vocabulary-sized frame in one final
    aggregate — n_tokens = sum(c), n_types = count(*), hapax =
    count(c == 1).  Tokenization-bound at 10x like the TF-IDF/Zipf
    class.  Groups whose text tokenizes to nothing disappear (no
    tokens, no distribution).
    """
    group_cols = list(group_cols)
    toks = tokens(F.col(text_col))
    term_counts = (
        df.select(*group_cols, F.explode(toks).alias("__t"))
        .groupBy(*group_cols, "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = term_counts.groupBy(*group_cols).agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("__c") == 1).cast("long")).alias("__hapax"),
    )
    nt = F.col("n_tokens").cast("double")
    ty = F.col("n_types").cast("double")
    return agg.select(
        *group_cols,
        "n_tokens",
        "n_types",
        F.round(ty / nt + F.lit(1e-9), round_digits).alias("ttr"),
        F.round(ty / F.sqrt(nt) + F.lit(1e-9), round_digits).alias(
            "guiraud"
        ),
        F.round(
            F.col("__hapax").cast("double") / ty + F.lit(1e-9),
            round_digits,
        ).alias("hapax_share"),
    )


def readability(
    df: DataFrame,
    id_cols: Sequence[str],
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document Flesch reading ease + Flesch-Kincaid grade from
    regex-counted words, sentences, and vowel-group syllables — the
    audience/complexity screen of the quality family (quality_filter
    asks "is this junk", readability asks "who could read it"; a
    corpus whose grade collapses is template spam, one whose grade
    explodes is OCR soup or code).

    Syllables are approximated as vowel groups (``[aeiouy]+`` within
    word characters) — the standard dependency-free heuristic, biased
    ~5-10% low on silent-e words; the BIAS IS STABLE so comparisons
    and drift on the score remain meaningful (documented contract,
    like the BPE estimate).  Sentences are ``[.!?]+`` runs, floored at
    1 so fragment docs don't divide by zero.

    Pure per-row JVM regex counting — map-only, no shuffle, output
    fact-grain.  Empty/whitespace docs (0 words) yield NULL scores
    via ``try_divide``.
    """
    id_cols = list(id_cols)
    t = F.col(text_col)
    words = F.regexp_count(t, F.lit(r"[A-Za-z0-9']+")).cast("double")
    sents = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("double")
    sylls = F.regexp_count(
        F.lower(t), F.lit(r"[aeiouy]+")
    ).cast("double")
    wps = F.try_divide(words, sents)
    spw = F.try_divide(sylls, words)
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return df.select(
        *id_cols,
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        sylls.cast("long").alias("n_syllables"),
        F.round(
            F.when(words > 0, flesch) + F.lit(1e-9), round_digits
        ).alias("flesch_ease"),
        F.round(
            F.when(words > 0, fk) + F.lit(1e-9), round_digits
        ).alias("fk_grade"),
    )


def vocabulary_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise vocabulary overlap between corpus groups (sources,
    domains, snapshots): Jaccard similarity and containment of the
    DISTINCT-term sets — "are these two crawls the same content
    under different labels", the corpus-level screen that runs before
    any pair-of-documents dedup, and the quantitative form of "source
    X is just a mirror of Y".

    Engine shape: tokens collapse to the distinct (group, term)
    vocabulary (one aggregate), group sizes fold from it, and the
    intersection counts come from ONE term-keyed self-equi-join
    (``group_a < group_b``) — never a cartesian.  A term shared by k
    groups emits C(k, 2) pairs, so the join output is bounded by
    |vocabulary| * C(n_groups, 2); this operator is meant for the
    SOURCE grain (tens to hundreds of groups), not per-document pairs
    — that job belongs to the MinHash/SimHash family.

    Jaccard = |A ∩ B| / |A ∪ B|; containment = |A ∩ B| / min(|A|,|B|)
    (catches a small corpus swallowed whole by a large one, which
    Jaccard dilutes).  Group pairs with NO shared terms are absent
    from the output (an equi-join cannot see them — absence means
    jaccard 0).
    """
    vocab = (
        df.select(
            F.col(group_col).alias("__g"),
            F.explode(tokens(F.col(text_col))).alias("__t"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # two consumers: sizes + join
    )
    sizes = vocab.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__size")
    )
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.__t") == F.col("b.__t"))
            & (F.col("a.__g") < F.col("b.__g")),
        )
        .groupBy(
            F.col("a.__g").alias("group_a"),
            F.col("b.__g").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    out = (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("__g").alias("group_a"),
                    F.col("__size").alias("n_a"),
                )
            ),
            "group_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("__g").alias("group_b"),
                    F.col("__size").alias("n_b"),
                )
            ),
            "group_b",
        )
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    contain = F.least("n_a", "n_b")
    return out.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "n_common",
        F.round(
            F.col("n_common") / union.cast("double") + F.lit(1e-9),
            round_digits,
        ).alias("jaccard"),
        F.round(
            F.col("n_common") / contain.cast("double") + F.lit(1e-9),
            round_digits,
        ).alias("containment"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 200,
    round_digits: int = 6,
) -> DataFrame:
    """Zipf's-law conformance of the corpus vocabulary: OLS fit of
    log10(frequency) against log10(rank) over the top-N terms —
    natural text runs a slope near -1 with high R²; template spam,
    boilerplate floods, and synthetic/low-entropy corpora bend the
    line (the corpus-level health diagnostic that pairs with the
    per-document quality scores).

    Spark-first composition, not a new kernel: ONE vocabulary
    aggregate (map-side combine), a distributed top-N by (freq DESC,
    term ASC) — the deterministic tiebreak matters, rank is a fit
    INPUT — then ranking and the regression run on the N-row frame
    via the existing :func:`~recover_spark.operators.analytics.
    trend_regression` (regr_* mergeable built-ins).  Nothing after
    the vocabulary aggregate exceeds N rows.
    """
    from pyspark.sql import Window

    from recover_spark.operators.analytics import trend_regression

    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = vocab.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(
        int(top_n)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    ranked = top.withColumn("rank", F.row_number().over(w)).select(
        F.log10(F.col("rank").cast("double")).alias("__x"),
        F.log10(F.col("freq").cast("double")).alias("__y"),
    )
    return trend_regression(ranked, [], "__y", "__x")


def token_length_histogram(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Power-of-two token-length histogram per group — the
    sequence-length profile a packing/chunking planner reads before
    choosing chunk_size and the mix a truncation policy is judged
    against ("what fraction of source X exceeds the context window").

    Buckets are EXACT-INTEGER log2 bands: bucket = bit length of the
    token count (length of its binary representation — no float log
    whose boundary rounding could differ across engines), so bucket b
    covers [2^(b-1), 2^b - 1] for b >= 1; 0-token docs get their own
    bucket 0 with lo_tokens = hi_tokens = 0, so the [1, 1] band counts
    only true 1-token docs.  Map-only token counting (one regexp per
    row) + ONE
    (group, bucket) aggregate with map-side partials; output is
    bands x groups rows.

    Output: (group, bucket, lo_tokens, hi_tokens, n_docs, n_tokens,
    doc_share) — doc_share is within the group.
    """
    from pyspark.sql import Window

    from recover_spark.functions.text import token_count

    n = token_count(F.col(text_col))
    bucket = F.when(n == 0, F.lit(0)).otherwise(
        F.length(F.bin(n.cast("long")))
    )
    per = (
        df.select(
            F.col(group_col),
            bucket.cast("int").alias("bucket"),
            n.alias("__n"),
        )
        .groupBy(group_col, "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n").cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy(group_col)
    return per.select(
        group_col,
        "bucket",
        F.expr(
            "CASE WHEN bucket = 0 THEN 0L"
            " ELSE shiftleft(1L, bucket - 1) END"
        ).cast("long").alias("lo_tokens"),
        F.expr(
            "CASE WHEN bucket = 0 THEN 0L"
            " ELSE shiftleft(1L, bucket) - 1 END"
        ).cast("long").alias("hi_tokens"),
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w) + F.lit(1e-9), 6
        ).alias("doc_share"),
    ).orderBy(group_col, "bucket")


def textrank_keywords(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 5,
    damping: float = 0.85,
    iterations: int = 4,
    min_term_len: int = 3,
    round_digits: int = 7,
) -> DataFrame:
    """TextRank keyword extraction per group (Mihalcea & Tarau 2004):
    PageRank over the term co-occurrence graph — the unsupervised
    keyword surface a corpus card ships next to TF-IDF (TF-IDF ranks
    terms a DOC uses unusually often; TextRank ranks terms the
    group's text keeps using NEXT TO other central terms).

    Graph: terms of length >= ``min_term_len`` (filtered BEFORE
    pairing, so terms separated only by short/stop tokens become
    adjacent — the standard TextRank windowing over the filtered
    sequence), undirected edges weighted by adjacent co-occurrence
    count, one graph per group.  Terms with no surviving neighbor are
    not in the graph (a rank needs edges).

    Engine shape: ONE corpus pass to the (group, a, b, w) pair
    aggregate (the collocations shape, map-side partials); the
    transition table and per-group node counts are vocabulary-sized;
    each of the ``iterations`` fixed power steps is one
    (group, node)-keyed equi-join + one mergeable aggregate — never a
    window over the edge list, no driver actions inside the loop (the
    ops/graph.py:pagerank discipline; no dangling-mass term because
    every graph node has degree >= 1 by construction).  Scores are
    ROUNDED before the per-group top-k (score DESC, term ASC), the
    emb_outliers cross-engine comparison contract.

    Output: (group, term, score, rank), rank 1..top_k per group.
    """
    from pyspark.sql import Window

    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if iterations < 1 or top_k < 1:
        raise ValueError("iterations and top_k must be >= 1")
    g = F.col(group_col)
    filtered = F.filter(
        tokens(F.col(text_col)), lambda t: F.length(t) >= min_term_len
    )
    tokd = df.select(g.alias("__g"), filtered.alias("__t"))
    pairs = (
        tokd.select(
            "__g",
            F.explode(
                F.expr(
                    "zip_with("
                    " slice(__t, 1, greatest(0, size(__t) - 1)),"
                    " slice(__t, 2, greatest(0, size(__t) - 1)),"
                    " (a, b) -> named_struct('u', a, 'v', b))"
                )
            ).alias("p"),
        )
        .filter(F.col("p.u") != F.col("p.v"))
        .groupBy("__g", F.col("p.u").alias("__u"), F.col("p.v").alias("__v"))
        .agg(F.count(F.lit(1)).cast("double").alias("__w"))
    )
    und = (
        pairs.select("__g", "__u", "__v", "__w")
        .unionAll(
            pairs.select(
                "__g", F.col("__v").alias("__u"),
                F.col("__u").alias("__v"), "__w",
            )
        )
        .groupBy("__g", "__u", "__v")
        .agg(F.sum("__w").alias("__w"))
    )
    # Pin the degree table (r15, the ops/graph.py:pagerank treatment —
    # guide §2.1): nodes, n_g, the transition table and every
    # iteration's zero-fill all read outw; unpinned, each of the ~10
    # references re-embedded the corpus pair-aggregate subtree (full
    # scan + two shuffles per reference).  The rank/contrib frames are
    # vocabulary-sized, so they enter their joins as broadcasts —
    # checkpointed leaves are stat-less and would otherwise degrade
    # these node-keyed joins to SortMergeJoin.
    outw = und.groupBy("__g", "__u").agg(
        F.sum("__w").alias("__ow")
    ).localCheckpoint(eager=False)
    trans = (
        und.join(outw, ["__g", "__u"])
        .select(
            "__g", "__u", "__v", (F.col("__w") / F.col("__ow")).alias("__p")
        )
        .localCheckpoint(eager=False)
    )
    nodes = outw.select("__g", F.col("__u").alias("__node"))
    n_g = nodes.groupBy("__g").agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    d = float(damping)
    ranks = nodes.join(F.broadcast(n_g), "__g").select(
        "__g", "__node", (F.lit(1.0) / F.col("__n")).alias("__r")
    )
    for _ in range(int(iterations)):
        contrib = (
            trans.join(
                F.broadcast(
                    ranks.select(
                        "__g", F.col("__node").alias("__u"), "__r"
                    )
                ),
                ["__g", "__u"],
            )
            .groupBy("__g", F.col("__v").alias("__node"))
            .agg(F.sum(F.col("__p") * F.col("__r")).alias("__c"))
        )
        ranks = (
            nodes.join(F.broadcast(n_g), "__g")
            .join(F.broadcast(contrib), ["__g", "__node"], "left")
            .select(
                "__g",
                "__node",
                (
                    (1.0 - d) / F.col("__n")
                    + d * F.coalesce(F.col("__c"), F.lit(0.0))
                ).alias("__r"),
            )
        )
    scored = ranks.select(
        F.col("__g").alias(group_col),
        F.col("__node").alias("term"),
        F.round(F.col("__r") + F.lit(1e-12), round_digits).alias("score"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .orderBy(group_col, "rank")
    )


def corpus_self_bleu(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    id_col: str = "doc_id",
    block: int = 4096,
    round_digits: int = 6,
) -> DataFrame:
    """Corpus-level self-BLEU (BLEU-2) per group — the standard
    DIVERSITY audit for generated/synthetic corpora (Zhu et al. 2018,
    "Texygen"): score each document against a neighbor document from
    the same group as if it were a machine-translation reference; a
    high self-BLEU means the corpus is template-heavy/homogeneous
    (and, fed to training, teaches repetition), a low one means
    diverse.  Complements dedup: near-dup operators find PAIRS to
    drop, self-BLEU summarizes HOW self-similar the corpus is after
    them.

    Pairing contract (deterministic, engine-portable): within each
    (group, floor(id / block)) block, documents order by id and each
    document's REFERENCE is the next document in the block (the last
    document of a block is a reference only).  Blocking bounds every
    ordering window at ``block`` rows, so no per-group fact-sized
    sort exists at 100 TB; at most one pairless document per block is
    a boundary artifact, not a bias (ids carry no content order).

    Corpus BLEU-2 per group, empty-token docs dropped first:

        p_n  = sum_pairs sum_g min(cnt_cand(g), cnt_ref(g))
               / sum_pairs (len_cand - n + 1)+          (n = 1, 2)
        bp   = min(1, exp(1 - ref_len / cand_len))      (corpus totals)
        bleu = bp * sqrt(p1 * p2)                       (0 if any p_n = 0)

    Scale shape: tokenization and n-gram expansion are map-side; the
    clipped-match numerator is ONE (pair, n, gram) equi-join between
    the two per-pair count frames (never doc-pairs x vocabulary);
    denominators and BP ride the pair frame as length arithmetic —
    no second pass over grams.  Everything is Catalyst expressions.
    """
    from pyspark.sql import Window

    from recover_spark.functions.text import tokens

    base = (
        docs.select(
            F.col(group_col).alias("g"),
            F.col(id_col).cast("long").alias("__id"),
            tokens(F.col(text_col)).alias("__t"),
        )
        .filter(F.size("__t") > 0)
        .withColumn("__blk", (F.col("__id") / F.lit(int(block))).cast("long"))
    )
    w = Window.partitionBy("g", "__blk").orderBy("__id")
    paired = (
        base.withColumn("__rt", F.lead("__t", 1).over(w))
        .filter(F.col("__rt").isNotNull())
        .select(
            "g",
            F.col("__id").alias("__pair"),
            "__t",
            "__rt",
        )
    )
    paired = paired.localCheckpoint(eager=False)

    def gram_counts(tok_col: str, out: str) -> DataFrame:
        # (pair, n, gram) -> multiplicity, n in {1, 2}, map-side expand
        uni = F.transform(F.col(tok_col), lambda t: F.struct(
            F.lit(1).alias("n"), t.alias("gram")
        ))
        starts = F.when(
            F.size(tok_col) >= 2, F.sequence(F.lit(1), F.size(tok_col) - 1)
        ).otherwise(F.array().cast("array<int>"))
        bi = F.transform(
            starts,
            lambda i: F.struct(
                F.lit(2).alias("n"),
                F.concat_ws(
                    " ",
                    F.element_at(F.col(tok_col), i),
                    F.element_at(F.col(tok_col), i + 1),
                ).alias("gram"),
            ),
        )
        return (
            paired.select(
                "g", "__pair", F.explode(F.concat(uni, bi)).alias("__e")
            )
            .groupBy("g", "__pair", "__e.n", "__e.gram")
            .agg(F.count(F.lit(1)).alias(out))
        )
    cand = gram_counts("__t", "__c")
    ref = gram_counts("__rt", "__r")
    clipped = (
        cand.join(ref, ["g", "__pair", "n", "gram"])
        .groupBy("g", "n")
        .agg(F.sum(F.least("__c", "__r")).alias("__clip"))
    )
    lens = paired.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.size("__t")).cast("long").alias("cand_tokens"),
        F.sum(F.size("__rt")).cast("long").alias("ref_tokens"),
        F.sum(F.greatest(F.size("__t") - 1, F.lit(0)))
        .cast("long")
        .alias("__tot2"),
    )
    wide = lens.join(
        clipped.groupBy("g").pivot("n", [1, 2]).sum("__clip"), "g", "left"
    ).select(
        "g",
        "n_pairs",
        "cand_tokens",
        "ref_tokens",
        "__tot2",
        F.coalesce(F.col("1"), F.lit(0)).alias("__m1"),
        F.coalesce(F.col("2"), F.lit(0)).alias("__m2"),
    )
    p1 = F.try_divide(
        F.col("__m1").cast("double"), F.col("cand_tokens").cast("double")
    )
    p2 = F.try_divide(
        F.col("__m2").cast("double"), F.col("__tot2").cast("double")
    )
    bp = F.least(
        F.lit(1.0),
        F.exp(
            F.lit(1.0)
            - F.try_divide(
                F.col("ref_tokens").cast("double"),
                F.col("cand_tokens").cast("double"),
            )
        ),
    )
    bleu = F.when(
        (p1 > 0) & (p2 > 0), bp * F.sqrt(p1 * p2)
    ).otherwise(F.lit(0.0))
    return wide.select(
        F.col("g").alias(group_col),
        "n_pairs",
        "cand_tokens",
        "ref_tokens",
        F.round(p1 + F.lit(1e-9), round_digits).alias("p1"),
        F.round(p2 + F.lit(1e-9), round_digits).alias("p2"),
        F.round(bp + F.lit(1e-9), round_digits).alias("bp"),
        F.round(bleu + F.lit(1e-9), round_digits).alias("self_bleu"),
    )


def kneser_ney_bigrams(
    df: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
    min_count: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman 1999's benchmark-winning smoothing) — the principled
    upgrade over :func:`bigram_logprob_scores`' Stupid Backoff:
    absolute discounting with the mass re-invested through CONTINUATION
    probability ("how many contexts does w2 complete?"), the fix for
    high-frequency words that only ever follow one context.

        P_kn(w2|w1) = max(c(w1w2) - d, 0) / c(w1·)
                      + d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)

    with c(w1·) the context total, N1+(w1·) the context's distinct
    continuations, N1+(·w2) the word's distinct left-contexts, and
    N1+(··) the distinct-bigram total — all exact counts off ONE
    bigram table, so the model is fully deterministic and
    SQL-oracle-able; probabilities per context sum to 1 over the
    event space by construction (pinned in tests).

    Plan shape: bigrams build map-side (the zip-shift), ONE
    vocabulary-sized (w1, w2) count shuffle, and every derived table
    (context totals, fan-outs, continuation counts, the one-row
    distinct-bigram total) re-aggregates that table at vocab size —
    the corpus is read once; joins are vocab-sized (Catalyst/AQE
    broadcasts them while small).  No UDFs.

    Output: (w1, w2, bigram_count, p_kn) for bigrams with count >=
    ``min_count``.
    """
    if not 0.0 < discount < 1.0:
        raise ValueError("discount must be in (0, 1)")
    from recover_spark.functions.transforms import materialize_columns

    toked = materialize_columns(
        df.select(F.col(text_col)), {"__t": tokens(F.col(text_col))}
    )
    bigrams = toked.select(
        F.explode(
            F.expr(
                "zip_with("
                " slice(__t, 1, greatest(0, size(__t) - 1)),"
                " slice(__t, 2, greatest(0, size(__t) - 1)),"
                " (a, b) -> named_struct('w1', a, 'w2', b))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bc = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("bigram_count"))
        # vocab-sized with FOUR consumers — pinned so the corpus-sized
        # bigram stream aggregates once
        .localCheckpoint(eager=False)
    )
    ctx = bc.groupBy("w1").agg(
        F.sum("bigram_count").alias("ctx_total"),
        F.count(F.lit(1)).alias("fanout"),
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n_contexts"))
    total = bc.groupBy().agg(F.count(F.lit(1)).alias("n_distinct_bigrams"))
    d = float(discount)
    return (
        bc.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(total))
        .filter(F.col("bigram_count") >= int(min_count))
        .select(
            "w1",
            "w2",
            "bigram_count",
            (
                F.round(
                    F.greatest(
                        F.col("bigram_count") - F.lit(d), F.lit(0.0)
                    )
                    / F.col("ctx_total")
                    + (F.lit(d) * F.col("fanout") / F.col("ctx_total"))
                    * (F.col("n_contexts") / F.col("n_distinct_bigrams"))
                    + F.lit(1e-9),
                    round_digits,
                )
                + F.lit(0.0)
            ).alias("p_kn"),
        )
    )
