"""Text-analysis column expressions for training-data pipelines.

All pure Catalyst expressions (split/regexp/aggregate) — no UDFs, so the
100 TB path stays in whole-stage codegen and is trivially parallel.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English/function-word list for the n-gram-free language heuristic.
_EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]

_TOKEN_RE = r"[A-Za-z0-9']+"
# BPE-ish token estimate: word pieces + digits + non-space punctuation.
_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace/punctuation tokenization -> array<string> (lowercased)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), r"[^a-z0-9']+"), lambda t: F.length(t) > 0
    )


def token_count(col: Column | str) -> Column:
    """Whitespace-ish token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_TOKEN_RE))


def bpe_token_estimate(col: Column | str) -> Column:
    """BPE-flavored token-count estimate via a piece regex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_BPE_RE))


def _window_starts(n_items: Column, width: int) -> Column:
    """1..(n_items-width+1), or an empty array when the input is shorter
    than one window (a bare ``sequence(1, 0)`` would yield [1, 0])."""
    last = n_items - (width - 1)
    return F.when(last >= 1, F.sequence(F.lit(1), last)).otherwise(
        F.array().cast("array<int>")
    )


def word_ngrams_of(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from a MATERIALIZED token-array column.

    ``toks`` must be a plain column reference, not an inline
    ``tokens(...)`` expression: higher-order lambdas are interpreted
    without common-subexpression elimination, so an inline expression is
    re-evaluated on every ``element_at`` access (measured 60x slower).
    Windows use O(1) ``element_at`` lookups, not ``slice`` copies.
    """
    if n == 1:
        return F.array_distinct(toks)
    grams = F.transform(
        _window_starts(F.size(toks), n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def word_ngrams_all_of(toks: Column, n: int = 2) -> Column:
    """ALL word n-grams (duplicates kept, document order) from a
    MATERIALIZED token-array column — the repetition-analysis input,
    where multiplicity is the signal ``word_ngrams_of`` deliberately
    discards.  Same O(1) ``element_at`` window walk."""
    if n == 1:
        return toks
    return F.transform(
        _window_starts(F.size(toks), n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )


def stopword_ratio(
    col: Column | str,
    stopwords: list[str] | None = None,
    tokens_col: Column | None = None,
) -> Column:
    """Fraction of tokens that are common English function words.
    Pass ``tokens_col`` (a materialized token array) from tokenize-once
    pipelines — the inline form re-tokenizes per reference (HOFs get no
    common-subexpression elimination)."""
    toks = tokens(col) if tokens_col is None else tokens_col
    sw = F.array(*[F.lit(w) for w in (stopwords or _EN_STOPWORDS)])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, n_sw / F.size(toks)).otherwise(F.lit(0.0))


def quality_features(
    col: Column | str, tokens_col: Column | None = None
) -> Column:
    """Quality-scoring feature struct: lengths, punctuation/digit/space
    ratios, mean word length, stopword ratio.  ``tokens_col`` as in
    ``stopword_ratio``."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    n_digit = F.regexp_count(c, F.lit(r"[0-9]"))
    n_space = F.regexp_count(c, F.lit(r"\s"))
    safe = F.greatest(n_chars, F.lit(1))
    return F.struct(
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (n_punct / safe).alias("punct_ratio"),
        (n_digit / safe).alias("digit_ratio"),
        (n_space / safe).alias("space_ratio"),
        F.when(n_tokens > 0, (n_chars - n_space) / n_tokens)
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        stopword_ratio(c, tokens_col=tokens_col).alias("stopword_ratio"),
    )
