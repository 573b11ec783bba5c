"""Text expressions: tokenize, shingle, stopwords.

Single-space tokenization is used (the synthetic corpus joins words
with single spaces) so the DuckDB oracle's ``string_split(text, ' ')``
produces byte-identical token arrays. All Column-expression / JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .vector import lit_array

# Small English stopword list (public-domain words); order matters only
# for documentation — membership tests are set-like in both engines.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "is", "are", "was", "be", "it", "this", "that", "with", "as", "at",
)


def tokens(col: Column) -> Column:
    """Split on single spaces (portable with DuckDB string_split)."""
    return F.split(col, " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as space-joined strings; [] for texts
    shorter than n tokens.

    Built by zip_with-folding n shifted slices of the token array.
    Higher-order functions run interpreted (CodegenFallback), so the
    per-element lambda must be cheap: a 2-arg concat here benches ~3x
    faster than the transform(sequence, i -> concat_ws(slice(toks,i,n)))
    formulation, whose per-element slice allocates an array each call.
    Map-side only — no shuffle, unlike a posexplode+lead window plan.
    """
    toks = tokens(col)
    k = F.size(toks) - F.lit(n - 1)
    out = F.slice(toks, 1, k)
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, i + 1, k), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(out)


def char_shingles(col: Column, n: int = 8) -> Column:
    """Character n-gram shingles (fingerprinting / near-dup)."""
    k = F.length(col) - F.lit(n - 1)
    return F.when(k <= 0, F.array(col)).otherwise(
        F.transform(F.sequence(F.lit(1), k), lambda i: F.substring(col, i, n))
    )


def stopword_count(col: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = tokens(col)
    sw = lit_array(stopwords)
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


# --- DuckDB oracle snippets (same semantics) ---


def dd_tokens(expr: str) -> str:
    return f"string_split({expr}, ' ')"


def dd_word_shingles(expr: str, n: int = 3) -> str:
    toks = dd_tokens(expr)
    return (
        f"(CASE WHEN len({toks}) < {n} THEN []::VARCHAR[] ELSE "
        f"[array_to_string(({toks})[i + 1 : i + {n}], ' ') "
        f"FOR i IN range(len({toks}) - {n} + 1)] END)"
    )


def dd_stopword_count(expr: str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> str:
    sw = ", ".join(f"'{w}'" for w in stopwords)
    return f"len(list_filter({dd_tokens(expr)}, t -> list_contains([{sw}], t)))"
