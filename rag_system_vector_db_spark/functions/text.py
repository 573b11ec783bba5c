"""Text expressions: tokenize, shingle, stopwords.

Single-space tokenization is used (the synthetic corpus joins words
with single spaces) so the DuckDB oracle's ``string_split(text, ' ')``
produces byte-identical token arrays; ``_split`` is that rule, once.
All JVM-side; every helper takes a SQL string expression (a column
name, say) and returns one ``F.expr``, as functions.vector does.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .vector import sql_literal

# Small English stopword list (public-domain words); order matters only
# for documentation — membership tests are set-like in both engines.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "is", "are", "was", "be", "it", "this", "that", "with", "as", "at",
)


def _split(text: str) -> str:
    """SQL text of the token array: split on single spaces, as DuckDB's
    string_split does."""
    return f"split({text}, ' ')"


def tokens(text: str) -> Column:
    return F.expr(_split(text))


def token_count(text: str) -> Column:
    return F.expr(f"size({_split(text)})")


def word_shingles(text: str, n: int = 3) -> Column:
    """Word n-gram shingles of the SQL string expression ``text`` as
    space-joined strings; [] for texts shorter than n tokens.

    Built by zip_with-folding n shifted slices of the token array.
    Higher-order functions run interpreted (CodegenFallback), so the
    per-element lambda must be cheap: a 2-arg concat here benches ~3x
    faster than the transform(sequence, i -> concat_ws(slice(toks,i,n)))
    formulation, whose per-element slice allocates an array each call.
    Map-side only — no shuffle, unlike a posexplode+lead window plan.
    The HOFs are SQL text, as in functions.vector: a Python lambda
    costs a py4j round trip per node.
    """
    toks = _split(text)
    k = f"size({toks}) - {n - 1}"
    out = f"slice({toks}, 1, {k})"
    for i in range(1, n):
        out = f"zip_with({out}, slice({toks}, {i + 1}, {k}), (a, b) -> concat_ws(' ', a, b))"
    return F.expr(f"CASE WHEN {k} <= 0 THEN CAST(array() AS ARRAY<STRING>) ELSE {out} END")


def char_shingles(text: str, n: int = 8) -> Column:
    """Character n-gram shingles of a SQL string expression
    (fingerprinting / near-dup)."""
    k = f"length({text}) - {n - 1}"
    return F.expr(
        f"CASE WHEN {k} <= 0 THEN array({text})"
        f" ELSE transform(sequence(1, {k}), i -> substring({text}, i, {n})) END"
    )


def stopword_count(text: str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Stopword tokens in a SQL string expression."""
    sw = sql_literal(stopwords)
    return F.expr(f"size(filter({_split(text)}, t -> array_contains({sw}, t)))")


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
