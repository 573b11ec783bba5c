"""Text expressions: tokenize, shingle, stopwords.

Single-space tokenization is used (the synthetic corpus joins words
with single spaces) so the DuckDB oracle's ``string_split(text, ' ')``
produces byte-identical token arrays; ``tokens`` is that rule, once.
All JVM-side; every helper takes the SQL text of a string expression
(a column name, say) and returns SQL text, as functions.vector does:
callers wrap it in ``F.expr`` or ``selectExpr``, or nest it.
"""

from __future__ import annotations

from .vector import sql_literal

# Small English stopword list (public-domain words); order matters only
# for documentation — membership tests are set-like in both engines.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "is", "are", "was", "be", "it", "this", "that", "with", "as", "at",
)


def tokens(text: str) -> str:
    """The token array: split on single spaces, as DuckDB's
    string_split does."""
    return f"split({text}, ' ')"


def token_count(text: str) -> str:
    return f"size({tokens(text)})"


def word_shingles(text: str, n: int = 3) -> str:
    """Word n-gram shingles of the SQL string expression ``text`` as
    space-joined strings; [] for texts shorter than n tokens.

    One regex, not an array fold: at every token start (the string
    start or just after a space) a zero-width lookahead captures the n
    space-separated tokens that follow, empty tokens included, so the
    matches are exactly the windows of ``split(text, ' ')``. Positions
    with fewer than n tokens left do not match. regexp_extract_all is
    code-generated; higher-order functions (the zip_with fold over
    shifted slices this replaced) run interpreted as CodegenFallback,
    and the fold cost ~40% more on the ingest shingle stage. Map-side
    only — no shuffle, unlike a posexplode+lead window plan.
    """
    if n < 1:
        raise ValueError(f"word_shingles: n must be >= 1, got {n}")
    return f"regexp_extract_all({text}, '(?<=^| )(?=([^ ]*(?: [^ ]*){{{n - 1}}}))', 1)"


def char_shingles(text: str, n: int = 8) -> str:
    """Character n-gram shingles of a SQL string expression
    (fingerprinting / near-dup)."""
    k = f"length({text}) - {n - 1}"
    return (
        f"CASE WHEN {k} <= 0 THEN array({text})"
        f" ELSE transform(sequence(1, {k}), i -> substring({text}, i, {n})) END"
    )


def stopword_count(text: str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> str:
    """Stopword tokens in a SQL string expression."""
    sw = sql_literal(stopwords)
    return f"size(filter({tokens(text)}, t -> array_contains({sw}, t)))"


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
