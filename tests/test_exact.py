"""The exact-emission rule is spelled once: `functions.exact`.

The helpers must give bit-equal results in Spark and DuckDB (the
oracle engine), including at the rounding boundaries and magnitudes
where hand-written emissions broke at sf1; the round-div pair must be
half-away-from-zero integer division. A token-level lint keeps the
micro-unit literal out of every other package file, so a new site has
to use the helpers.
"""

from __future__ import annotations

import io
import pathlib
import re
import tokenize
from fractions import Fraction

import duckdb

from rag_system_vector_db_spark.functions.exact import (
    dd_round_div,
    emit_micro,
    from_micro,
    round6,
    round_div,
    to_micro,
)

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "rag_system_vector_db_spark"

VALUES = [0.0, 1e-7, -1e-7, 4.999999e-7, -4.999999e-7, 5e-7, -5e-7, 2.5e-6, -2.5e-6, 0.1234565, 1.26e9, 4.8e9, None]


def _dd_double(x):
    return "CAST(NULL AS DOUBLE)" if x is None else f"CAST('{x!r}' AS DOUBLE)"


def _exact(v):
    return None if v is None else (type(v).__name__, repr(v))


def test_micro_helpers_bit_equal_across_engines(spark):
    """A value in micro-units converts and displays identically. (A raw
    double does not: round(-1e-7, 6) is 0.0 in Spark and -0.0 in
    DuckDB, which is why emit_micro takes micro-units.)"""
    u = to_micro("x")
    exprs = [u, from_micro(u), emit_micro(u), from_micro("x")]
    df = spark.createDataFrame([(x,) for x in VALUES], "x double")
    got = [[_exact(v) for v in r] for r in df.selectExpr(*exprs).collect()]
    rows = ", ".join(f"({_dd_double(x)})" for x in VALUES)
    sql = f"SELECT {', '.join(exprs)} FROM (VALUES {rows}) AS t(x)"
    want = [[_exact(v) for v in r] for r in duckdb.sql(sql).fetchall()]
    assert got == want


A = [-7, -6, -1, 0, 1, 6, 7, 2**50 + 1]
B = [1, 2, 3, 13]


def _half_away(a: int, b: int) -> int:
    q = Fraction(a, b)
    r = int(abs(q) + Fraction(1, 2))  # floor, as |q| + 1/2 >= 0
    return r if q >= 0 else -r


def test_round_div_is_half_away_in_both_engines(spark):
    pairs = [(a, b) for a in A for b in B]
    want = [_half_away(a, b) for a, b in pairs]
    df = spark.createDataFrame(pairs, "a long, b long")
    assert [r[0] for r in df.selectExpr(round_div("a", "b")).collect()] == want
    rows = ", ".join(f"(CAST({a} AS BIGINT), CAST({b} AS BIGINT))" for a, b in pairs)
    sql = f"SELECT {dd_round_div('a', 'b')} FROM (VALUES {rows}) AS t(a, b)"
    assert [r[0] for r in duckdb.sql(sql).fetchall()] == want


def test_round6_is_half_away_from_zero():
    assert round6(2.5e-6) == 3e-6 and round6(-2.5e-6) == -3e-6
    assert round6(0.25) == 0.25 and round6(-0.0) == 0.0
    assert round6(float("nan")) != round6(float("nan"))


# --- lint ------------------------------------------------------------------

# The micro unit as a literal: 1000000, 1_000_000 or 1e6 (1e+6), with or
# without a trailing .0, not inside a longer number (1000000000, 1e60).
MICRO_LITERAL = re.compile(r"(?<![\w.])1(?:000000|_000_000|(?:\.0)?e\+?6)(?:\.0)?(?![\w.])")

HOME = "functions/exact.py"

# Literals of the same value that are not the micro unit, with the reason.
EXCEPTIONS = [
    ("plans/analytics.py", "(ts_us - click_ts_us) div 1000000", "microseconds to whole seconds"),
    ("plans/analytics.py", "w_us = window_s * 1_000_000", "seconds to microseconds"),
    ("registry_parts/part02_index_build_diag_curation.py", "(ts_us - click_ts_us) // 1000000", "microseconds to whole seconds"),
    ("registry_parts/part03_samplegen_retrieval_stats.py", "dt // 1000000", "nanoseconds to milliseconds"),
    ("registry_parts/part03_samplegen_retrieval_stats.py", "dt div 1000000", "nanoseconds to milliseconds"),
    ("registry_parts/part03_samplegen_retrieval_stats.py", "(first_purchase - first_view) // 1000000", "nanoseconds to milliseconds"),
    ("registry_parts/part03_samplegen_retrieval_stats.py", "(fp - fv) div 1000000", "nanoseconds to milliseconds"),
    ("sources/writer.py", "max_records_per_file: int = 1_000_000", "a row count"),
]


def _offences(src: str):
    """(line, text) of each micro-unit literal in code or in a string;
    comments are not looked at."""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in (tokenize.NUMBER, tokenize.STRING):
            for m in MICRO_LITERAL.finditer(tok.string):
                line = tok.start[0] + tok.string.count("\n", 0, m.start())
                yield line, src.splitlines()[line - 1].strip()


def _unexcused(rel: str, src: str, used: set):
    for line, text in _offences(src):
        excused = [e for e in EXCEPTIONS if e[0] == rel and e[1] in text]
        used.update(excused)
        if not excused:
            yield f"{rel}:{line}: {text}"


def test_lint_flags_every_spelling():
    bad = [
        "x = 1000000",
        "x = 1_000_000.0",
        "x = v / 1e6",
        "x = -1e6",
        'q = "round(v / 1e6, 6)"',
        "q = f'{a} * 1000000.0'",
        '"""a docstring with 1e6 in it"""',
    ]
    assert [len(list(_offences(s))) for s in bad] == [1] * len(bad)
    ok = "x = 1000000000  # 1e6 in a comment\ny = 3500000 + 1e-6 + 1e12 + 2_000_000\n"
    assert not list(_offences(ok))
    used: set = set()
    found = list(_unexcused("plans/analytics.py", "q = 'ts div 1000000'\n", used))
    assert found == ["plans/analytics.py:1: q = 'ts div 1000000'"]


def test_micro_literal_only_in_exact():
    used: set = set()
    found = [
        hit
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.relative_to(PACKAGE).as_posix() != HOME
        for hit in _unexcused(p.relative_to(PACKAGE).as_posix(), p.read_text(), used)
    ]
    assert not found, "spell micro-units with functions.exact:\n" + "\n".join(found)
    assert used == set(EXCEPTIONS), f"stale exceptions: {set(EXCEPTIONS) - used}"

