"""Exact emission in micro-units, as SQL text for both engines.

SURVEY §6's exact-emission rule: a displayed float is ONE double
conversion of an exact cross-engine integer. A value becomes micro-units
(a BIGINT, ``to_micro``) before any order-sensitive step such as a sum;
integer work stays integer (``round_div`` for a half-away division);
the result leaves as one division by 10^6 (``from_micro``), rounded to
6 decimals when it is displayed (``emit_micro``). Integer sums are
associative, so Spark's partial aggregates and DuckDB's scan order give
the same integer at any scale, and so the same double.

This module is the only place the micro unit is spelled (a lint in
tests/test_exact.py keeps it so). Builders take and return SQL text,
as functions.vector and functions.hashing do; callers wrap the text in
``F.expr`` or ``selectExpr`` on the Spark side and splice it into the
oracle's SQL on the DuckDB side. ``to_micro``, ``from_micro`` and
``emit_micro`` read the same in both engines: both parse
``CAST(round(x * 1000000) AS BIGINT)`` and type ``1e6`` as DOUBLE. Their
integer divisions do not share a spelling (``div`` in Spark, ``//`` in
DuckDB), so ``round_div`` comes as a pair.

Arguments are parenthesized, so any expression can be passed; the
parentheses do not change the expression tree either engine builds.
"""

from __future__ import annotations

import math

# Micro-units per unit. Sites that are not one of the forms below (a
# per-count mean u / (n * 10^6), a fixed-point product, a label in
# micro-units) spell the unit with this name.
MICRO = 1000000


def to_micro(x: str) -> str:
    """x in micro-units, rounded half away from zero to a BIGINT."""
    return f"CAST(round(({x}) * {MICRO}) AS BIGINT)"


def from_micro(u: str) -> str:
    """Micro-units back to a DOUBLE: one division."""
    return f"(({u}) / 1e6)"


def emit_micro(u: str) -> str:
    """A micro-unit value displayed to 6 decimals."""
    return f"round(({u}) / 1e6, 6)"


def _round_div(a: str, b: str, div: str) -> str:
    return f"(2 * ({a}) + CASE WHEN ({a}) < 0 THEN -({b}) ELSE ({b}) END) {div} (2 * ({b}))"


def round_div(a: str, b: str) -> str:
    """Integer a / b (b > 0) rounded half away from zero, in Spark SQL:
    ``(2a ± b) div 2b``, where both engines truncate toward zero."""
    return _round_div(a, b, "div")


def dd_round_div(a: str, b: str) -> str:
    """round_div in DuckDB SQL."""
    return _round_div(a, b, "//")


def round6(x: float) -> float:
    """x rounded to 6 decimals, half away from zero, on the driver.

    Spark's ``round(x, 6)`` and DuckDB's ``round(x, 6)`` both round half
    away from zero; this is the Python side of the same rule, for a value
    computed on the driver (a replay oracle's literal, a driver-side
    fixed point). Python's ``round`` rounds half to even and would not
    match. NaN passes through.

    A raw ``round(x, 6)`` of a computed double, in either engine or
    here, is legal only when both engines compute x by the same IEEE
    operations in the same order (a per-row expression, a fold in a
    fixed order, a ratio of two exact integers) and ulp(x) is far below
    1e-6. A sum over rows in engine order, or a value of 1e9 or more,
    must go through micro-units instead (``to_micro`` ... ``emit_micro``).
    The lint cannot tell these cases apart; the reviewer must.
    """
    if x != x:  # NaN
        return x
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)
