"""Vector math as SQL text, for Spark and for the DuckDB oracle.

The one module that knows vector arithmetic. Each Spark builder
returns the SQL text of one expression; callers wrap it in ``F.expr``
or ``selectExpr``. Its ``dd_`` twin returns the DuckDB text of the same
arithmetic, for the oracles, as ``functions.text`` pairs
``word_shingles`` with ``dd_word_shingles``. An argument is SQL text
too: a column reference (``"embedding"``, ``"a.embedding"``), a lambda
variable of an enclosing higher-order function, or a literal from
``sql_literal``. Enclosing lambdas must not name their variables
``x``, ``y``, ``acc`` or ``v``, which the folds below use.

Exactness. Every float fold is a sequential left-to-right double sum
(``aggregate(zip_with(...), 0D, (acc, v) -> acc + v)`` in Spark,
``list_sum(list_transform(list_zip(...), ...))`` in DuckDB), and the
two engines agree bit for bit; integer folds (SQ8 code distances,
sign bits) are exact BIGINTs. tests/test_vector_sql.py checks every
pair with ``==``, and its token lint keeps the fold shapes in this
module.

Zero vectors. ``cosine`` divides with ``try_divide``: a zero-norm side
scores NULL, as DuckDB's ``x / 0`` does, and every ranker orders
``score DESC NULLS LAST`` (knn.topk, knn.topk_per_key), so one empty
document ranks last instead of failing the query; a threshold
``score >= t`` drops it on both engines.

Norm hoist. A pair scorer over N vectors and P pairs can take each
norm once per vector, as a column (``cosine(a, b, "a._nrm",
"b._nrm")``), instead of twice per pair. The norm is the same
sequential-sum double either way, so the score is the same arithmetic
tree, bit for bit. HOFs evaluate interpreted (CodegenFallback), so
dropping two of three folds per pair pays: semdedup's 2.5M-pair sf1
study fell from 25.3 s to ~12 s, and topk_batch's 500-query
classifier eval at sf0.1 from 7.5 s to 2.8 s.

Why text: a ``zip_with``/``aggregate`` built from Python lambdas
costs a py4j round trip per lambda node, so one cosine took ~335
calls to build; the same expression as one ``F.expr`` string takes
~3. Session SQL functions (``CREATE TEMPORARY FUNCTION``) were
measured and rejected: the first ``spark.sql`` added ~2 s to session
start, and re-resolving the function body added ~11 ms of analysis
per use. ``F.expr`` text needs no registration and no per-session
state. The evaluation stays in the JVM (no Python workers);
operators.knn.topk_batch_np (Arrow + BLAS) is the raw-throughput
path.

Reference parity: scripts/prepare_data.py:101 (test_similarity dot
matrix), scripts/milvus_db.py:40 (COSINE metric collections).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import _from_numpy_type


def sql_literal(x) -> str:
    """SQL text of a driver constant (a number, a string, or nested
    lists of them), typed as ``F.lit`` would type it."""
    if isinstance(x, (list, tuple)):
        return "array(" + ", ".join(map(sql_literal, x)) + ")"
    if isinstance(x, np.number):  # F.lit casts it to its dtype's Spark type
        return f"CAST({sql_literal(x.item())} AS {_from_numpy_type(x.dtype).simpleString()})"
    if isinstance(x, int):
        return str(x)
    if isinstance(x, float):
        # CAST('inf' ...) is nullable; the coalesce makes it NOT NULL, as F.lit is
        return repr(x) + "D" if math.isfinite(x) else f"coalesce(CAST('{x}' AS DOUBLE), 0D)"
    if isinstance(x, str):
        # $ as a unicode escape: F.expr substitutes ${...} variables
        return "'" + x.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024") + "'"
    raise TypeError(f"lit_array: no SQL literal for {type(x).__name__}")


def lit_array(values) -> Column:
    """A driver-side constant as ONE SQL literal, so its py4j cost does
    not grow with its size as F.lit(list) does. Each element gets
    F.lit's type and nullability; doubles are written repr(x) + "D",
    which parses back bit-exactly."""
    return F.expr(sql_literal(values))


def _doubles(a: str) -> str:
    return f"CAST(({a}) AS ARRAY<DOUBLE>)"


def _dd_doubles(a: str) -> str:
    return f"({a})::DOUBLE[]"


def _fold(a: str, b: str, term: str, zero: str = "0D") -> str:
    """Sequential sum, from ``zero``, of ``term`` over the pairs (x, y)
    of the arrays a, b."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), {zero}, (acc, v) -> acc + v)"


def _dd_fold(a: str, b: str, term: str) -> str:
    """DuckDB twin of ``_fold``: the pair is x[1], x[2]."""
    return f"list_sum(list_transform(list_zip({a}, {b}), x -> {term}))"


def dot(a: str, b: str) -> str:
    """Sequential-sum dot product in double precision."""
    return _fold(_doubles(a), _doubles(b), "x * y")


def dd_dot(a: str, b: str) -> str:
    return _dd_fold(_dd_doubles(a), _dd_doubles(b), "x[1]*x[2]")


def sq_euclidean(a: str, b: str) -> str:
    """Squared euclidean distance: the sequential sum of (x - y)²."""
    return _fold(_doubles(a), _doubles(b), "(x - y) * (x - y)")


def dd_sq_euclidean(a: str, b: str) -> str:
    return _dd_fold(_dd_doubles(a), _dd_doubles(b), "(x[1]-x[2])*(x[1]-x[2])")


def l2_norm(a: str) -> str:
    return f"sqrt({dot(a, a)})"


def dd_l2_norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform({_dd_doubles(a)}, x -> x*x)))"


def cosine(a: str, b: str, na: str | None = None, nb: str | None = None) -> str:
    """Cosine similarity; full formula (no unit-norm assumption).

    ``na``/``nb`` are hoisted norms of a and b (SQL text: a column
    holding ``l2_norm``, or a driver literal of the same sum); the
    default takes them inline. A zero-norm side scores NULL."""
    return f"try_divide({dot(a, b)}, {na or l2_norm(a)} * {nb or l2_norm(b)})"


def dd_cosine(a: str, b: str) -> str:
    return f"({dd_dot(a, b)} / ({dd_l2_norm(a)} * {dd_l2_norm(b)}))"


def euclidean(a: str, b: str) -> str:
    return f"sqrt({sq_euclidean(a, b)})"


def dd_euclidean(a: str, b: str) -> str:
    return f"sqrt({dd_sq_euclidean(a, b)})"


# --- integer codes: SQ8 and sign bits --------------------------------------


def code_sq_dist(a: str, b: str) -> str:
    """Σ (x - y)² over two BIGINT code arrays, as an exact BIGINT."""
    return _fold(f"({a})", f"({b})", "(x - y) * (x - y)", "CAST(0 AS BIGINT)")


def dd_code_sq_dist(a: str, b: str) -> str:
    return f"CAST({_dd_fold(f'({a})', f'({b})', '(x[1]-x[2])*(x[1]-x[2])')} AS BIGINT)"


def _sq8(x: str, absmax: str) -> str:
    # one text on both engines: floor(x / scale + 0.5) clamped to
    # [-127, 127]; floor is exact, and x / scale is one IEEE division.
    # An all-zero corpus (absmax 0) takes scale 1, so every code is 0.
    scale = f"(coalesce(nullif({absmax}, 0), 127) / 127)"
    return f"CAST(greatest(-127, least(127, floor({x} / {scale} + 0.5))) AS BIGINT)"


def sq8_absmax(a: str) -> str:
    """Aggregate: the largest |component| over the vectors ``a``;
    absmax / 127 is the step of the uniform int8 quantizer (faiss
    QT_8bit_uniform)."""
    return f"max(array_max(transform({_doubles(a)}, x -> abs(x))))"


def dd_sq8_absmax(a: str) -> str:
    return f"max(list_max(list_transform({_dd_doubles(a)}, x -> abs(x))))"


def sq8_code(a: str, absmax: str) -> str:
    """The BIGINT code array of vector ``a``: each component rounded
    half up to a step of absmax / 127 and clamped to [-127, 127]."""
    return f"transform({_doubles(a)}, x -> {_sq8('x', absmax)})"


def dd_sq8_code(a: str, absmax: str) -> str:
    return f"list_transform({_dd_doubles(a)}, x -> {_sq8('x', absmax)})"


def sign_bits(a: str, n: int) -> str:
    """A BIGINT whose bit i is set iff a[i] > 0, for the first n
    components (n < 64). The bit weights enter as one literal array
    (no shift by a column), so the fold is exact integer arithmetic."""
    weights = f"CAST({sql_literal([1 << b for b in range(n)])} AS ARRAY<BIGINT>)"
    return _fold(
        f"slice({_doubles(a)}, 1, {n})",
        weights,
        "CASE WHEN x > 0 THEN y ELSE CAST(0 AS BIGINT) END",
        "CAST(0 AS BIGINT)",
    )


def dd_sign_bits(a: str, n: int) -> str:
    return (
        f"CAST(list_sum(list_transform(list_slice({a}, 1, {n}),"
        " (_x, _i) -> CASE WHEN _x > 0 THEN (1::BIGINT << (_i - 1)) ELSE 0::BIGINT END)) AS BIGINT)"
    )


# --- nearest centroid: IVF cells, probe lists, PQ codes ----------------------


def argmin(d: str) -> str:
    """0-based index of the first minimum of the DOUBLE array ``d``
    (ties -> the lowest index) as INT. ``d`` should name a materialized
    column: the text repeats it, and HOFs get no common subexpression
    elimination."""
    return f"CAST(array_position({d}, array_min({d})) - 1 AS INT)"


def dd_argmin(d: str) -> str:
    # the one-element list binds d once (DuckDB has no let)
    return f"CAST(list_transform([{d}], _d -> list_position(_d, list_min(_d)))[1] - 1 AS INTEGER)"


def dd_literal(x) -> str:
    """DuckDB text of a driver float or nested list of floats. Each
    double is an exponent literal, which DuckDB parses straight to the
    same DOUBLE; a plain ``0.1`` is a DECIMAL, and its cast to DOUBLE
    can miss the value by an ulp."""
    if isinstance(x, (list, tuple)):
        return "[" + ", ".join(map(dd_literal, x)) + "]"
    r = repr(float(x))
    return r if "e" in r else r + "e0"


def dd_nearest_cell(vec: str, cents: str) -> str:
    """The cell of ``vec``: the index of the nearest row of ``cents``
    (DuckDB text of a DOUBLE[][], e.g. ``dd_literal(centroids)``) by
    euclidean distance, ties to the lowest index, as INTEGER; the twin
    of ann.with_cell."""
    return dd_argmin(f"list_transform({cents}, _c -> {dd_euclidean(vec, '_c')})")


def dd_nearest_cells(vec: str, cents: str, n: int) -> str:
    """The ``n`` nearest cells of ``vec``, nearest first, ties to the
    lowest index (an INTEGER[]); the twin of ann.probe_cells."""
    structs = f"list_transform({cents}, (_c, _i) -> {{'d': {dd_euclidean(vec, '_c')}, 'cell': CAST(_i - 1 AS INTEGER)}})"
    return f"list_transform(list_slice(list_sort({structs}), 1, {n}), _s -> _s.cell)"
