"""Vector math as Spark SQL text.

Each builder returns the SQL text of one expression; callers wrap it
in ``F.expr`` or ``selectExpr``. An argument is SQL text too: a column
reference (``"embedding"``, ``"a.embedding"``), a lambda variable of
an enclosing SQL higher-order function, or a literal from
``sql_literal``. Enclosing lambdas must not name their variables
``x``, ``y``, ``acc`` or ``v``, which the folds below use.

Why text: a ``zip_with``/``aggregate`` built from Python lambdas
costs a py4j round trip per lambda node, so one cosine took ~335
calls to build; the same expression as one ``F.expr`` string takes
~3. Session SQL functions (``CREATE TEMPORARY FUNCTION``) were
measured and rejected: the first ``spark.sql`` added ~2 s to session
start, and re-resolving the function body added ~11 ms of analysis
per use. ``F.expr`` text needs no registration and no per-session
state.

The evaluation stays in the JVM (Catalyst higher-order functions, no
Python workers). HOFs evaluate via CodegenFallback (interpreted
Catalyst) rather than whole-stage codegen; exactness is the point of
this path, and operators.knn.topk_batch_np (Arrow + BLAS) is the
raw-throughput one. Accumulation is sequential left-to-right in
DOUBLE, which matches the DuckDB oracle's
``list_sum(list_transform(list_zip(a, b), x -> x[1]*x[2]))``
(registry_core._dd_dot and friends) bit for bit.

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


def _fold(a: str, b: str, term: str) -> str:
    """Sequential double sum of ``term`` over the pairs (x, y) of a, b."""
    return (
        f"aggregate(zip_with(CAST(({a}) AS ARRAY<DOUBLE>), CAST(({b}) AS ARRAY<DOUBLE>),"
        f" (x, y) -> {term}), 0D, (acc, v) -> acc + v)"
    )


def dot(a: str, b: str) -> str:
    """Sequential-sum dot product in double precision."""
    return _fold(a, b, "x * y")


def sq_euclidean(a: str, b: str) -> str:
    """Squared euclidean distance: the sequential sum of (x - y)²."""
    return _fold(a, b, "(x - y) * (x - y)")


def l2_norm(a: str) -> str:
    return f"sqrt({dot(a, a)})"


def cosine(a: str, b: str) -> str:
    """Cosine similarity; full formula (no unit-norm assumption).

    A zero-norm side scores NULL (try_divide), as in DuckDB; every
    ranker orders ``score DESC NULLS LAST`` (knn.topk, knn.topk_per_key),
    so one empty document ranks last instead of failing the query."""
    return f"try_divide({dot(a, b)}, {l2_norm(a)} * {l2_norm(b)})"


def euclidean(a: str, b: str) -> str:
    return f"sqrt({sq_euclidean(a, b)})"
