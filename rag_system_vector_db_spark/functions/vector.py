"""Vector math as pure Column expressions.

All JVM-side (Catalyst higher-order functions — `aggregate`,
`zip_with`, `transform`): no Python workers, no serialization across
the language boundary. Note HOFs evaluate via CodegenFallback
(interpreted Catalyst, still JVM) rather than whole-stage codegen —
exactness and portability are the point of this path; for raw
throughput fan-out use operators.knn.topk_batch_np (Arrow + BLAS).
Accumulation is sequential left-to-right in DOUBLE, which matches the
DuckDB oracle's `list_sum(list_transform(list_zip(a, b), x ->
x[1]*x[2]))` exactly, so value-hash comparisons are bit-stable.

Reference parity: scripts/prepare_data.py:101 (test_similarity dot
matrix), scripts/milvus_db.py:40 (COSINE metric collections).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import _from_numpy_type


def _sql_literal(x) -> str:
    if isinstance(x, (list, tuple)):
        return "array(" + ", ".join(map(_sql_literal, x)) + ")"
    if isinstance(x, np.number):  # F.lit casts it to its dtype's Spark type
        return f"CAST({_sql_literal(x.item())} AS {_from_numpy_type(x.dtype).simpleString()})"
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
    """A driver-side constant (a number, a string, or nested lists of
    them) as ONE SQL literal, so its py4j cost does not grow with its
    size as F.lit(list) does. Each element gets F.lit's type and
    nullability; doubles are written repr(x) + "D", which parses back
    bit-exactly."""
    return F.expr(_sql_literal(values))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-sum dot product in double precision."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; full formula (no unit-norm assumption)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize (reference: prepare_data.py:54
    ``normalize_embeddings=True``)."""
    n = l2_norm(a)
    return F.transform(_as_double(a), lambda x: x / n)


def euclidean(a: Column, b: Column) -> Column:
    d = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x - y)
    return F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v * v))
