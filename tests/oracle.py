"""Local replica of the driver's t2 correctness gate: run a registry
query in Spark and its oracle SQL in DuckDB over the same parquet,
compare row count, column names, dtypes, and order-insensitive values.

The driver's value-hash is TYPE-sensitive (r1 lesson: DuckDB promotes
integer sums to HUGEINT -> pandas float64/object, which hash-fails vs
Spark BIGINT -> int64 even when values are equal). So this gate
compares the two result sets as pandas frames and requires matching
dtypes per column, not just 9-significant-digit string equality.
"""

from __future__ import annotations

import math
import os
import tempfile
import time
import uuid

import duckdb

from rag_system_vector_db_spark.sources import TABLES
from rag_system_vector_db_spark.sources.tables import duck_parquet_path


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # DuckDB's default spill directory is the relative ".tmp", i.e. inside
    # whatever cwd the tests run from. A unique path under the system temp
    # dir keeps spills out of the checkout; DuckDB creates it on the first
    # spill and removes it when the connection closes.
    spill = os.path.join(tempfile.gettempdir(), f"duckdb-oracle-{uuid.uuid4().hex}")
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{duck_parquet_path(sf_dir, t)}')"
        )
    return con


def _canon(v):
    # numpy scalars -> python (so int64(3) == 3 canonicalizes identically)
    if hasattr(v, "item") and not isinstance(v, (list, tuple, str, bytes)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact bits: both engines round floats in-engine to 6dp, so
        # identical values must be bit-identical here
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon(x) for x in v)
    return f"{type(v).__name__}:{v}"


def canon_rows(rows, colnames):
    """Order-insensitive canonical form, columns sorted by name."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def _dtype_key(dt) -> str:
    """Collapse a pandas dtype to the granularity the driver hash sees:
    integer width/signedness, float width, bool, datetime, object."""
    return str(dt)


def compare(
    spark_df,
    con: duckdb.DuckDBPyConnection,
    sql: str,
    timings: dict | None = None,
):
    """If `timings` is passed, it is filled with {"spark_s", "duck_s"}
    — the wall time of each engine's materialization (VERDICT r8 #6:
    the sf1 sweep attributes its heavy tail to the right engine)."""
    # The driver's pandas canonicalizer cannot sort array/map/struct
    # cells (r2 lesson: multimodal_pipeline's array<double> column
    # failed the driver row despite matching values). Oracle-backed
    # results must be scalar-only; serialize complex columns (e.g.
    # F.array_join of a %.6f-formatted transform) before returning.
    complex_cols = [
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    if complex_cols:
        # Raise (not assert) so the guard survives `python -O`.
        raise TypeError(
            f"oracle-backed result has complex-typed columns {complex_cols}; "
            "the driver hash cannot canonicalize these — serialize to a "
            "deterministic string (CSV/JSON) in both the query and the oracle"
        )
    t0 = time.perf_counter()
    sp = spark_df.toPandas()
    t1 = time.perf_counter()
    rel = con.sql(sql)
    dp = rel.df()
    t2 = time.perf_counter()
    if timings is not None:
        timings["spark_s"] = round(t1 - t0, 2)
        timings["duck_s"] = round(t2 - t1, 2)
    scols, dcols = list(sp.columns), list(dp.columns)
    assert sorted(scols) == sorted(dcols), f"columns differ: {scols} vs {dcols}"
    assert len(sp) == len(dp), f"row count differs: {len(sp)} vs {len(dp)}"
    order = sorted(scols)
    sp, dp = sp[order], dp[order]
    bad = [
        (c, str(sp[c].dtype), str(dp[c].dtype))
        for c in order
        if _dtype_key(sp[c].dtype) != _dtype_key(dp[c].dtype)
    ]
    assert not bad, f"dtypes differ (spark vs duckdb): {bad}"
    sc = canon_rows([tuple(r) for r in sp.itertuples(index=False)], order)
    dc = canon_rows([tuple(r) for r in dp.itertuples(index=False)], order)
    mism = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert sc == dc, f"values differ; first mismatches: {mism[:3]}"
