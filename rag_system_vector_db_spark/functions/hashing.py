"""Portable deterministic hashing shared by operators and oracles.

Everything is built on md5 so the DuckDB oracle can reproduce the
exact same values:

  Spark : conv(substr(md5(s), 1, 15), 16, 10)  cast long
  DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

15 hex chars = 60 bits, always fits a signed 64-bit int. Seeded
variants prepend ``"{seed}:"`` so independent hash families (minhash
rows, hyperplanes) come from one primitive. md5 is a JVM intrinsic in
Spark — no Python, codegen-friendly, identical across engines.

Both sides are SQL text, as in functions.vector: each Spark builder
takes the SQL text of a string expression (a column name, say) and
returns the SQL text of the hash; callers wrap it in ``F.expr`` or
``selectExpr``, or nest it in a larger expression. One string costs a
few py4j calls to build, where the same tree of Column nodes costs
about five per node.
"""

from __future__ import annotations

from .vector import sql_literal

HEX_WIDTH = 15  # 60 bits


def seeded(expr: str, seed: int | str | None = None) -> str:
    if seed is None:
        return expr
    return f"concat({sql_literal(f'{seed}:')}, {expr})"


def md5_hex(expr: str, seed: int | str | None = None) -> str:
    """Full md5 hex digest (strings order identically in both engines)."""
    return f"md5({seeded(expr, seed)})"


def md5_long(expr: str, seed: int | str | None = None, width: int = HEX_WIDTH) -> str:
    """60-bit (default) non-negative integer hash."""
    return f"CAST(conv(substring({md5_hex(expr, seed)}, 1, {width}), 16, 10) AS BIGINT)"


def md5_int32(expr: str, seed: int | str | None = None) -> str:
    """32-bit hash (8 hex chars) for simhash-style bit tricks."""
    return md5_long(expr, seed, width=8)


# --- DuckDB SQL snippet builders (oracle side of the same primitives) ---


def dd_seeded(expr: str, seed: int | str | None = None) -> str:
    return f"('{seed}:' || {expr})" if seed is not None else expr


def dd_md5_hex(expr: str, seed: int | str | None = None) -> str:
    return f"md5({dd_seeded(expr, seed)})"


def dd_md5_long(expr: str, seed: int | str | None = None, width: int = HEX_WIDTH) -> str:
    return f"('0x' || substr(md5({dd_seeded(expr, seed)}), 1, {width}))::BIGINT"


def dd_md5_int32(expr: str, seed: int | str | None = None) -> str:
    return dd_md5_long(expr, seed, width=8)
