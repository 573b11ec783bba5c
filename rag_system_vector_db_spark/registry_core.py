"""Shared registration state for the split registry (mechanical r6 split).

Every SURVEY §2 operator as (Spark callable, DuckDB oracle).

``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLES[name]`` is
ANSI SQL DuckDB runs on the same parquet views. Column names/aliases
match exactly; float columns are rounded to 6 decimals on both sides
AFTER any ordering/ranking on full precision, so value-hashes agree —
through functions.exact (micro-unit integers, one emission) wherever
a raw 6-dp round could differ between the engines. Vector arithmetic
in an oracle is ``functions.vector``'s ``V.dd_*`` twin of the Spark
builder (``V.dd_cosine`` beside ``V.cosine``), bit-equal by test.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# Oracles whose SQL depends on the data directory (e.g. IVF centroids
# trained on the sf's sample) — resolved to strings by
# __spark_entry__.oracle_sql() for the driver's fixed sf0.01 run, and by
# tests for whatever sf they exercise.
LAZY_ORACLES: dict[str, Callable[[str], str]] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
