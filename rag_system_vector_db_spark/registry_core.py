"""Shared registration state for the split registry (mechanical r6 split).

Every SURVEY §2 operator as (Spark callable, DuckDB oracle).

``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLES[name]`` is
ANSI SQL DuckDB runs on the same parquet views. Column names/aliases
match exactly; float columns are rounded to 6 decimals on both sides
AFTER any ordering/ranking on full precision, so value-hashes agree —
through functions.exact (micro-unit integers, one emission) wherever
a raw 6-dp round could differ between the engines.
"""

from __future__ import annotations

import math as _math
import os as _os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import hashing as H
from .functions import vector as V
from .operators import chunking, knn, text_analysis
from .operators.text_analysis import STOPWORDS
from .sources import load_table

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


# DuckDB snippets for dot/norm with sequential double accumulation
# (matches functions.vector exactly — see its module docstring).
def _dd_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip(({a})::DOUBLE[], ({b})::DOUBLE[]), x -> x[1]*x[2]))"


def _dd_norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform(({a})::DOUBLE[], x -> x*x)))"


def _dd_cosine(a: str, b: str) -> str:
    return f"({_dd_dot(a, b)} / ({_dd_norm(a)} * {_dd_norm(b)}))"


def _dd_euclid(a: str, b: str) -> str:
    # matches functions.vector.euclidean: zip-diff, sequential sum of squares
    return (
        f"sqrt(list_sum(list_transform(list_zip(({a})::DOUBLE[], ({b})::DOUBLE[]),"
        f" x -> (x[1]-x[2])*(x[1]-x[2]))))"
    )
