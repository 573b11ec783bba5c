"""Parquet table sources.

Declarative `spark.read.parquet` scans so Catalyst gets predicate
pushdown + column pruning for free. At cluster scale the same call
reads a partitioned directory tree; nothing here assumes local mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Tables whose operators do CPU-heavy per-row work (shingling, hashing,
# vector math). A small local file arrives as ONE scan split (single
# row group, nothing for maxPartitionBytes to split), which would
# serialize all that per-row work on one core — so these are shuffle-
# split across the cluster by default when the scan has fewer splits
# than defaultParallelism. At real scale (thousands of input splits)
# the gate makes this a no-op — no extra exchange appears in the plan.
#
# `embeddings` is NOT split by default: the kNN/RAG queries fetch query
# vectors with separate driver actions and broadcast sub-relations of
# the same scan, and a repartition under those re-runs per action and
# forces AQE to materialize an exchange before each broadcast —
# measured 2-6x slower. Call sites with heavy map-side vector math
# (LSH bucketing, pairwise cosine) opt in with ``split=True``.
DEFAULT_SPLIT_TABLES = ("documents",)

# (sf_dir, name) -> decided partition count (0 = leave alone); memoized
# so repeated registry calls don't re-plan the scan RDD.
_SPLIT_DECISION: dict[tuple[str, str], int] = {}

# (sf_dir, name) -> inferred schema. Building a parquet reader costs
# ~100-180ms even warm, most of it the schema-inference footer read;
# registry queries load 1-4 tables per call and the bench rebuilds
# every query per timed pass, so repeated reader builds were a
# measurable slice of every fresh-build. The sf testdata directories
# are read-only by contract, so the inferred schema is stable and
# later reads pass it explicitly. NOTE: deliberately NOT a DataFrame
# cache — returning the same DataFrame object to two call sites of the
# same query turns corpus-vs-queries joins into self-joins with shared
# expression ids, which Catalyst mis-binds under mapInPandas/broadcast
# shapes (observed INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in ann_lsh).
# Every call returns a fresh DataFrame with fresh exprIds.
_SCHEMA_CACHE: dict[tuple[str, str], "object"] = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, split: bool | None = None
) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Event-time queries do exact integer arithmetic on `ts_ns`
        # (matching the oracle's epoch_ns); `ts` is a session-tz
        # (UTC) timestamp for streaming/watermark/window use. The
        # parquet `ts` physical type has varied across testdata
        # generations (TIMESTAMP(NANOS) read as long vs plain
        # timestamp[us] read as timestamp_ntz), so both layouts
        # normalize to the same (ts_ns long, ts timestamp) contract.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
            )
        # timestamp_ntz/timestamp: interpret as UTC (session tz is
        # UTC) — exact micros, scaled to nanos for oracle parity.
        ts_utc = F.col("ts").cast("timestamp")
        return (
            df.withColumn("ts_ns", F.unix_micros(ts_utc) * F.lit(1000))
            .withColumn("ts", ts_utc)
            .select("event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts")
        )
    skey = (sf_dir, name)
    schema = _SCHEMA_CACHE.get(skey)
    if schema is not None:
        df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _SCHEMA_CACHE[skey] = df.schema
    if split is None:
        split = name in DEFAULT_SPLIT_TABLES
    if split:
        key = (sf_dir, name)
        if key not in _SPLIT_DECISION:
            dp = spark.sparkContext.defaultParallelism
            _SPLIT_DECISION[key] = dp if df.rdd.getNumPartitions() < dp else 0
        if _SPLIT_DECISION[key]:
            df = df.repartition(_SPLIT_DECISION[key])
    return df


def duck_parquet_path(sf_dir: str, name: str) -> str:
    """read_parquet() argument for one sf table on the DuckDB side (the
    bounded in-process model fits and the oracle views). The shipped
    testdata sfs are single-file parquet; derived sfs (tools/gen_sf1.py)
    are Spark directory-style — glob the part files then."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    return f"{path}/*.parquet" if os.path.isdir(path) else path


class EmptySampleError(ValueError):
    """A driver-side fit found no vectors to train on."""


def sample_vectors(sf_dir: str, n: int):
    """The fit sample of every driver-side model (IVF centroids, PQ
    codebooks, PCA basis, seedings): the first ``n`` embeddings by
    vec_id (all of them in a smaller corpus) as a (rows, dim) float64
    matrix, read straight from parquet with no Spark job. The fixed
    visit order and float64 math make each fit reproducible, so its
    literals can be inlined into a DuckDB oracle. A corpus with no
    vectors raises EmptySampleError, on the Spark build and on its
    oracle alike."""
    import duckdb
    import numpy as np

    rel = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{duck_parquet_path(sf_dir, 'embeddings')}') "
        f"ORDER BY vec_id LIMIT {int(n)}"
    )
    x = np.array([list(r[0]) for r in rel.fetchall()], dtype=np.float64)
    if not len(x):
        raise EmptySampleError(f"no embeddings to fit on in {sf_dir}")
    return x


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (mirrors the DuckDB oracle's
    pre-registered views, so SQL text can be shared)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
