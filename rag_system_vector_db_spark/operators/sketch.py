"""Sketch/sampling operators on the portable md5 hash family —
deterministic, so the DuckDB oracle reproduces them bit-for-bit
(unlike approx_count_distinct / TABLESAMPLE, whose internals are
engine-specific).

- KMV (k minimum values) distinct-count estimate: keep the k smallest
  normalized hashes of the key; ndv ≈ (k-1)/u_k where u_k is the k-th
  smallest hash mapped into [0,1). Beyer SIGMOD'07.
- Hash sampling: keep rows whose key hash falls below the rate — a
  reproducible sample that is stable across engines, retries and
  cluster sizes, unlike rand()-based sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H

HASH_SPACE = float(1 << 60)  # md5_long is uniform on [0, 2^60)


def kmv_distinct(
    df: DataFrame, key_col: str, k: int = 32
) -> DataFrame:
    """KMV ndv estimate vs the exact count, one output row:
    (k, ndv_exact, ndv_est, rel_err).

    Two phases: a k-min per input partition (groupBy
    spark_partition_id), then a global merge of ≤ n_partitions×k
    candidates. The first phase does not bound its shuffle: the
    collect_set partial ships every distinct hash of the partition
    across the exchange, and slice cuts to k only after it. The exact
    count is computed alongside for the harness; a production pipeline
    drops it — that distinct IS what the sketch avoids.
    """
    hashes = df.select(F.expr(H.md5_long(f"CAST({key_col} AS STRING)")).alias("h"))
    partial = (
        hashes.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("hs"))
        .select(F.explode("hs").alias("h"))
    )
    kth = (
        partial.distinct()
        .orderBy("h")
        .limit(k)
        .agg(F.max("h").alias("h_k"), F.count("*").alias("n_kept"))
    )
    exact = df.select(F.countDistinct(key_col).alias("ndv_exact"))
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise((k - 1) / (F.col("h_k") / F.lit(HASH_SPACE)))
    return (
        kth.crossJoin(F.broadcast(exact))
        .select(
            F.lit(k).cast("long").alias("k"),
            F.col("ndv_exact").cast("long"),
            F.round(est, 6).alias("ndv_est"),
            F.round(
                F.try_divide(F.abs(est - F.col("ndv_exact")), F.col("ndv_exact")), 6
            ).alias("rel_err"),
        )
    )


def stratified_sample(
    df: DataFrame, strata_col: str, key_col: str, rates: dict[str, float]
) -> DataFrame:
    """Deterministic per-stratum sampling (sampleBy without the RNG):
    each stratum gets its own keep-rate, rows hash-threshold on the key
    so re-runs and engines agree. Strata absent from ``rates`` are
    dropped (rate 0)."""
    u = F.expr(H.md5_long(f"CAST({key_col} AS STRING)")) / F.lit(HASH_SPACE)
    rate = F.lit(0.0)
    for stratum, r in rates.items():
        rate = F.when(F.col(strata_col) == stratum, F.lit(float(r))).otherwise(rate)
    return df.filter(u < rate)


def hash_sample(
    df: DataFrame, key_col: str, rate: float
) -> DataFrame:
    """Deterministic hash sample: row kept iff
    md5(key)/2^60 < rate. Reproducible across engines/retries/cluster
    sizes and consistent per key (the same key always samples the same
    way — joins between same-rate samples of two tables stay aligned).
    """
    u = F.expr(H.md5_long(f"CAST({key_col} AS STRING)")) / F.lit(HASH_SPACE)
    return df.filter(u < rate)


def bloom_dedup_probe(
    docs: DataFrame,
    m: int = 1024,
    k_hashes: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter membership pre-screen for dedup-at-the-door
    (Bloom CACM'70): the base half of the corpus (even doc ids — a
    scale-independent split, no scalar to ship) builds an m-bit filter
    from its content hashes (k seeded bit positions per doc); EVERY
    doc then probes it. A doc is a ``bloom_hit`` when all k of its
    bits are set. Base docs can never miss (the no-false-negative
    property — asserted by the oracle row-for-row); non-base hits
    that aren't exact dups are the measured false positives, the m/k
    sizing trade-off this harness quantifies before a pipeline trusts
    the sketch as its cheap first gate.

    Relational bloom at scale: the filter is the DISTINCT set of set
    bit positions — bounded by the CONSTANT m, never by data, so its
    broadcast hint is safe under the no-data-proportional-broadcast
    rule. Probing is an m-bounded broadcast join + one
    map-side-combinable groupBy; the exact-dup check is a semi-join on
    16-byte content digests. Returns (doc_id, in_base, bloom_hit,
    exact_dup, false_positive)."""
    content = H.md5_hex(text_col)
    positions = [F.expr(H.md5_long(content, seed=s)) % m for s in range(k_hashes)]
    base = docs.filter(F.col(id_col) % 2 == 0)
    bits = (
        base.select(F.explode(F.array(*positions)).alias("bit"))
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    probe = docs.select(
        F.col(id_col),
        (F.col(id_col) % 2 == 0).alias("in_base"),
        F.expr(content).alias("_c"),
        F.explode(F.array(*positions)).alias("bit"),
    )
    hits = (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy(id_col, "in_base", "_c")
        .agg((F.sum(F.coalesce(F.col("_set"), F.lit(0))) == k_hashes).alias("bloom_hit"))
    )
    base_hashes = base.select(F.expr(content).alias("_c")).distinct()
    return (
        hits.join(base_hashes.withColumn("_dup", F.lit(1)), "_c", "left")
        .select(
            F.col(id_col),
            "in_base",
            "bloom_hit",
            F.col("_dup").isNotNull().alias("exact_dup"),
            (F.col("bloom_hit") & F.col("_dup").isNull()).alias("false_positive"),
        )
    )
