"""Scale patterns: bucketed co-located joins and skew salting.

Two shuffle-elimination techniques that only pay off at cluster scale,
kept here as first-class, plan-asserted operators (tests prove the
exchanges actually disappear / the skew actually spreads):

- Bucketing: persist both join sides bucketed (and sorted) on the join
  key with the same bucket count. A later equi-join reads co-located
  buckets and sort-merge-joins with NO shuffle exchange on either side
  — at 100 TB that's the difference between a network-bound job and a
  scan-bound one for every repeated join on that key (fact tables
  re-joined per day, embeddings re-joined per retrieval batch).
- Salting: a hot key (stopword shingle, null-ish default id, celebrity
  user) overloads one reducer. Appending a salt s ∈ [0, S) to the fact
  side's key and replicating the dimension side S times spreads that
  key across S reducers. AQE's skew-join handles moderate skew at
  runtime; explicit salting is the deterministic fallback for extreme,
  known-hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import lit_array


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
) -> None:
    """Persist ``df`` bucketed+sorted on ``key`` as a catalog table.

    Each of the ``buckets`` output files holds exactly the rows with
    pmod(hash(key), buckets) == bucket_id, and the catalog records the
    layout — that metadata is what lets a later join skip its exchange.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def bucketed_join(spark: SparkSession, left: str, right: str, key: str) -> DataFrame:
    """Equi-join two same-bucketed catalog tables. With matching bucket
    counts on the join key the planner emits a sort-merge join whose
    children are bare bucketed scans — no ShuffleExchange on either
    side (asserted in tests/test_scale.py)."""
    return spark.table(left).join(spark.table(right), key)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 8,
) -> DataFrame:
    """Skew-spreading equi-join: identical results to ``fact.join(dim,
    key)`` but a single hot ``key`` value lands on ``salt`` reducers
    instead of one.

    The fact side derives a deterministic salt from a whole-row hash
    (any distribution works — correctness never depends on the salt);
    the small dimension side is replicated ``salt`` times, which is the
    price of the spread and why this is for fact⋈dim, not fact⋈fact.
    """
    fact_salted = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt)).cast("int"),
    )
    dim_salted = dim.withColumn("_salt", F.explode(lit_array(list(range(salt)))))
    return fact_salted.join(dim_salted, [key, "_salt"]).drop("_salt")
