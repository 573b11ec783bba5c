"""Generate a ~sf1.0 dataset by 10x key-shifted replication of sf0.1.

/root/testdata is read-only and ships no sf1.0, so the r6 scaling
study (VERDICT r5 "Next round #4") derives one: every scaling table
(customer orders lineitem part supplier events documents embeddings)
is replicated 10x with primary/foreign keys shifted per replica so
referential integrity holds and key cardinality scales 10x;
nation/region stay fixed (TPC-H semantics). Text and embedding
payloads are deterministically perturbed per replica so EXACT-dup
density stays constant (no cross-replica 10-cliques for hash dedup).
Caveat measured in the r6 study: the perturbation is a near-miss by
construction, so the NEAR-dup detectors (simhash, minhash banding)
correctly treat replicas as near-duplicate cliques — their sf1
candidate/output volumes grow ~60-100x rather than 10x (e.g.
dedup_simhash emits 100.5M pairs at sf1 vs 1.57M at sf0.1). That
makes the measured wall-clock scaling exponents for the pair family
CONSERVATIVE (they absorb a quadratic output inflation and still come
out sublinear); a constant-near-dup-density corpus would need replica
payloads drawn from disjoint token spaces, which would instead zero
out cross-replica candidates entirely. Both extremes are wrong ways
to fake 10x organic data — the study reads exponents with this noted.

Output: .scratch/sf1.0/*.parquet (gitignored, ~170 MB). Deterministic
(no RNG — perturbations are hash/trig functions of ids).
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from rag_system_vector_db_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1.0")
N_REP = 10


def replicate(df: DataFrame, shifts: dict[str, int], extra=None) -> DataFrame:
    """Union N_REP key-shifted copies. shifts: col -> per-replica key
    stride (max key + 1 of the base table, so replica key ranges are
    disjoint). extra: fn(df, rep_col) -> df for payload perturbation."""
    rep = df
    out = None
    for i in range(N_REP):
        c = rep
        for col, stride in shifts.items():
            c = c.withColumn(col, F.col(col) + F.lit(i * stride))
        if extra is not None:
            c = extra(c, i)
        out = c if out is None else out.unionByName(c)
    return out


def main() -> None:
    spark = get_spark("gen-sf1")
    os.makedirs(DST, exist_ok=True)

    def stride(table: str, key: str) -> int:
        return (
            spark.read.parquet(f"{SRC}/{table}.parquet").agg(F.max(key)).first()[0] + 1
        )

    ok, ck, pk, sk = (
        stride("orders", "o_orderkey"),
        stride("customer", "c_custkey"),
        stride("part", "p_partkey"),
        stride("supplier", "s_suppkey"),
    )
    ek, uk = stride("events", "event_id"), stride("events", "user_id")
    dk, vk = stride("documents", "doc_id"), stride("embeddings", "vec_id")

    t = lambda n: spark.read.parquet(f"{SRC}/{n}.parquet")

    jobs: dict[str, DataFrame] = {
        "region": t("region"),
        "nation": t("nation"),
        "customer": replicate(t("customer"), {"c_custkey": ck}),
        "supplier": replicate(t("supplier"), {"s_suppkey": sk}),
        "part": replicate(t("part"), {"p_partkey": pk}),
        "orders": replicate(t("orders"), {"o_orderkey": ok, "o_custkey": ck}),
        "lineitem": replicate(
            t("lineitem"),
            {"l_orderkey": ok, "l_partkey": pk, "l_suppkey": sk},
        ),
        # same time range, 10x users and traffic density — how a 10x
        # day actually looks; per-user event counts stay constant.
        "events": replicate(t("events"), {"event_id": ek, "user_id": uk}),
    }

    def perturb_doc(df: DataFrame, i: int) -> DataFrame:
        if i == 0:
            return df
        # distinct near-miss text per replica: replica token prefix
        # keeps ~whole-document similarity high but exactness broken;
        # n_chars re-derived so the metadata contract stays true.
        txt = F.concat(F.lit(f"rep{i} "), F.col("text"))
        return df.withColumn("text", txt).withColumn(
            "n_chars", F.length("text").cast("long")
        )

    def perturb_vec(df: DataFrame, i: int) -> DataFrame:
        if i == 0:
            return df
        # deterministic small rotation-ish noise: cosine neighbors stay
        # neighbors, exact-duplicate vectors do not exist across
        # replicas (duplicate DENSITY constant vs the base corpus).
        return df.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, j: (
                    x
                    + F.lit(0.01 * (i + 1))
                    * F.sin((F.col("vec_id") % 97 + 1) * (j.cast("double") + 1.0))
                ).cast("float"),
            ),
        )

    jobs["documents"] = replicate(t("documents"), {"doc_id": dk}, extra=perturb_doc)
    jobs["embeddings"] = replicate(t("embeddings"), {"vec_id": vk}, extra=perturb_vec)

    for name, df in jobs.items():
        # Single-file layout exactly like the shipped testdata sfs, so
        # every consumer (tests/oracle.py views, the bounded in-process
        # DuckDB model fits) sees the same contract at every sf.
        path = f"{DST}/{name}.parquet"
        tmp = f"{DST}/_tmp_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
        )
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.replace(os.path.join(tmp, part), path)
        shutil.rmtree(tmp)
        print(name, spark.read.parquet(path).count(), flush=True)
    spark.stop()
    print("sf1.0 written to", DST)


if __name__ == "__main__":
    main()
