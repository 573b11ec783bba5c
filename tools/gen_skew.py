"""Skewed 10x corpus (VERDICT r6 "Next round #6"): same 10x key-shifted
replication as tools/gen_sf1.py, then three deliberate pathologies the
SURVEY's skew claims are supposed to survive:

- HOT JOIN KEY, orders side: 30% of all o_custkey values collapse to
  one customer (deterministic o_orderkey % 10 < 3 rule) — the
  customer<->orders join and any groupBy(o_custkey) now carry a
  ~1.5M-row key at sf1 scale.
- HOT JOIN KEY, lineitem side: 20% of l_partkey collapse to one part —
  the part<->lineitem joins (promo_revenue, returned_items) get the
  same treatment.
- BOILERPLATE TEXT: every 5th document's text is replaced by one fixed
  paragraph — a ~10k-doc exact/near-dup clique that turns every
  banding bucket it touches into a mega-bucket (the cap_hot_buckets
  failure mode, on purpose).
- HOT USER: 25% of events collapse to one user_id — sessionize/window
  partitions get a single giant partition.

Foreign keys stay valid (hot keys are real base-range keys). Output:
.scratch/sf1.0_skew/*.parquet (gitignored). Deterministic.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gen_sf1 import SRC, replicate
from rag_system_vector_db_spark.session import get_spark

DST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1.0_skew"
)

BOILER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua ut enim ad minim "
    "veniam quis nostrud exercitation ullamco laboris nisi ut aliquip"
)


def main() -> None:
    spark = get_spark("gen-skew")
    os.makedirs(DST, exist_ok=True)

    def stride(table: str, key: str) -> int:
        return (
            spark.read.parquet(f"{SRC}/{table}.parquet").agg(F.max(key)).first()[0] + 1
        )

    def lo(table: str, key: str) -> int:
        return spark.read.parquet(f"{SRC}/{table}.parquet").agg(F.min(key)).first()[0]

    ok, ck, pk, sk = (
        stride("orders", "o_orderkey"),
        stride("customer", "c_custkey"),
        stride("part", "p_partkey"),
        stride("supplier", "s_suppkey"),
    )
    ek, uk = stride("events", "event_id"), stride("events", "user_id")
    dk, vk = stride("documents", "doc_id"), stride("embeddings", "vec_id")
    hot_cust, hot_part, hot_user = lo("customer", "c_custkey"), lo("part", "p_partkey"), lo(
        "events", "user_id"
    )

    t = lambda n: spark.read.parquet(f"{SRC}/{n}.parquet")

    orders = replicate(t("orders"), {"o_orderkey": ok, "o_custkey": ck}).withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 10 < 3, F.lit(hot_cust)).otherwise(
            F.col("o_custkey")
        ),
    )
    lineitem = replicate(
        t("lineitem"), {"l_orderkey": ok, "l_partkey": pk, "l_suppkey": sk}
    ).withColumn(
        "l_partkey",
        F.when(F.col("l_orderkey") % 5 < 1, F.lit(hot_part)).otherwise(
            F.col("l_partkey")
        ),
    )
    events = replicate(t("events"), {"event_id": ek, "user_id": uk}).withColumn(
        "user_id",
        F.when(F.col("event_id") % 4 < 1, F.lit(hot_user)).otherwise(F.col("user_id")),
    )

    def perturb_doc(df, i):
        # replica near-miss prefix (as gen_sf1) + the boilerplate clique
        txt = F.col("text") if i == 0 else F.concat(F.lit(f"rep{i} "), F.col("text"))
        txt = F.when(F.col("doc_id") % 5 == 0, F.lit(BOILER)).otherwise(txt)
        return df.withColumn("text", txt).withColumn(
            "n_chars", F.length("text").cast("long")
        )

    jobs = {
        "region": t("region"),
        "nation": t("nation"),
        "customer": replicate(t("customer"), {"c_custkey": ck}),
        "supplier": replicate(t("supplier"), {"s_suppkey": sk}),
        "part": replicate(t("part"), {"p_partkey": pk}),
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": replicate(t("documents"), {"doc_id": dk}, extra=perturb_doc),
        "embeddings": replicate(t("embeddings"), {"vec_id": vk}),
    }

    for name, df in jobs.items():
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
    print("sf1.0_skew written to", DST)


if __name__ == "__main__":
    main()
