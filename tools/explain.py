"""Explain any registered query's physical plan.

Usage:
    python tools/explain.py <query_name> [sf_dir] [--mode formatted|extended|cost]

Prints the plan the way we review it: formatted tree + scan details
(PushedFilters / PartitionFilters / ReadSchema), after an AQE-
finalizing count so the printed joins are the ones that actually ran.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rag_system_vector_db_spark.registry import QUERIES  # noqa: E402
from rag_system_vector_db_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    mode = "formatted"
    for a in sys.argv[1:]:
        if a.startswith("--mode"):
            mode = a.split("=", 1)[1] if "=" in a else "formatted"
    if not args:
        print(__doc__)
        print("registered queries:")
        for n in sorted(QUERIES):
            print(" ", n)
        raise SystemExit(2)
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
    if name not in QUERIES:
        raise SystemExit(f"unknown query {name!r}; run with no args for the list")
    spark = get_spark("explain")
    df = QUERIES[name](spark, sf_dir)
    df.count()  # finalize AQE so the printed plan is the executed one
    print(
        df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )
    )


if __name__ == "__main__":
    main()
