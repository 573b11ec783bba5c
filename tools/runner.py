"""One loop over registry names, in one of two modes.

check  compare each entry with its DuckDB oracle (tests/oracle.py's
       driver-faithful compare; checksum_compare for CHECKSUM names).
time   best of 2 timed runs after one warm run, each built from scratch
       and materialized to a noop sink (not .count(), which lets
       Catalyst prune aggregates nothing references).

Usage:
    python tools/runner.py check --sf DIR [--names SET|a,b,c] [--timeout SEC] [--out FILE]
    python tools/runner.py time  --sf DIR [--names SET|a,b,c] [--out FILE] [--baseline FILE]

SET is one of all, headline, extra, scale, skew, window, or a driver
round such as r08 (the keys of CORRECTNESS_r08.json). Prints one line
per entry (MATCH / MISMATCH / ERROR / TIMEOUT / TIME) and a final
"RUNNER DONE <n> entries, <k> failures" line; exits 1 on any failure.
The session comes from session.get_spark, sized from the host.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

import duckdb
import pyarrow

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rag_system_vector_db_spark.registry import LAZY_ORACLES, ORACLES, QUERIES  # noqa: E402
from rag_system_vector_db_spark.session import get_spark, mem_total_mb  # noqa: E402
from tests.oracle import compare, duck_connection  # noqa: E402

# Scaling study: the candidate-volume-bound dedup family plus one
# representative per major family. Time it at two scales and diff the
# records (--baseline) to read growth per name.
SCALE = [
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "weighted_jaccard_pairs",
    "dedup_cluster_stats",
    "semdedup_clusters",
    "substring_dedup",
    "dedup_exact",
    "dedup_embedding_lsh",
    "knn_graph_lsh",
    "dedup_embedding_cosine",
    "hard_negative_mining",
    "mutual_knn",
    "knn_topk_cosine",
    "ann_lsh_cosine",
    "ann_ivf",
    "quality_filters",
    "curation_pipeline",
    "tfidf_top_terms",
    "hll_distinct",
    "cms_heavy_hitters",
    "agg_pricing_summary",
    "join_revenue_topn",
    "sessionize_events",
    "window_events",
    "embedding_isotropy",
    "embedding_dedup_recall",
    "scan_paginated",
]

# Skew study (tools/gen_skew.py corpus): hot-key joins and groupBys, the
# boilerplate-clique dedup, and the registered capped banding entries
# whose oracles replay the cap, so the drop path is checked cross-engine.
SKEW = [
    "join_revenue_topn",
    "salted_join_topn",
    "promo_revenue",
    "customer_order_distribution",
    "sessionize_events",
    "dedup_exact",
    "dedup_minhash_lsh_capped",
    "dedup_simhash_capped",
    "hot_bucket_report",
]

# Entries whose result at 10x scale is too large to collect (dedup_simhash:
# 100.5M pairs at sf1); check mode compares them by checksum instead.
CHECKSUM = {"dedup_simhash"}

OK = ("MATCH", "TIME")


def _headline() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def _extra() -> list[str]:
    headline = set(_headline())
    return [n for n in QUERIES if n not in headline]


def _window() -> list[str]:
    import __spark_entry__

    return list(__spark_entry__._VERIFY_FIRST)


SETS = {
    "all": lambda: list(QUERIES),
    "headline": _headline,
    "extra": _extra,
    "scale": lambda: SCALE,
    "skew": lambda: SKEW,
    "window": _window,
}


def resolve(spec: str) -> list[str]:
    """A SETS key, a driver round ("r08": CORRECTNESS_r08.json keys), or a
    comma-separated list of names."""
    if spec in SETS:
        return SETS[spec]()
    path = os.path.join(ROOT, f"CORRECTNESS_{spec}.json")
    if os.path.isfile(path):
        with open(path) as f:
            return list(json.load(f))
    return [n.strip() for n in spec.split(",") if n.strip()]


_INT_STR = {"bigint", "int", "smallint", "tinyint", "string", "boolean", "date"}


def checksum_compare(spark_df, con, sql: str, name: str) -> None:
    """Both engines reduce the full result to (row count, sum of a 60-bit
    md5 of the '|'-joined row with columns sorted by name): no rows cross
    to the driver, and one flipped value anywhere still changes the sum.
    Float rendering differs between engines, so float columns raise."""
    from pyspark.sql import functions as F

    from rag_system_vector_db_spark.functions import hashing as H

    bad = [
        f.name
        for f in spark_df.schema.fields
        if f.dataType.simpleString() not in _INT_STR
    ]
    if bad:
        raise TypeError(f"{name}: checksum compare needs int/str columns, got {bad}")
    cols = sorted(spark_df.columns)
    concat = "concat_ws('|', " + ", ".join(
        "CAST(`{}` AS STRING)".format(c.replace("`", "``")) for c in cols
    ) + ")"
    srow = spark_df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.expr(H.md5_long(concat)).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("chk"),
    ).collect()[0]
    dd_concat = "concat_ws('|', " + ", ".join(f"({c})::VARCHAR" for c in cols) + ")"
    drow = con.sql(
        f"SELECT count(*) AS n, coalesce(sum({H.dd_md5_long(dd_concat)}), 0) AS chk"
        f" FROM ({sql})"
    ).fetchone()
    assert int(srow["n"]) == int(drow[0]), f"row count differs: {srow['n']} vs {drow[0]}"
    assert int(srow["chk"]) == int(drow[1]), f"checksum differs: {srow['chk']} vs {drow[1]}"


class _Watchdog:
    """Interrupts both engines once `seconds` pass (0: never). `fired`
    tells a timeout apart from a failure. The lock makes the kill and the
    entry's end exclusive, so a late timer cannot interrupt the NEXT
    entry's DuckDB query or cancel its Spark jobs."""

    def __init__(self, spark, con, seconds: int):
        self.spark, self.con = spark, con
        self.fired = threading.Event()
        self._lock = threading.Lock()
        self._done = False
        self._timer = threading.Timer(seconds, self._kill) if seconds else None

    def _kill(self) -> None:
        with self._lock:
            if self._done:
                return
            self.fired.set()
            if self.con is not None:
                self.con.interrupt()
            self.spark.sparkContext.cancelAllJobs()

    def __enter__(self):
        if self._timer is not None:
            self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        with self._lock:
            self._done = True
        if self._timer is not None:
            self._timer.cancel()


def _check(spark, con, sf_dir: str, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    sql = ORACLES.get(name) or LAZY_ORACLES[name](sf_dir)
    if name in CHECKSUM:
        checksum_compare(df, con, sql, name)
        return "checksum"
    tm: dict = {}
    compare(df, con, sql, timings=tm)
    return f"spark={tm['spark_s']}s duck={tm['duck_s']}s"


def _best_of_2(spark, sf_dir: str, name: str) -> float:
    def once() -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    once()  # warm: codegen, parquet footers, shuffle files
    return round(min(once(), once()), 4)


def run(
    spark, sf_dir: str, names: list[str], mode: str, timeout: int = 0
) -> dict[str, tuple[str, float]]:
    """Run each name once in `mode` ("check" or "time"), printing one line
    per name. Returns {name: (status, seconds)}: seconds is the best
    time in time mode and the wall time of the check in check mode."""
    con = duck_connection(sf_dir) if mode == "check" else None
    sc = spark.sparkContext
    results: dict[str, tuple[str, float]] = {}
    for i, name in enumerate(names, 1):
        t0 = time.perf_counter()
        sec = None
        # Spark's job records and error logs carry the registry name.
        sc.setJobDescription(name)
        with _Watchdog(spark, con, timeout) as dog:
            try:
                if mode == "check":
                    status, detail = "MATCH", _check(spark, con, sf_dir, name)
                else:
                    status, detail = "TIME", ""
                    sec = _best_of_2(spark, sf_dir, name)
            except AssertionError as e:
                status, detail = "MISMATCH", str(e)[:300]
            except Exception as e:
                status, detail = "ERROR", f"{type(e).__name__}: {str(e)[:300]}"
                if not dog.fired.is_set():
                    traceback.print_exc(limit=5)
            finally:
                sc.setJobDescription(None)
        if status not in OK and dog.fired.is_set():
            status, detail = "TIMEOUT", f"over {timeout}s"
        if sec is None:
            sec = round(time.perf_counter() - t0, 1)
        results[name] = (status, sec)
        print(f"[{i}/{len(names)}] {status} {name} {sec}s {detail}".rstrip(), flush=True)
    failed = split(results)[1]
    if failed:
        print(f"FAILED ({len(failed)}): {', '.join(failed)}")
    print(f"RUNNER DONE {len(names)} entries, {len(failed)} failures", flush=True)
    return results


def split(results: dict[str, tuple[str, float]]) -> tuple[dict, dict]:
    """({name: seconds} of the entries that passed, {name: status} of the rest)."""
    done = {n: sec for n, (st, sec) in results.items() if st in OK}
    return done, {n: st for n, (st, _) in results.items() if st not in OK}


def stamp(spark) -> dict:
    """The host and session a record was measured with; compare records
    only when these agree."""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb(),
        "cpus": spark.sparkContext.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
    }


def diff(baseline: str, now: dict[str, float], threshold: float = 1.2) -> None:
    """Print per-name time ratios against an earlier record (a runner
    --out file or BENCH_result.json), largest first."""
    with open(baseline) as f:
        rec = json.load(f)
    old = {**rec.get("queries", {}), **rec.get("extra_queries", {})}
    rows = sorted(
        ((now[n] / old[n], n) for n in now.keys() & old.keys() if old[n] > 0),
        reverse=True,
    )
    if not rows:
        print(f"vs {baseline}: no names in common")
        return
    print(
        f"vs {baseline}: {len(rows)} names, median ratio "
        f"{statistics.median(r for r, _ in rows):.3f}; beyond {threshold}x:"
    )
    for r, n in rows:
        if r >= threshold or r <= 1 / threshold:
            print(f"  {r:6.2f}x  {old[n]:8.4f} -> {now[n]:8.4f}  {n}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("mode", choices=("check", "time"))
    ap.add_argument("--sf", required=True, help="parquet table directory")
    ap.add_argument("--names", default="all", help="a set name or a comma list")
    ap.add_argument(
        "--timeout",
        type=int,
        default=0,
        help="seconds per entry before both engines are interrupted and the "
        "entry is recorded TIMEOUT (0: no limit)",
    )
    ap.add_argument("--out", help="write the JSON record to this file")
    ap.add_argument("--baseline", help="earlier record to print time ratios against")
    args = ap.parse_args(argv)

    names = resolve(args.names)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"not registered: {', '.join(unknown)}")
    spark = get_spark(f"runner-{args.mode}")
    results = run(spark, args.sf, names, args.mode, args.timeout)
    done, failed = split(results)
    if args.out:
        record = {
            "mode": args.mode,
            "sf_dir": args.sf,
            "session": stamp(spark),
            "queries": done,
            "failures": failed,
        }
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    if args.baseline:
        diff(args.baseline, done)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
