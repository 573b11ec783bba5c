"""Benchmark of the Spark RAG vector store; the workloads and metrics are
listed in BENCHMARK.json at the repository root.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 20 --trace 0

One process, one Spark session sized from the host (all cores, a
quarter of MemTotal for the driver).  The run prints a host stamp and a
report, then as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--workload all`` runs every workload in turn; ``--smoke`` shrinks
every input for the benchmark's own tests.  Everything it writes stays
under the repository root and is removed at exit, except the span dump
of a traced run (``.perfbench_out/``).

End-to-end metrics (one operation = one closed-loop step):

- ``setup_s``: session start, plus the median of three builds of the
  inputs and the state, plus the warm-up (none for headline_mix).
- ``op_p50_s``: median operation latency, over the operations during
  which the hypervisor took under 2% of host CPU time, and at least
  over the 3 it took the least from (see workloads._quiet_p50).
  rag_serve: a question; ingest_batch: one batch build (index and
  dedup); headline_mix: one pass over the 36 headline queries.

The report lines before the JSON add each workload's own figures:
search_p50_s, search_p90_s with its sample count, upsert_p50_s and
serve_ops_per_s; ingest_docs_per_s; headline_total_s; error_rate,
peak_rss_mb, the parts of setup_s, loop_cpu_steal_share (host CPU
time the hypervisor took during the timed loop) and quiet_ops (how
many operations stayed under the 2% limit) for all.  Throughput
stays out of the JSON: its mean over a run spreads more between runs
than the median latency does.

Per-layer metrics are medians per operation (see tracing.py).  The
tracing overhead is ``trace.op_s`` of a traced run less ``op_p50_s``
of an untraced run with the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
PACKAGE = "rag_system_vector_db_spark"
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s"}


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def size_from_host() -> dict:
    """Point the session factory at this host and keep every scratch
    file under WORK; returns the host part of the record stamp."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = _mem_total_kb()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_kb // 4 // 1024}m",
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file from the
            # launcher JVM or the driver JVM
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_SUBMIT_OPTS": f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
        }
    )
    return {"nproc": cpus, "mem_total_kb": mem_kb, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def stamp(host: dict) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    commit = ""
    if os.path.exists(os.path.join(ROOT, ".git")):  # a plain checkout has none
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        **host,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": commit or "unknown",
    }


def peak_rss_mb() -> float:
    """Driver JVM VmHWM plus this Python process's ru_maxrss."""
    from pyspark import SparkContext

    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_one(spark, session_s: float, name: str, args) -> dict:
    import tracing
    import workloads
    from rag_system_vector_db_spark import registry

    tr = tracing.Tracer(spark, enabled=bool(args.trace))
    tr.install(registry.QUERIES)
    work = os.path.join(WORK, name)
    os.makedirs(work, exist_ok=True)
    try:
        res = workloads.WORKLOADS[name](spark, tr, args.seed, args.seconds, args.smoke, work)
    finally:
        tr.uninstall()
        shutil.rmtree(work, ignore_errors=True)
    for line in res.errors[:20]:
        print(f"{name} FAILED {line}")
    print(f"{name} setup_session_s {session_s:.6g} s")
    print(f"{name} error_rate {res.failed / max(1, res.attempted):.6g} ratio ({res.failed} of {res.attempted} operations)")
    for key, value in res.report.items():
        print(f"{name} {key} {value} {workloads.REPORT_UNITS.get(key, '')}".rstrip())
    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        tr.dump(os.path.join(OUT, f"trace-{name}-{args.seed}.jsonl"))
        metrics = {k: {"value": v, "unit": tracing.LAYER_UNITS[k]} for k, v in tr.layer_metrics().items()}
    else:
        print(f"{name} peak_rss_mb {peak_rss_mb():.1f} MB")
        values = {"setup_s": session_s + res.setup_s, **res.end_to_end}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    for key, m in metrics.items():
        print(f"{name} {key} {m['value']:.6g} {m['unit']}")
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["rag_serve", "ingest_batch", "headline_mix", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    shutil.rmtree(WORK, ignore_errors=True)
    host = size_from_host()
    try:
        from rag_system_vector_db_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        try:
            print("host", json.dumps(stamp(host)))
            names = ["rag_serve", "ingest_batch", "headline_mix"] if args.workload == "all" else [args.workload]
            for name in names:
                print(json.dumps(run_one(spark, session_s, name, args)), flush=True)
        finally:
            stop_jvm(spark)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
