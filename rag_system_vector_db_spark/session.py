"""Tuned SparkSession factory.

Local mode for tests/bench; the same configs (AQE, Arrow, UTC) are the
ones we'd ship on a real cluster — only master/memory differ. Cores and
driver memory come from the host (the CPUs this process may run on,
half of MemTotal); SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override
them for a deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def get_spark(
    app_name: str = "rag_system_vector_db_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or len(os.sched_getaffinity(0))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{mem_total_mb() // 2}m"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Python workers unpickle pandas_udf closures that reference this
    # package; they inherit PYTHONPATH, not the driver's sys.path, so a
    # driver launched from outside the repo needs the root exported.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # console progress bars write \r-frames to stderr that corrupt
        # captured output (the driver's bench-tail parse) — off always.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
