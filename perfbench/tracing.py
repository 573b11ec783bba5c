"""Outside-in tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: the public entry
points the workloads call are wrapped at run time, and py4j's
``GatewayClient.send_command`` is wrapped to count round trips.  After
each operation the tracer reads Spark's own records: the jobs of the
operation's job group and their stages from the status store, the
``ArrowEvalPython`` node metrics of its SQL executions, and the Catalyst
phase times of the DataFrames it planned.  The JVM calls the tracer
makes itself are excluded from the py4j counts, and the time it spends
is reported as ``trace.self_s``.

The untraced run installs nothing; ``Tracer.span`` is then a no-op.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time

import py4j.java_gateway
import py4j.protocol

from rag_system_vector_db_spark.operators import chunking, dedup, embedding, knn
from rag_system_vector_db_spark.operators.vector_store import VectorCollection

# (owner, attribute, span name): the entry points the workloads reach.
ENTRY_POINTS = (
    (knn, "topk", "knn.topk"),
    (VectorCollection, "search", "store.search"),
    (VectorCollection, "get_by_ids", "store.get_by_ids"),
    (VectorCollection, "insert", "store.insert"),
    (VectorCollection, "compact", "store.compact"),
    (VectorCollection, "stats", "store.stats"),
    (embedding, "embed_text_py", "embedding.embed_text_py"),
    (embedding, "embed_documents", "embedding.embed_documents"),
    (chunking, "chunk_by_tokens", "chunking.build"),
    (dedup, "dedup_minhash_lsh", "dedup.build"),
)

# Spans whose py4j calls wait on Spark jobs (or on planning): their
# calls are counted, but their time is execution, not py4j round trips.
BLOCKING_SPANS = {"action", "plan", "store.insert", "store.compact", "store.stats"}

# per-layer metric -> (span name, what to read from its spans)
SPAN_METRICS = {
    "registry.build_s": ("registry.build", "self_s"),
    "knn.topk.build_s": ("knn.topk", "self_s"),
    "knn.topk.py4j_calls": ("knn.topk", "py4j_calls"),
    "store.search_s": ("store.search", "self_s"),
    "store.get_by_ids_s": ("store.get_by_ids", "self_s"),
    "store.insert_s": ("store.insert", "self_s"),
    "store.compact_s": ("store.compact", "self_s"),
    "embedding.embed_text_py_s": ("embedding.embed_text_py", "self_s"),
    "chunking.build_s": ("chunking.build", "self_s"),
    "dedup.build_s": ("dedup.build", "self_s"),
    "plan.s": ("plan", "self_s"),
    "action.s": ("action", "self_s"),
}

# every per-layer metric with its unit, in report order
LAYER_UNITS = {
    "py4j.calls": "count",
    "py4j.s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "knn.topk.build_s": "s",
    "knn.topk.py4j_calls": "count",
    "store.search_s": "s",
    "store.get_by_ids_s": "s",
    "store.insert_s": "s",
    "store.compact_s": "s",
    "store.data_files": "count",
    "embedding.embed_text_py_s": "s",
    "embedding.udf_rows": "count",
    "embedding.udf_s": "s",
    "chunking.build_s": "s",
    "chunking.chunks_out": "count",
    "dedup.build_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.planted_found_ratio": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "plan.s": "s",
    "action.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_memory_bytes": "bytes",
    "exec.task_wait_s": "s",
    "trace.op_s": "s",
    "trace.self_s": "s",
}

_RELEASE = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _duration_s(text: str) -> float:
    """Seconds from a formatted Spark timing metric ("968 ms", or
    "total (min, med, max ...)\\n2.2 s (...)")."""
    m = _DURATION.search(text.rsplit("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def cpu_ticks() -> list[int]:
    """Host CPU time by state (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(ticks0: list[int], ticks1: list[int]) -> float:
    """Share of the host CPU time between two readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(ticks0, ticks1)]
    return d[7] / max(1, sum(d))


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    """Spans and per-operation counters; see the module docstring."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._quiet = 0
        self._calls = 0
        self._call_s = 0.0
        self._undo: list[tuple[object, str, object]] = []
        self._next_exec = 0
        self._op_ids = 0
        self._blocking = 0

    # -- installation -------------------------------------------------

    def install(self, registry_queries: dict) -> None:
        if not self.enabled:
            return
        tracer = self
        send = py4j.java_gateway.GatewayClient.send_command

        def counted_send(client, command, *args, **kwargs):
            # py4j's release of collected Python proxies ("m\nd\n...")
            # follows the Python GC's timing, so it is left uncounted.
            if tracer._quiet or command.startswith(_RELEASE):
                return send(client, command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(client, command, *args, **kwargs)
            finally:
                tracer._calls += 1
                if not tracer._blocking:
                    tracer._call_s += time.perf_counter() - t0

        self._patch(py4j.java_gateway.GatewayClient, "send_command", counted_send)
        for owner, attr, name in ENTRY_POINTS:
            self._patch(owner, attr, self._wrapped(getattr(owner, attr), name))
        for qname, fn in list(registry_queries.items()):
            registry_queries[qname] = self._wrapped(fn, "registry.build", count_jobs=True)
            self._undo.append((registry_queries, qname, fn))
        jvm = self.spark._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala_module.__getattr__("MODULE$"))
        self._store = self.spark.sparkContext._jsc.sc().statusStore()
        self._sql_store = self.spark._jsparkSession.sharedState().statusStore()
        self._jtracker = self.spark.sparkContext._jsc.statusTracker()

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            if isinstance(owner, dict):
                owner[attr] = original
            else:
                setattr(owner, attr, original)
        self._undo.clear()

    def _patch(self, owner, attr: str, replacement) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def _wrapped(self, fn, name: str, count_jobs: bool = False):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, count_jobs=count_jobs):
                return fn(*args, **kwargs)

        return traced

    # -- spans and operations -------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, count_jobs: bool = False):
        if not self.enabled:
            yield
            return
        s = {
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op["id"] if self._op else None,
            "id": len(self.spans),
            "child_s": 0.0,
        }
        self.spans.append(s)
        if count_jobs:
            self._set_group(f"{self._group(self._op)}.build")
        self._stack.append(s)
        blocking = name in BLOCKING_SPANS
        self._blocking += blocking
        s["calls0"] = self._calls
        s["start"] = time.perf_counter()
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            s["py4j_calls"] = self._calls - s["calls0"]
            self._blocking -= blocking
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += s["end"] - s["start"]
            if count_jobs:
                self._set_group(self._group(self._op))

    @contextlib.contextmanager
    def operation(self, kind: str):
        """One timed operation; yields the record, which holds the
        latency the workload reports in both runs and the share of host
        CPU time the hypervisor took meanwhile (``steal_share``)."""
        op = {"id": self._op_ids, "kind": kind, "metrics": {}, "dfs": []}
        ticks0 = cpu_ticks()
        self._op_ids += 1
        if self.enabled:
            self._op = op
            self._set_group(self._group(op))
            self._quiet += 1
            try:  # SQL executions before this operation are not its own
                self._next_exec = self._count_executions(self._next_exec)
            finally:
                self._quiet -= 1
            op["calls0"], op["call_s0"] = self._calls, self._call_s
        t0 = time.perf_counter()
        try:
            yield op
        finally:
            op["latency_s"] = time.perf_counter() - t0
            op["steal_share"] = steal_share(ticks0, cpu_ticks())
            self.ops.append(op)
            if self.enabled:
                self._op = None
                self._finish(op)

    def planned(self, df) -> None:
        """Note a DataFrame whose own QueryExecution ran, so its Catalyst
        phase times are read when the operation ends."""
        if self.enabled and self._op is not None:
            self._op["dfs"].append(df)

    def count(self, op: dict, name: str, value: float) -> None:
        if self.enabled:
            op["metrics"][name] = value

    # -- reading Spark's records ----------------------------------------

    @staticmethod
    def _group(op: dict | None) -> str:
        return f"perfbench-op-{op['id']}" if op else "perfbench"

    def _set_group(self, group: str) -> None:
        self._quiet += 1
        try:
            self.spark.sparkContext.setJobGroup(group, group)
        finally:
            self._quiet -= 1

    def _as_json(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    def _count_executions(self, start: int) -> int:
        n = start
        while not self._sql_store.execution(n).isEmpty():
            n += 1
        return n

    def _finish(self, op: dict) -> None:
        t0 = time.perf_counter()
        self._quiet += 1
        try:
            self._read_spark(op)
        finally:
            self._quiet -= 1
        m = op["metrics"]
        m["py4j.calls"] = self._calls - op["calls0"]
        m["py4j.s"] = self._call_s - op["call_s0"]
        mine = [s for s in self.spans if s["op"] == op["id"]]
        for metric, (span_name, field) in SPAN_METRICS.items():
            hits = [s for s in mine if s["name"] == span_name]
            if not hits:
                continue
            if field == "self_s":
                m[metric] = sum(s["end"] - s["start"] - s["child_s"] for s in hits)
            else:
                m[metric] = sum(s[field] for s in hits)
        m["trace.op_s"] = op["latency_s"]
        m["trace.self_s"] = time.perf_counter() - t0
        self._set_group("perfbench")

    def _read_spark(self, op: dict) -> None:
        m = op["metrics"]
        group = self._group(op)
        build_jobs = list(self._jtracker.getJobIdsForGroup(f"{group}.build"))
        jobs = build_jobs + list(self._jtracker.getJobIdsForGroup(group))
        if build_jobs:
            m["registry.build_jobs"] = len(build_jobs)
        job_iv, task_iv, tasks = [], [], 0
        shuffle_w = shuffle_r = spill = peak = 0
        for jid in jobs:
            job = self._as_json(self._store.job(jid))
            if job.get("completionTime") is None:
                continue
            job_iv.append((job["submissionTime"], job["completionTime"]))
            tasks += job["numTasks"] - job["numSkippedTasks"]
            for sid in job["stageIds"]:
                try:
                    st = self._as_json(self._store.lastStageAttempt(sid))
                except py4j.protocol.Py4JJavaError:
                    continue  # skipped stages have no attempt
                if st.get("status") != "COMPLETE":
                    continue
                shuffle_w += st["shuffleWriteBytes"]
                shuffle_r += st["shuffleReadBytes"]
                spill += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                peak = max(peak, st["peakExecutionMemory"])
                if st.get("firstTaskLaunchedTime") and st.get("completionTime"):
                    task_iv.append((st["firstTaskLaunchedTime"], st["completionTime"]))
        if jobs:
            busy = _union_s(job_iv) / 1e3
            m.update(
                {
                    "exec.jobs": len(jobs),
                    "exec.s": busy,
                    "exec.tasks": tasks,
                    "exec.shuffle_write_bytes": shuffle_w,
                    "exec.shuffle_read_bytes": shuffle_r,
                    "exec.spill_bytes": spill,
                    "exec.peak_memory_bytes": peak,
                    "exec.task_wait_s": max(0.0, busy - _union_s(task_iv) / 1e3),
                }
            )
        end = self._count_executions(self._next_exec)
        for eid in range(self._next_exec, end):
            self._read_udf_nodes(eid, m)
        self._next_exec = end
        for df in op["dfs"]:
            phases = self._as_json(df._jdf.queryExecution().tracker().phases())
            for phase in ("analysis", "optimization", "planning"):
                if phase in phases:
                    p = phases[phase]
                    key = f"catalyst.{phase}_s"
                    m[key] = m.get(key, 0.0) + (p["endTimeMs"] - p["startTimeMs"]) / 1e3

    def _read_udf_nodes(self, eid: int, m: dict) -> None:
        nodes = [
            n
            for n in self._as_json(self._sql_store.planGraph(eid).allNodes())
            if n["name"] == "ArrowEvalPython"
        ]
        if not nodes:
            return
        values = self._as_json(self._sql_store.executionMetrics(eid))
        for node in nodes:
            for metric in node["metrics"]:
                v = values.get(str(metric["accumulatorId"]))
                if v is None:
                    continue
                if metric["name"] == "number of output rows":
                    m["embedding.udf_rows"] = m.get("embedding.udf_rows", 0) + int(v.replace(",", ""))
                elif metric["name"] == "time to run Python workers":
                    m["embedding.udf_s"] = m.get("embedding.udf_s", 0.0) + _duration_s(v)

    # -- results ----------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """Median per operation, over the operations that entered the
        layer; 0 for a layer the workload never entered."""
        out = {}
        for name in LAYER_UNITS:
            vals = [op["metrics"][name] for op in self.ops if name in op["metrics"]]
            out[name] = statistics.median(vals) if vals else 0
        return out

    def dump(self, path: str) -> None:
        """Write every span and operation record as JSON lines."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: v for k, v in s.items() if k != "calls0"}) + "\n")
            for op in self.ops:
                f.write(json.dumps({k: v for k, v in op.items() if k != "dfs"}, default=str) + "\n")
