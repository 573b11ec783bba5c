"""Smoke tests for the benchmark: every workload on tiny inputs, with its
output checks, and the metric names and units each mode prints.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402

WORKLOADS = ("rag_serve", "ingest_batch", "headline_mix")


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=cwd,
    )


@pytest.fixture(scope="module", params=[0, 1], ids=["untraced", "traced"])
def smoke(request):
    out = _bench("--workload", "all", "--seed", "7", "--seconds", "1", "--trace", str(request.param), "--smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    results = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]
    return request.param, dict(zip(WORKLOADS, results)), out.stdout


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct_and_prints_every_metric(smoke, workload):
    trace, results, stdout = smoke
    res = results[workload]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, stdout
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench("--workload", "rag_serve", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert out.returncode != 0
    assert not any(line.startswith("{") for line in out.stdout.splitlines())


def test_inputs_follow_the_seed():
    a, pa_ = datagen.corpus(3, 400)
    b, pb = datagen.corpus(3, 400)
    c, _ = datagen.corpus(4, 400)
    assert a.equals(b) and pa_ == pb and not a.equals(c)
    assert datagen.star_tables(3, 0.001)["lineitem"].equals(datagen.star_tables(3, 0.001)["lineitem"])


def test_planted_pairs_share_an_lsh_band():
    table, planted = datagen.corpus(5, 400)
    texts = table.column("text").to_pylist()
    assert len(planted) == 20
    for src, copy in planted:
        assert texts[copy] == texts[src] + " dup"
        assert datagen.lsh_bands(texts[src]) & datagen.lsh_bands(texts[copy])


def test_topk_check_rejects_a_wrong_answer():
    import workloads

    rng = np.random.default_rng(0)
    mat = rng.standard_normal((50, 8)).astype(np.float32)
    ids = np.arange(50, dtype=np.int64)
    q = rng.standard_normal(8).astype(np.float32)
    scores = (mat @ q) / np.linalg.norm(mat, axis=1)
    best = [int(i) for i in np.argsort(-scores)[:5]]
    assert workloads._topk_ok(best, ids, mat, q, 5)
    assert not workloads._topk_ok(best[::-1], ids, mat, q, 5)
    assert not workloads._topk_ok(best[:4] + [best[0]], ids, mat, q, 5)
    assert not workloads._topk_ok(best[:4], ids, mat, q, 5)
