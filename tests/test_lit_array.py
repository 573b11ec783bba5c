"""Driver constants enter a plan one way: `functions.vector.lit_array`.

`F.lit(list)` and `F.array(*[F.lit(x) ...])` make one py4j round trip
per scalar, so a 64-d query vector or an 8x64 plane matrix cost
hundreds of calls to build. `lit_array` renders the whole constant as
one SQL literal. These tests pin its equivalence with `F.lit` (type,
nullability, value), its constant call count, and an AST lint that
keeps the per-element spellings out of the package and the tools.
"""

from __future__ import annotations

import ast
import contextlib
import math
import pathlib

import numpy as np
import py4j.java_gateway
import py4j.protocol
import pytest
from pyspark.sql import functions as F

from rag_system_vector_db_spark.functions.vector import lit_array
from rag_system_vector_db_spark.operators.vector_store import VectorCollection
from rag_system_vector_db_spark.registry import QUERIES

ROOT = pathlib.Path(__file__).resolve().parents[1]
LINTED = [ROOT / "rag_system_vector_db_spark", ROOT / "tools"]

_RELEASE = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME


@contextlib.contextmanager
def py4j_calls():
    """Count py4j commands sent inside the block, leaving out the
    releases of collected proxies (their timing follows the Python GC)."""
    n = [0]
    send = py4j.java_gateway.GatewayClient.send_command

    def counted(client, command, *args, **kwargs):
        if not command.startswith(_RELEASE):
            n[0] += 1
        return send(client, command, *args, **kwargs)

    py4j.java_gateway.GatewayClient.send_command = counted
    try:
        yield n
    finally:
        py4j.java_gateway.GatewayClient.send_command = send


CASES = [
    1.5,
    -0.0,
    0.1,
    1e-300,
    5e-324,
    float("nan"),
    float("inf"),
    float("-inf"),
    7,
    -2**31,
    2**31,
    -(2**40),
    True,
    "it's",
    "back\\slash \\' and ${system:user.name}",
    np.float64(0.1),
    np.float32(0.1),
    np.int64(5),
    np.int32(-7),
    np.int16(3),
    np.int8(-128),
    [1, 2**40],
    [0.25, float("nan"), -0.0, float("inf")],
    ["a", "b'c", "d\\e"],
    [[1.0, 2.0], [3.5, -0.0]],
    [[[1.0], [2.0]], [[3.0], [float("-inf")]]],
    [np.float64(1.0), np.float64(-2.5)],
]


def _same(a, b) -> bool:
    if isinstance(a, list):
        return isinstance(b, list) and len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, float):
        return math.isnan(a) and math.isnan(b) or (a == b and math.copysign(1, a) == math.copysign(1, b))
    return type(a) is type(b) and a == b


@pytest.mark.parametrize("value", CASES, ids=repr)
def test_lit_array_matches_f_lit(spark, value):
    # F.lit casts a numpy scalar to its dtype; a list of them goes through F.array
    if isinstance(value, list) and isinstance(value[0], np.generic):
        ref = F.array(*[F.lit(v) for v in value])
    else:
        ref = F.lit(value)
    a = spark.range(1).select(ref.alias("v"))
    b = spark.range(1).select(lit_array(value).alias("v"))
    assert a.schema == b.schema  # StructField equality includes nullability
    assert _same(a.first()["v"], b.first()["v"])


def test_lit_array_call_count_is_constant(spark):
    small = [0.5] * 8
    big = [[float(i * 384 + j) / 7 for j in range(384)] for i in range(64)]
    lit_array([0.0])  # warm-up: one-time JVM lookups stay out of the counts
    with py4j_calls() as n_small:
        lit_array(small)
    with py4j_calls() as n_big:
        lit_array(big)
    assert n_small[0] == n_big[0]


def test_search_build_calls_do_not_grow_with_dim(spark, tmp_path):
    """Also caps the count: the vector math is one SQL string per use,
    not a tree of Python-lambda Column nodes (~420 calls)."""
    calls = {}
    for dim in (8, 384):
        col = VectorCollection.create(spark, str(tmp_path / f"d{dim}"), dimension=dim)
        col.insert(spark.createDataFrame([(1, [0.5] * dim)], "id long, vector array<float>"))
        col.search([0.25] * dim, limit=1)  # warm-up, as above
        with py4j_calls() as n:
            col.search([0.25] * dim, limit=1)
        calls[dim] = n[0]
    assert calls[8] == calls[384] <= 40, calls


@pytest.mark.parametrize("name, cap", [("dedup_minhash_lsh", 200), ("chunk_documents", 40)])
def test_ingest_build_calls_are_capped(spark, sf_dir, name, cap):
    """The ingest_batch builds are SQL text: a Column-API tree costs
    ~5 py4j calls per node (1,348 and 305 calls before)."""
    QUERIES[name](spark, sf_dir)  # warm-up, as above
    with py4j_calls() as n:
        QUERIES[name](spark, sf_dir)
    assert n[0] <= cap, n[0]


def _is_lit(node) -> bool:
    f = node.func if isinstance(node, ast.Call) else None
    return (isinstance(f, ast.Attribute) and f.attr == "lit") or (
        isinstance(f, ast.Name) and f.id == "lit"
    )


def _is_lit_chain(node) -> bool:
    """F.lit(...), possibly followed by method calls: F.lit(x).cast("long")."""
    while isinstance(node, ast.Call) and not _is_lit(node) and isinstance(node.func, ast.Attribute):
        node = node.func.value
    return _is_lit(node)


_SEQ = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp)


def _offences(tree: ast.AST):
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        if _is_lit(node) and node.args and isinstance(node.args[0], _SEQ):
            yield node.lineno, "F.lit(<list>)"
        f = node.func
        if isinstance(f, ast.Attribute) and f.attr == "array" and node.args:
            elts = [
                a.value.elt
                if isinstance(a, ast.Starred) and isinstance(a.value, (ast.ListComp, ast.GeneratorExp))
                else a
                for a in node.args
            ]
            if all(_is_lit_chain(e) for e in elts):
                yield node.lineno, "F.array(F.lit(x), ...)"


def test_lint_flags_both_spellings():
    src = [
        "F.lit([1, 2])",
        "F.lit([x for x in v])",
        "F.array(*[F.lit(x).cast('long') for x in v])",
        "F.array(F.lit('a'), F.lit('b'))",
    ]
    found = [k for _, k in _offences(ast.parse("\n".join(src)))]
    assert found == ["F.lit(<list>)"] * 2 + ["F.array(F.lit(x), ...)"] * 2
    ok = "F.lit(1)\nF.array(*[F.col(c) for c in cs])\nF.array(*[F.struct(F.lit(i), c) for i in v])\n"
    assert not list(_offences(ast.parse(ok)))


def test_no_per_element_literals():
    found = [
        f"{p.relative_to(ROOT)}:{line}: {kind}"
        for d in LINTED
        for p in sorted(d.rglob("*.py"))
        for line, kind in _offences(ast.parse(p.read_text(), str(p)))
    ]
    assert not found, "use functions.vector.lit_array for driver constants:\n" + "\n".join(found)
