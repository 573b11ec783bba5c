"""Bounded-frame lint for unpartitioned windows (VERDICT r8 #5).

A `Window` with an empty partitionSpec executes on ONE partition — a
single-partition funnel that is fine over a provably small frame
(a month table, a vocab rollup, a top-k limit) and a scale-killer over
a fact table (the r9 sweep of this lint caught scan_paginated ranking
the whole documents table through one partition). This test walks the
OPTIMIZED logical plan of every registered query and asserts each
unpartitioned Window sits on a bounded subtree:

- bounded inner nodes: Aggregate (key-cardinality frames: months,
  vocab, confusion cells, buckets), GlobalLimit / LocalLimit (top-k);
- bounded leaves: LocalRelation / OneRowRelation / Range (literal
  fixtures), LogicalRDD (driver-created bounded fixtures — every
  createDataFrame in this repo is a k-row literal or a collected
  bounded result, see the VERDICT r8 collect() audit);
- a Join is bounded when ANY child is bounded: an equi-join that
  preserves a limit/aggregate side emits O(bounded side) rows (the
  rag_context_budget posture: top-10 ranked hits joined to their
  texts). This admits a many-to-many key blow-up in principle; the
  oracle-parity gates bound that in practice.
- every other node (Project/Filter/Generate/Sort/Repartition/...)
  inherits: bounded iff all children are bounded.

New entries that ship an accidental single-partition window over a
raw scan fail here with the entry name.

The same walk checks that every ``rank <= k`` filter over a
partitioned row_number Window (knn.topk_per_key) reads a
WindowGroupLimit, so each map partition ships at most k rows per key.
Spark skips that limit when k reaches
spark.sql.optimizer.windowGroupLimitThreshold (1000 by default) or
when the Window computes anything besides rank functions. An
unpartitioned one must read a limit (Spark pushes ``LIMIT k`` below
it, a TakeOrderedAndProject).
"""

from __future__ import annotations

import re

import pytest

from rag_system_vector_db_spark.registry import QUERIES

BOUNDED_NODES = {"Aggregate", "GlobalLimit", "LocalLimit"}
BOUNDED_LEAVES = {"LocalRelation", "OneRowRelation", "LogicalRDD", "Range"}


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.length())]


def _bounded(node) -> bool:
    nm = _name(node)
    if nm in BOUNDED_NODES or nm in BOUNDED_LEAVES:
        return True
    kids = _children(node)
    if not kids:
        return False  # a raw relation leaf (parquet scan)
    if nm == "Join":
        return any(_bounded(k) for k in kids)
    return all(_bounded(k) for k in kids)


def _unbounded_unpartitioned_windows(node, out: list) -> None:
    if _name(node) == "Window" and node.partitionSpec().length() == 0:
        if not all(_bounded(k) for k in _children(node)):
            out.append(node.toString().splitlines()[0][:160])
    for k in _children(node):
        _unbounded_unpartitioned_windows(k, out)


def _unlimited_topk_filters(node, out: list) -> None:
    """Filters on a row_number rank whose Window reads no
    WindowGroupLimit (partitioned) or limit (unpartitioned)."""
    if _name(node) == "Filter" and _name(node.child()) == "Window":
        window, cond = node.child(), node.condition().toString()
        exprs = window.windowExpressions()
        ranks = [
            exprs.apply(i).toAttribute().toString()
            for i in range(exprs.length())
            if exprs.apply(i).toString().startswith("row_number()")
        ]
        if any(re.search(rf"\b{re.escape(r)} <=? ", cond) for r in ranks):
            limit = "WindowGroupLimit" if window.partitionSpec().length() else "GlobalLimit"
            if _name(window.child()) != limit:
                out.append(f"{cond} over {window.toString().splitlines()[0][:120]}")
    for k in _children(node):
        _unlimited_topk_filters(k, out)


@pytest.fixture(scope="module")
def optimized_plans(spark, sf_dir):
    return {
        name: fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        for name, fn in QUERIES.items()
    }


def test_every_unpartitioned_window_is_bounded(optimized_plans):
    offenders: dict[str, list] = {}
    for name, plan in optimized_plans.items():
        bad: list = []
        _unbounded_unpartitioned_windows(plan, bad)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "unpartitioned Window over an unbounded frame — repartition it, "
        "or derive the frame from an aggregate/limit: "
        f"{offenders}"
    )


def test_lint_flags_a_topk_past_the_limit_threshold(spark):
    ranked = spark.range(20).selectExpr("id % 2 AS g", "id").selectExpr(
        "*", "row_number() OVER (PARTITION BY g ORDER BY id) AS rank"
    )
    found = {}
    for k in (3, 1000):
        found[k] = []
        _unlimited_topk_filters(
            ranked.where(f"rank <= {k}")._jdf.queryExecution().optimizedPlan(), found[k]
        )
    assert found[3] == [] and len(found[1000]) == 1


def test_every_topk_filter_limits_before_the_exchange(optimized_plans):
    offenders: dict[str, list] = {}
    for name, plan in optimized_plans.items():
        bad: list = []
        _unlimited_topk_filters(plan, bad)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "a row_number top-k with no WindowGroupLimit ships every row "
        f"across the exchange: {offenders}"
    )
