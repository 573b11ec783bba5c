"""VectorCollection reads through one cached snapshot per log listing:
built once, shared by every read, rebuilt when the listing changes."""

from __future__ import annotations

import gc

import pytest
from pyspark import StorageLevel

from rag_system_vector_db_spark.operators import vector_store
from rag_system_vector_db_spark.operators.vector_store import VectorCollection


def _rows(spark, ids, tag):
    return spark.createDataFrame(
        [(i, f"{tag}-{i}", [1.0, float(i), 0.5, -1.0]) for i in ids],
        "id long, text string, vector array<double>",
    )


def _texts(df):
    return {r.id: r.text for r in df.collect()}


@pytest.fixture()
def coll(spark, tmp_path):
    c = VectorCollection.create(spark, str(tmp_path / "coll"), dimension=4)
    c.insert(_rows(spark, range(20), "v0"))
    return c


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_unchanged_log_resolves_once(coll, monkeypatch):
    calls = []
    real = vector_store.resolve_log
    monkeypatch.setattr(vector_store, "resolve_log", lambda *a: calls.append(1) or real(*a))
    first = coll.search([1.0, 0.0, 0.0, 0.0], limit=3).collect()
    second = coll.search([1.0, 0.0, 0.0, 0.0], limit=3).collect()
    coll.get_by_ids([1, 2]).collect()
    coll.stats()
    assert first == second and len(calls) == 1


def test_insert_is_seen_and_old_snapshot_unpersisted(coll, spark):
    old = coll.df()
    old.count()
    assert old.storageLevel != StorageLevel.NONE
    coll.insert(_rows(spark, [3, 99], "v1"))
    hits = [r.id for r in coll.search([1.0, 99.0, 0.5, -1.0], limit=1).collect()]
    assert hits == [99]
    assert _texts(coll.get_by_ids([3, 4, 99])) == {3: "v1-3", 4: "v0-4", 99: "v1-99"}
    assert old.storageLevel == StorageLevel.NONE
    assert coll.df() is not old and coll.stats()["rowCount"] == 21


def test_compact_keeps_the_resolved_view(coll, spark):
    coll.insert(_rows(spark, [0, 1], "v1"))
    before = sorted(coll.df().collect())
    coll.compact()
    assert sorted(coll.df().collect()) == before


def test_second_instance_append_is_seen(coll, spark):
    assert coll.stats()["rowCount"] == 20
    other = VectorCollection(spark, coll.path)
    other.insert(_rows(spark, [5, 20], "other"))
    assert coll.stats()["rowCount"] == 21
    assert _texts(coll.get_by_ids([5, 20])) == {5: "other-5", 20: "other-20"}


@pytest.mark.parametrize("read_between", [False, True])
def test_frame_built_before_insert_keeps_its_log_state(coll, spark, read_between):
    """As with an uncached read: a DataFrame reads the log as it stood
    when the DataFrame was built."""
    stale = coll.get_by_ids([1, 2])
    coll.insert(_rows(spark, [1, 2], "v1"))
    if read_between:  # the next read swaps in a new snapshot
        assert _texts(coll.get_by_ids([1])) == {1: "v1-1"}
    assert _texts(stale) == {1: "v0-1", 2: "v0-2"}


def test_inserts_keep_at_most_one_persisted_snapshot(spark, tmp_path):
    base = _persisted(spark)
    coll = VectorCollection.create(spark, str(tmp_path / "coll"), dimension=4)
    coll.insert(_rows(spark, range(20), "v0"))
    for i in range(20):
        coll.insert(_rows(spark, [100 + i], f"v{i}"))
        assert coll.stats()["rowCount"] == 21 + i
        assert _persisted(spark) <= base + 1
    del coll
    gc.collect()  # a dropped collection unpersists its snapshot
    assert _persisted(spark) <= base


def _operators(plan):
    """Class names of the executed operators, through adaptive plans and
    query stages; a cached relation's own plan is not descended into."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _operators(plan.executedPlan())
    inner = [plan.plan()] if name.endswith("QueryStageExec") else []
    children = plan.children()
    inner += [children.apply(i) for i in range(children.size())]
    return [name] + [n for p in inner for n in _operators(p)]


def test_warm_reads_scan_the_cache_only(coll):
    """One resolve serves many questions: on a warm, unchanged
    collection neither search nor get_by_ids shuffles or reads files."""
    coll.stats()
    for df in (coll.search([1.0, 0.0, 0.0, 0.0], limit=3), coll.get_by_ids([1, 2])):
        df.collect()
        ops = _operators(df._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScanExec" in ops, ops
        assert not [n for n in ops if "Exchange" in n or n == "FileSourceScanExec"], ops
